"""ExampleGen sink layout: zstd parquet, rows clustered by column within
each task, and output bytes that do not change from run to run."""

import datetime as dt
import glob
import hashlib
import os

import pyarrow.parquet as pq

from tfx_addons_feast_examplegen_spark.functions.tfexample import decode_example
from tfx_addons_feast_examplegen_spark.registry import testdata_registry as _registry
from tfx_addons_feast_examplegen_spark.session import register_tables
from tfx_addons_feast_examplegen_spark.sources.examplegen import (
    FORMAT_PARQUET,
    FORMAT_TF_EXAMPLE,
    _cluster,
    generate_examples,
)
from tfx_addons_feast_examplegen_spark.sources.tfrecord import read_tfrecords

# nation ties across customers, so the order has to look past the lead
# column; customers without events give NULL features.
_QUERY = """
    SELECT c_nationkey AS nation, c_custkey AS user_id,
           @snapshot AS event_timestamp
    FROM customer
"""
_FEATURES = ["user_events:value", "user_events:event_type"]


def _run(spark, sf_dir, output_dir, output_format):
    register_tables(spark, sf_dir)
    return generate_examples(
        spark,
        registry=_registry(),
        entity_query=_QUERY,
        features=_FEATURES,
        sf_dir=sf_dir,
        output_dir=output_dir,
        params={"snapshot": dt.datetime(2024, 1, 15)},
        output_format=output_format,
    )


def _in_order(rows):
    """Rows in Spark's ascending order, nulls first."""
    keys = [tuple((v is not None, v) for v in r) for r in rows]
    return keys == sorted(keys)


def _split_digests(out_dir, pattern):
    """split dir -> sorted sha256 of its data files (names ignored)."""
    got = {}
    for f in glob.glob(os.path.join(out_dir, pattern)):
        with open(f, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()
        got.setdefault(os.path.basename(os.path.dirname(f)), []).append(digest)
    return {k: sorted(v) for k, v in got.items()}


def test_parquet_sink_is_zstd_clustered_and_repeatable(spark, sf_dir, tmp_path):
    cols = [c for c in _run(spark, sf_dir, None, FORMAT_PARQUET).columns
            if c != "split"]
    runs = []
    for i in range(2):
        out = str(tmp_path / f"pq{i}")
        _run(spark, sf_dir, out, FORMAT_PARQUET)
        files = glob.glob(os.path.join(out, "split=*", "*.parquet"))
        assert files
        n = 0
        for f in files:
            meta = pq.read_metadata(f)
            assert {
                meta.row_group(g).column(c).compression
                for g in range(meta.num_row_groups)
                for c in range(meta.num_columns)
            } == {"ZSTD"}, f
            table = pq.read_table(f)
            assert table.column_names == cols
            rows = list(zip(*(table.column(c).to_pylist() for c in cols)))
            assert _in_order(rows), f
            n += len(rows)
        assert n == 150
        runs.append(_split_digests(out, "split=*/*.parquet"))
    assert set(runs[0]) == {"split=train", "split=eval"}
    assert runs[0] == runs[1]


def test_tfrecord_shards_clustered_and_repeatable(spark, sf_dir, tmp_path):
    cols = [c for c in _run(spark, sf_dir, None, FORMAT_TF_EXAMPLE).columns
            if c != "split"]
    assert cols[:2] == ["nation", "user_id"]
    runs = []
    for i in range(2):
        out = str(tmp_path / f"tf{i}")
        _run(spark, sf_dir, out, FORMAT_TF_EXAMPLE)
        files = glob.glob(os.path.join(out, "Split-*", "*.tfrecord.gz"))
        assert files
        n = 0
        for f in files:
            recs = [decode_example(r) for r in read_tfrecords(f)]
            # (nation, user_id) is unique and decodes exactly, so it
            # fixes the order of the whole record
            rows = [(r["nation"][0], r["user_id"][0]) for r in recs]
            assert _in_order(rows), f
            n += len(rows)
        assert n == 150
        runs.append(_split_digests(out, "Split-*/*.tfrecord.gz"))
    assert set(runs[0]) == {"Split-train", "Split-eval"}
    assert runs[0] == runs[1]


def _exchanges(df):
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def test_cluster_adds_no_exchange(spark, sf_dir):
    out = _run(spark, sf_dir, None, FORMAT_PARQUET)
    clustered = _cluster(out, "split")
    assert _exchanges(out) > 0
    assert _exchanges(clustered) == _exchanges(out)


def test_orderable_skips_maps_and_variants_at_any_depth():
    from pyspark.sql.types import (
        ArrayType,
        CalendarIntervalType,
        IntegerType,
        MapType,
        StringType,
        StructField,
        StructType,
        VariantType,
    )

    from tfx_addons_feast_examplegen_spark.sources.examplegen import _orderable

    m = MapType(StringType(), IntegerType())
    for dt_ in (IntegerType(), ArrayType(StringType()),
                StructType([StructField("x", ArrayType(IntegerType()))])):
        assert _orderable(dt_), dt_
    for dt_ in (m, VariantType(), CalendarIntervalType(), ArrayType(m),
                StructType([StructField("x", IntegerType()),
                            StructField("y", ArrayType(VariantType()))])):
        assert not _orderable(dt_), dt_


def test_cluster_sorts_lead_then_orderable_columns(spark):
    df = spark.createDataFrame(
        [({"k": 1}, 2, "y", 1), ({"k": 0}, 1, "y", 2), ({"k": 2}, 1, "x", 3)],
        "m map<string,int>, a int, `b.c` string, id int",
    )
    got = [r["id"] for r in _cluster(df.coalesce(1), "b.c").collect()]
    assert got == [3, 2, 1]
