"""ExampleGen sink layout: zstd parquet with INT64 timestamps and v2
data pages, rows sorted within each file, output bytes (and TFRecord file
names) that change neither from run to run nor with the shuffle partition
count, and one shuffle from the join to the TFRecord file."""

import datetime as dt
import glob
import hashlib
import json
import os

import pyarrow.parquet as pq
import pytest

from tfx_addons_feast_examplegen_spark.functions.tfexample import decode_example
from tfx_addons_feast_examplegen_spark.operators.split import hash_split
from tfx_addons_feast_examplegen_spark.registry import testdata_registry as _registry
from tfx_addons_feast_examplegen_spark.session import register_tables
from tfx_addons_feast_examplegen_spark.sources import examplegen
from tfx_addons_feast_examplegen_spark.sources.examplegen import (
    FORMAT_PARQUET,
    FORMAT_TF_EXAMPLE,
    _cluster,
    _shard,
    encode_examples,
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


def _read_back_matches(spark, frame, out):
    """The written files read back through Spark equal ``frame``, with
    the vectorized parquet reader on and off."""
    key = "spark.sql.parquet.enableVectorizedReader"
    before = spark.conf.get(key)
    try:
        for vectorized in ("true", "false"):
            spark.conf.set(key, vectorized)
            back = spark.read.parquet(out).select(*frame.columns)
            assert back.exceptAll(frame).count() == 0, vectorized
            assert frame.exceptAll(back).count() == 0, vectorized
    finally:
        spark.conf.set(key, before)


def test_parquet_sink_is_zstd_clustered_and_repeatable(spark, sf_dir, tmp_path):
    cols = [c for c in _run(spark, sf_dir, None, FORMAT_PARQUET).columns
            if c != "split"]
    runs = []
    for i in range(2):
        out = str(tmp_path / f"pq{i}")
        frame = _run(spark, sf_dir, out, FORMAT_PARQUET)
        files = glob.glob(os.path.join(out, "split=*", "*.parquet"))
        assert files
        n = 0
        delta_int64 = False
        for f in files:
            meta = pq.read_metadata(f)
            chunks = [
                meta.row_group(g).column(c)
                for g in range(meta.num_row_groups)
                for c in range(meta.num_columns)
            ]
            assert {ch.compression for ch in chunks} == {"ZSTD"}, f
            # INT64 micros, not legacy INT96, and tz-aware when read back
            ts = meta.schema.column(cols.index("event_timestamp"))
            assert ts.physical_type == "INT64", f
            lt = json.loads(ts.logical_type.to_json())
            assert (lt["Type"], lt["timeUnit"], lt["isAdjustedToUTC"]) == (
                "Timestamp", "microseconds", True), f
            # v2 data pages: delta encoding where a dictionary does not pay
            delta_int64 |= any(
                ch.physical_type == "INT64" and "DELTA_BINARY_PACKED" in ch.encodings
                for ch in chunks
            )
            table = pq.read_table(f)
            assert table.column_names == cols
            rows = list(zip(*(table.column(c).to_pylist() for c in cols)))
            assert _in_order(rows), f
            n += len(rows)
        assert n == 150
        assert delta_int64
        _read_back_matches(spark, frame, out)
        runs.append(_split_digests(out, "split=*/*.parquet"))
    assert set(runs[0]) == {"split=train", "split=eval"}
    assert runs[0] == runs[1]


def test_tfrecord_shards_clustered_and_repeatable(spark, sf_dir, tmp_path):
    runs = []
    for i in range(2):
        out = str(tmp_path / f"tf{i}")
        _run(spark, sf_dir, out, FORMAT_TF_EXAMPLE)
        files = glob.glob(os.path.join(out, "Split-*", "*.tfrecord.gz"))
        assert files
        n = 0
        for f in files:
            recs = list(read_tfrecords(f))
            # the sink sorts each shard by its record bytes
            assert recs == sorted(recs), f
            # (nation, user_id) is unique, so no two records are equal
            keys = {(r["nation"][0], r["user_id"][0])
                    for r in map(decode_example, recs)}
            assert len(keys) == len(recs), f
            n += len(recs)
        assert n == 150
        runs.append(_split_digests(out, "Split-*/*.tfrecord.gz"))
    assert set(runs[0]) == {"Split-train", "Split-eval"}
    assert runs[0] == runs[1]


@pytest.mark.parametrize("shards", [1, 3])
def test_sink_bytes_do_not_depend_on_shuffle_partitions(
    spark, sf_dir, tmp_path, monkeypatch, shards
):
    register_tables(spark, sf_dir)
    entity = spark.table("customer")  # the only table _QUERY reads
    if shards > 1:
        # the fixture is far below one shard's input bytes: shrink the
        # shard so the entity input spans exactly ``shards`` of them
        monkeypatch.setattr(examplegen, "_SHARD_BYTES", 1)
        size = examplegen._shard_count(entity)
        monkeypatch.setattr(examplegen, "_SHARD_BYTES", -(-size // shards))
    assert examplegen._shard_count(entity) == shards
    key = "spark.sql.shuffle.partitions"
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    before = {k: spark.conf.get(k) for k in (key, coalesce)}
    layouts = (
        (FORMAT_PARQUET, "split=*/*.parquet"),
        (FORMAT_TF_EXAMPLE, "Split-*/*.tfrecord.gz"),
    )
    got = {}
    names = {}
    try:
        # uncoalesced, a sink that followed the partition count would
        # write one file per partition
        spark.conf.set(coalesce, "false")
        for parts in ("2", "4"):
            spark.conf.set(key, parts)
            for fmt, pattern in layouts:
                out = str(tmp_path / f"{fmt}-{parts}")
                _run(spark, sf_dir, out, fmt)
                got[fmt, parts] = _split_digests(out, pattern)
            out = str(tmp_path / f"{FORMAT_TF_EXAMPLE}-{parts}")
            names[parts] = sorted(
                f"{d}/{f}"
                for d in os.listdir(out)
                for f in os.listdir(os.path.join(out, d))
            )
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    for fmt, _ in layouts:
        digests = got[fmt, "2"]
        assert len(digests) == 2, digests
        # one file per split per shard: 150 rows leave no shard empty
        assert all(len(files) == shards for files in digests.values()), digests
        assert got[fmt, "4"] == digests, fmt
    # TFRecord files are named by shard (parquet names carry a job
    # uuid), and no temp file is left
    assert names["4"] == names["2"] == sorted(
        f"Split-{s}/part-{i:05d}.tfrecord.gz"
        for s in ("eval", "train") for i in range(shards)
    )


def test_shard_count_sums_input_file_sizes(spark, tmp_path, monkeypatch):
    # inputFiles() gives percent-encoded URIs ("a b" -> "a%20b")
    out = str(tmp_path / "a b")
    spark.range(1000).repartition(3).write.parquet(out)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) == 3
    monkeypatch.setattr(examplegen, "_SHARD_BYTES", 1)
    df = spark.read.parquet(out)
    assert examplegen._shard_count(df) == sum(map(os.path.getsize, files))
    assert examplegen._shard_count(spark.range(3)) == 1  # no input files


def _exchanges(df):
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def test_cluster_adds_no_exchange(spark, sf_dir):
    out = _run(spark, sf_dir, None, FORMAT_PARQUET)
    clustered = _cluster(out, "split")
    assert _exchanges(out) > 0
    assert _exchanges(clustered) == _exchanges(out)


def test_shard_adds_one_exchange(spark, sf_dir):
    out = _run(spark, sf_dir, None, FORMAT_PARQUET)
    cols = [c for c in out.columns if c != "split"]
    assert _exchanges(_shard(out, cols, 2)) == _exchanges(out) + 1


def test_tfrecord_sink_adds_only_the_shard_exchange(spark, sf_dir):
    # the encode runs where the join leaves its rows: from the join to
    # the TFRecord file, the shard is the only shuffle
    features = _run(spark, sf_dir, None, FORMAT_PARQUET).drop("split")
    encoded = hash_split(encode_examples(features), ["example"])
    assert _exchanges(encoded) == _exchanges(features)
    assert _exchanges(_shard(encoded, ["example"], 2)) == _exchanges(features) + 1


def test_tfrecord_sink_under_a_unit_suffixed_max_partition_bytes(
    spark, sf_dir, tmp_path
):
    # "64m" is a valid size for this conf; the sink must not parse it
    # as a plain byte count
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    out = str(tmp_path / "tf")
    try:
        spark.conf.set(key, "64m")
        _run(spark, sf_dir, out, FORMAT_TF_EXAMPLE)
    finally:
        spark.conf.set(key, before)
    n = sum(1 for f in glob.glob(os.path.join(out, "Split-*", "*.tfrecord.gz"))
            for _ in read_tfrecords(f))
    assert n == 150


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
