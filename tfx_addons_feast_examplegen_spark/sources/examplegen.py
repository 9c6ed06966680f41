"""End-to-end ExampleGen pipeline: the engine's public facade.

The complete reference chain, Spark-first: entity SQL (S1) -> point-in-time
feature join (J1-J6) -> optional range/span param substitution (D2) ->
output-format dispatch (S9) -> tf.Example encode (S7) -> deterministic
hash split (D1) -> TFRecord or parquet sink (S6) under ``Split-{name}/``.

A user of the reference calls::

    FeastExampleGen(repo_config=..., entity_query=sql, features=[...])

The engine equivalent::

    generate_examples(spark, registry=reg, entity_query=sql,
                      features=[...], sf_dir=..., output_dir=...)

Encoding runs in ``mapInPandas`` (Arrow-batched; the per-row proto encode
is the same per-row map the reference runs in ``beam.Map`` at
``executor.py:156-160``, but batched). Everything upstream of the encode
is pure DataFrame — Catalyst-optimized, shuffle-minimal.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    CalendarIntervalType,
    DataType,
    MapType,
    StructType,
    VariantType,
)

from ..functions.tfexample import encode_example, encode_sequence_example
from ..operators.pit_join import materialize_features
from ..operators.split import hash_split
from ..registry import Registry, RegistryError
from .tfrecord import write_partitioned_tfrecords

# Output-format enum, mirroring the reference's dispatch values
# (executor.py:142-153: FORMAT_TF_EXAMPLE / FORMAT_TF_SEQUENCE_EXAMPLE).
FORMAT_TF_EXAMPLE = "tf_example"
FORMAT_TF_SEQUENCE_EXAMPLE = "tf_sequence_example"  # reference parity: raises
FORMAT_TF_SEQUENCE_EXAMPLE_FULL = "tf_sequence_example_full"  # working impl
FORMAT_PARQUET = "parquet"  # engine-native default (no proto roundtrip)


# A quoted SQL literal or identifier (skipped whole), or an @name token.
# '' inside a literal lexes as two adjacent literals, which is still inside
# quotes.
_PARAM_TOKEN = re.compile(
    r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|`[^`]*`|@(\w+)"
)


def substitute_params(query: str, params: dict[str, Any] | None) -> str:
    """Span/range bind-parameter substitution (SURVEY.md D2).

    The reference's TFX driver substitutes ``@begin_timestamp`` /
    ``@end_timestamp`` tokens into the entity query per ``range_config``
    (``usage_prototype.py:46-48``). Same contract: each whole ``@name``
    token outside quotes whose name is in ``params`` is replaced with a
    SQL literal (strings quoted, ``None`` as ``NULL``, datetimes to the
    microsecond, others verbatim). A longer token (``@begin_tsx``) and
    text inside a quoted literal or identifier are left alone.
    """
    if not params:
        return query

    def _sub(m: re.Match) -> str:
        name = m.group(1)
        if name is None or name not in params:
            return m.group(0)
        return _sql_literal(params[name])

    return _PARAM_TOKEN.sub(_sub, query)


def _sql_literal(value: Any) -> str:
    import datetime as dt

    if value is None:
        return "NULL"
    if isinstance(value, dt.datetime):
        # isoformat omits a zero microsecond part; an aware value
        # renders its wall clock, without the zone
        ts = value.replace(tzinfo=None).isoformat(sep=" ")
        return f"TIMESTAMP '{ts}'"
    if isinstance(value, dt.date):
        return f"DATE '{value.isoformat()}'"
    if isinstance(value, str):
        return "'" + value.replace("'", "''") + "'"
    return str(value)


def route_split_patterns(
    spark: SparkSession, patterns: dict[str, str]
) -> DataFrame:
    """Split-pattern routing (SURVEY.md D3): each input split's pattern is
    its own entity query; one pipeline branch per split, unioned with a
    ``split`` label column (the reference's base executor fans out one
    Beam branch per split at ``executor.py:186-188``).

    All branch queries must produce union-compatible schemas.
    """
    branches = []
    for name, q in patterns.items():
        branches.append(spark.sql(q).withColumn("split", F.lit(name)))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _orderable(dt: DataType) -> bool:
    """Whether Spark can sort on ``dt``: not a map, variant or calendar
    interval, nor an array or struct holding one."""
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return not isinstance(dt, (MapType, VariantType, CalendarIntervalType))


def _cluster(df: DataFrame, *lead: str) -> DataFrame:
    """Sort each partition by ``lead``, then by every orderable column in
    frame order.

    A local sort, no shuffle. Sorted runs of keys and timestamps compress
    far better in columnar and gzipped output. When every column is
    orderable the order is total, so a file's bytes depend only on which
    rows it holds, not on the order the upstream shuffles delivered them in.
    """
    rest = [
        f.name for f in df.schema.fields
        if f.name not in lead and _orderable(f.dataType)
    ]
    return df.sortWithinPartitions(
        *[F.col("`" + c.replace("`", "``") + "`") for c in (*lead, *rest)]
    )


def encode_examples(df: DataFrame) -> DataFrame:
    """DataFrame -> one binary column ``example`` of serialized tf.Example
    bytes.

    Arrow-batched ``mapInPandas``; per-batch Python loop only at this
    terminal stage (parity with the reference's beam.Map encode).

    A narrow input (e.g. one small parquet file scanning as a single
    split) is round-robin repartitioned by ``rebalance_for_compute``
    BEFORE the per-row proto encode, so the Python-side CPU work that
    dominates this stage spreads across the cluster instead of
    serializing onto one core (file-size split estimate, no plan->RDD
    probe; at production scale the scan already splits wider and it is
    a no-op). Each task then sorts its rows by every orderable column in
    frame order (``_cluster``), so records come out in column order
    within each task, not in the input order; gzipped shards of sorted
    records are smaller. Record bytes do not depend on the order, and
    splits hash the serialized bytes.
    """
    from ..session import rebalance_for_compute

    df = _cluster(rebalance_for_compute(df))
    names = df.columns

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [
                encode_example(
                    {n: _py(v) for n, v in zip(names, row)}
                )
                for row in pdf.itertuples(index=False, name=None)
            ]
            yield pd.DataFrame({"example": recs})

    return df.mapInPandas(_encode, schema="example binary")


def encode_sequence_examples(
    df: DataFrame,
    *,
    key_cols: list[str],
    order_col: str,
    sequence_cols: list[str],
    context_cols: list[str] | None = None,
    bytes_col: str = "sequence_example",
) -> DataFrame:
    """Beyond-parity S8: rows -> per-key tf.SequenceExample bytes.

    Groups rows by ``key_cols``, orders each group by ``order_col``
    (sequence time), packs ``sequence_cols`` as per-step feature lists and
    the keys (+ optional ``context_cols``, taken from the first step) as
    context features. The grouping/ordering runs as a native
    ``sort_array(collect_list(struct(...)))`` aggregate — one shuffle on
    the key — and only the terminal proto encode is Python (mapInPandas).
    """
    from ..functions.tfexample import encode_sequence_example_full

    context_cols = context_cols or []
    step = F.struct(
        F.col(order_col).alias("__ord"),
        *[F.col(c).alias(c) for c in sequence_cols],
        *[F.col(c).alias(c) for c in context_cols],
    )
    grouped = df.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(step)).alias("__steps")
    )
    names = key_cols + ["__steps"]

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False, name=None):
                rec = dict(zip(names, row))
                steps = rec["__steps"]
                context = {k: _py(rec[k]) for k in key_cols}
                for c in context_cols:
                    context[c] = _py(steps[0][c]) if len(steps) else None
                fls = {
                    c: [_py(s[c]) for s in steps] for c in sequence_cols
                }
                out.append(encode_sequence_example_full(context, fls))
            yield pd.DataFrame({bytes_col: out})

    return grouped.mapInPandas(_encode, schema=f"{bytes_col} binary")


def _py(v: Any) -> Any:
    """numpy/pandas scalar -> plain Python for the codec."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and pd.isna(v):
        return None
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return [_py(x) for x in v]
    return v


def generate_examples(
    spark: SparkSession,
    *,
    registry: Registry,
    entity_query: str,
    features: list[str] | str,
    sf_dir: str,
    output_dir: str | None = None,
    entity_ts_col: str = "event_timestamp",
    params: dict[str, Any] | None = None,
    splits: list[tuple[str, int]] | None = None,
    split_keys: list[str] | None = None,
    output_format: str = FORMAT_PARQUET,
    seed: int = 42,
    emit_artifacts: bool = False,
    sequence_config: dict | None = None,
) -> DataFrame:
    """Run the full ExampleGen chain; returns the split-annotated DataFrame
    that was (or would be) written — feature rows for ``FORMAT_PARQUET`` /
    no ``output_dir``, encoded bytes rows for the TFRecord formats (whose
    split is the hash of the serialized record, matching the files on
    disk).

    When ``output_dir`` is set the result is also written out:
    ``FORMAT_PARQUET`` -> zstd parquet partitioned by split, each file's
    rows sorted by every orderable column in frame order (the returned
    frame is not sorted);
    ``FORMAT_TF_EXAMPLE`` -> gzipped TFRecords under ``Split-{name}/``;
    ``FORMAT_TF_SEQUENCE_EXAMPLE`` -> NotImplementedError (reference
    parity: converters.py:55-57);
    ``FORMAT_TF_SEQUENCE_EXAMPLE_FULL`` (beyond-parity) -> per-key
    SequenceExample TFRecords, configured by ``sequence_config`` =
    ``{"key_cols": [...], "order_col": ..., "sequence_cols": [...]}``;
    anything else -> RegistryError (executor.py:150-153 rejects unknown
    formats).
    """
    if output_format == FORMAT_TF_SEQUENCE_EXAMPLE:
        encode_sequence_example({})  # raises NotImplementedError (S8)
    if output_format not in (
        FORMAT_TF_EXAMPLE,
        FORMAT_PARQUET,
        FORMAT_TF_SEQUENCE_EXAMPLE_FULL,
    ):
        raise RegistryError(f"unsupported output format: {output_format!r}")
    if output_format == FORMAT_TF_SEQUENCE_EXAMPLE_FULL and not sequence_config:
        raise RegistryError(
            "tf_sequence_example_full requires sequence_config="
            "{'key_cols', 'order_col', 'sequence_cols'}"
        )

    query = substitute_params(entity_query, params)
    df = materialize_features(
        spark,
        entity_query=query,
        features=features,
        registry=registry,
        sf_dir=sf_dir,
        entity_ts_col=entity_ts_col,
    )

    keys = split_keys or df.columns
    out = hash_split(df, keys, splits, seed=seed)

    if output_dir:
        if output_format == FORMAT_PARQUET:
            # Clustering on split first also meets partitionBy's ordering,
            # so the writer adds no sort of its own; zstd on this writer
            # only, not session-wide.
            (
                _cluster(out, "split")
                .write.mode("overwrite")
                .option("compression", "zstd")
                .partitionBy("split")
                .parquet(output_dir)
            )
        elif output_format == FORMAT_TF_SEQUENCE_EXAMPLE_FULL:
            seqs = encode_sequence_examples(
                df,
                key_cols=list(sequence_config["key_cols"]),
                order_col=sequence_config["order_col"],
                sequence_cols=list(sequence_config["sequence_cols"]),
                context_cols=list(sequence_config.get("context_cols", [])),
            )
            encoded = hash_split(seqs, ["sequence_example"], splits, seed=seed)
            write_partitioned_tfrecords(
                encoded,
                output_dir,
                bytes_col="sequence_example",
                split_col="split",
            )
            # The TFRecord formats split on the serialized bytes, so the
            # frame actually written — not `out` — carries the on-disk
            # split assignment; return it to keep the contract honest.
            out = encoded
        else:
            # The reference's base executor buckets on the hash of the
            # serialized record (D1); encode first, split on the bytes.
            encoded = hash_split(
                encode_examples(df), ["example"], splits, seed=seed
            )
            write_partitioned_tfrecords(
                encoded, output_dir, bytes_col="example", split_col="split"
            )
            out = encoded
        if emit_artifacts:
            # The reference's usage sketch declares statistics + schema
            # outputs (usage_prototype.py:60-61, commented out — A3/A4).
            # Written AFTER the data sink: mode("overwrite") clears the
            # output directory.
            import json as _json
            import os as _os

            from ..operators.stats import column_stats, schema_artifact

            _os.makedirs(output_dir, exist_ok=True)
            stats_rows = [r.asDict() for r in column_stats(df).collect()]
            with open(_os.path.join(output_dir, "statistics.json"), "w") as f:
                _json.dump(stats_rows, f, indent=2, default=str)
            with open(_os.path.join(output_dir, "schema.json"), "w") as f:
                f.write(schema_artifact(df))
    return out
