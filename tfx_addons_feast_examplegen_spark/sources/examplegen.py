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

Encoding runs in ``mapInArrow``: each Arrow batch becomes plain Python
rows (``RecordBatch.to_pylist``), so an int64 column stays int even when
it holds a null, and the per-row proto encode is the same per-row map the
reference runs in ``beam.Map`` at ``executor.py:156-160``, but batched.
Everything upstream of the encode is pure DataFrame — Catalyst-optimized,
shuffle-minimal.

Both sinks write through ``_shard``: one hash shuffle into
``ceil(entity query input bytes / 128 MiB)`` shards, never a count taken
from the cores or ``spark.sql.shuffle.partitions``, then a sort of each
shard by split and every orderable column. Each shard writes one file
per split it holds, and a file's bytes (a TFRecord file's name too)
depend only on the input, not on the host. The tf.Example encode adds
no shuffle of its own, so ``_shard``'s is the only one between the join
and the file.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator
from typing import Any

import pyarrow as pa
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
    microsecond, an aware one as its UTC instant with the offset, numbers
    verbatim). A longer token (``@begin_tsx``) and text inside a quoted
    literal or identifier are left alone. A value with no SQL literal
    form (a list, dict, bytes or non-finite float) raises
    :class:`RegistryError` naming the parameter.
    """
    if not params:
        return query

    def _sub(m: re.Match) -> str:
        name = m.group(1)
        if name is None or name not in params:
            return m.group(0)
        return _sql_literal(name, params[name])

    return _PARAM_TOKEN.sub(_sub, query)


def _sql_literal(name: str, value: Any) -> str:
    import datetime as dt
    import math
    from decimal import Decimal

    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int) or (
        isinstance(value, (float, Decimal)) and math.isfinite(value)
    ):
        return str(value)
    if isinstance(value, dt.datetime):
        # isoformat omits a zero microsecond part. An aware value renders
        # as its UTC instant with the offset, which Spark reads as that
        # instant whatever the session time zone; a naive one renders as
        # its wall clock, read in the session time zone.
        if value.utcoffset() is not None:
            value = value.astimezone(dt.timezone.utc)
        return f"TIMESTAMP '{value.isoformat(sep=' ')}'"
    if isinstance(value, dt.date):
        return f"DATE '{value.isoformat()}'"
    if isinstance(value, str):
        return "'" + value.replace("'", "''") + "'"
    raise RegistryError(
        f"parameter @{name}: {type(value).__name__} value {value!r} has no "
        "SQL literal (expected None, bool, int, finite float, Decimal, str, "
        "date or datetime)"
    )


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


def _col(name: str):
    """A column by its literal name, dots and backticks included."""
    return F.col("`" + name.replace("`", "``") + "`")


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
    return df.sortWithinPartitions(*[_col(c) for c in (*lead, *rest)])


# Input bytes per output shard. A constant, so the file layout depends on
# the input alone.
_SHARD_BYTES = 128 * 1024 * 1024


def _shard_count(df: DataFrame) -> int:
    """``ceil(Σ sizes of df.inputFiles() / _SHARD_BYTES)``, at least 1.

    Each size comes from the session's Hadoop filesystem, so local and
    remote inputs are sized alike, and the percent-encoded URIs
    ``inputFiles()`` returns are decoded there."""
    jvm = df.sparkSession._jvm
    conf = df.sparkSession._jsc.hadoopConfiguration()
    total = 0
    for uri in df.inputFiles():
        path = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(uri))
        total += path.getFileSystem(conf).getFileStatus(path).getLen()
    return max(1, -(-total // _SHARD_BYTES))


def _shard(frame: DataFrame, cols: list[str], n: int) -> DataFrame:
    """The sink layout: hash-partition ``frame`` on ``cols`` into ``n``
    shards, then sort each shard by ``split`` and every orderable column
    (``_cluster``).

    One shuffle. Its count is explicit, so AQE does not coalesce it, and
    Spark's Murmur3 hash of ``cols`` picks each row's shard, so which rows
    share a file depends only on the rows and ``n``.
    """
    return _cluster(frame.repartition(n, *[_col(c) for c in cols]), "split")


def encode_examples(df: DataFrame) -> DataFrame:
    """DataFrame -> one binary column ``example`` of serialized tf.Example
    bytes.

    Arrow-batched ``mapInArrow``; per-batch Python loop only at this
    terminal stage (parity with the reference's beam.Map encode). Rows
    reach the codec as plain Python values under the reference's type
    map: an int column is int64_list in every record (a null is an empty
    feature, never a float), int64 values are exact, and a NaN double is
    float_list ``[nan]``.

    The encode adds no shuffle: it runs in ``df``'s own partitions,
    which for ``generate_examples`` are those the join's last shuffle
    left. Records come out in no set order; ``generate_examples``'s sink
    shuffles them into shards and sorts each shard by its record bytes.
    Record bytes do not depend on the order, and splits hash the
    serialized bytes.
    """

    def _encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            recs = [encode_example(row) for row in batch.to_pylist()]
            yield pa.RecordBatch.from_pydict(
                {"example": pa.array(recs, pa.binary())}
            )

    return df.mapInArrow(_encode, schema="example binary")


def encode_sequence_examples(
    df: DataFrame,
    *,
    key_cols: list[str],
    order_col: str,
    sequence_cols: list[str],
    context_cols: list[str] | None = None,
) -> DataFrame:
    """Beyond-parity S8: rows -> one binary column ``sequence_example`` of
    per-key tf.SequenceExample bytes.

    Groups rows by ``key_cols``, orders each group by ``order_col``
    (sequence time), packs ``sequence_cols`` as per-step feature lists and
    the keys (+ optional ``context_cols``, taken from the first step) as
    context features. The grouping/ordering runs as a native
    ``sort_array(collect_list(struct(...)))`` aggregate — one shuffle on
    the key — and only the terminal proto encode is Python (mapInArrow).
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

    def _encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = []
            for rec in batch.to_pylist():
                steps = rec["__steps"]
                context = {k: rec[k] for k in key_cols}
                for c in context_cols:
                    context[c] = steps[0][c] if steps else None
                fls = {c: [s[c] for s in steps] for c in sequence_cols}
                out.append(encode_sequence_example_full(context, fls))
            yield pa.RecordBatch.from_pydict(
                {"sequence_example": pa.array(out, pa.binary())}
            )

    return grouped.mapInArrow(_encode, schema="sequence_example binary")


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
    output_format: str = FORMAT_PARQUET,
    emit_artifacts: bool = False,
    sequence_config: dict | None = None,
) -> DataFrame:
    """Run the full ExampleGen chain; returns the split-annotated DataFrame
    that was (or would be) written — feature rows for ``FORMAT_PARQUET`` /
    no ``output_dir``, encoded bytes rows for the TFRecord formats (whose
    split is the hash of the serialized record, matching the files on
    disk).

    When ``output_dir`` is set the result is also written out, in
    ``ceil(B / 128 MiB)`` shards, ``B`` the bytes of the files the entity
    query reads (the feature tables' history is not counted: the output
    has one row per entity row), with one file per split per shard, so
    small entity inputs give one file per split. Rows go to shards by
    hash (of the feature columns for parquet, of the record bytes for
    TFRecords) and each file is sorted at the sink, so the files' bytes
    do not depend on cores or ``spark.sql.shuffle.partitions`` (the
    returned frame is neither sharded nor sorted):
    ``FORMAT_PARQUET`` -> zstd parquet partitioned by split, each file's
    rows sorted by every orderable column in frame order, written with
    v2 data pages (delta encodings; readers need Spark >= 3.3 or
    pyarrow) and, under ``get_spark``'s session, INT64 microsecond UTC
    timestamps;
    ``FORMAT_TF_EXAMPLE`` -> gzipped TFRecords under ``Split-{name}/``,
    one ``part-{shard:05d}.tfrecord.gz`` per split per shard, each
    file's records in ascending byte order (a retried task replaces its
    shard's file, never adds one); the encode runs in the partitions the
    join leaves, so the shard shuffle is the only one between the join
    and the file;
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

    entity = spark.sql(substitute_params(entity_query, params))
    df = materialize_features(
        spark,
        entity_query=entity,
        features=features,
        registry=registry,
        sf_dir=sf_dir,
        entity_ts_col=entity_ts_col,
    )

    out = hash_split(df, df.columns, splits)

    if output_dir:
        # One output row per entity row: size the shards by the entity
        # query's input, not by the feature tables' history it joins.
        shards = _shard_count(entity)
        if output_format == FORMAT_PARQUET:
            # Shards hash the columns hash_split hashes. Sorting on split
            # first also meets partitionBy's ordering, so the writer adds
            # no sort of its own; zstd and v2 data pages (delta
            # encodings) on this writer only, not session-wide.
            (
                _shard(out, df.columns, shards)
                .write.mode("overwrite")
                .option("compression", "zstd")
                .option("parquet.writer.version", "v2")
                .partitionBy("split")
                .parquet(output_dir)
            )
        else:
            encoded = (
                encode_examples(df)
                if output_format == FORMAT_TF_EXAMPLE
                else encode_sequence_examples(
                    df,
                    key_cols=list(sequence_config["key_cols"]),
                    order_col=sequence_config["order_col"],
                    sequence_cols=list(sequence_config["sequence_cols"]),
                    context_cols=list(sequence_config.get("context_cols", [])),
                )
            )
            # The reference's base executor buckets on the hash of the
            # serialized record (D1): encode first, split on the bytes.
            # The frame written, not the feature rows, carries the
            # on-disk split assignment, so it is the one returned.
            (bytes_col,) = encoded.columns
            out = hash_split(encoded, [bytes_col], splits)
            write_partitioned_tfrecords(
                _shard(out, [bytes_col], shards), output_dir,
                bytes_col=bytes_col, split_col="split",
            )
        if emit_artifacts:
            # The reference's usage sketch declares statistics + schema
            # outputs (usage_prototype.py:60-61, commented out — A3/A4).
            # Written AFTER the data sink: mode("overwrite") clears the
            # output directory.
            import json as _json

            from ..operators.stats import column_stats, schema_artifact

            os.makedirs(output_dir, exist_ok=True)
            stats_rows = [r.asDict() for r in column_stats(df).collect()]
            with open(os.path.join(output_dir, "statistics.json"), "w") as f:
                _json.dump(stats_rows, f, indent=2, default=str)
            with open(os.path.join(output_dir, "schema.json"), "w") as f:
                f.write(schema_artifact(df))
    return out
