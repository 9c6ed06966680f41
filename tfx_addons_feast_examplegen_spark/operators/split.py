"""Deterministic hash-based train/eval splits (SURVEY.md D1).

The reference delegates splitting to TFX's ``BaseExampleGenExecutor``
(``executor.py:181``): each serialized record is hashed and routed to a
bucket, buckets are assigned to named splits per ``SplitConfig`` (e.g.
train=2, eval=1 → hash % 3 < 2 ⇒ train).

Spark-native rebuild: a narrow (no-shuffle) projection adding a split
column via ``xxhash64`` — JVM-side, codegen'd, deterministic across runs
and cluster sizes. Writing with ``partitionBy("split")`` (or per-split
paths) reproduces the reference's ``Split-{name}/`` directory layout.

Two hash sources are provided:

- ``hash_split(...)`` hashes chosen key columns with ``xxhash64`` —
  the production path (fast, stable, well mixed).
- ``fingerprint_split(...)`` hashes with an explicit arithmetic
  (Knuth multiplicative) scheme expressible in ANSI SQL, so the exact
  bucket assignment can be cross-checked by an external SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _assign(bucket: Column, splits: list[tuple[str, int]]) -> Column:
    """bucket-index -> split-name CASE chain."""
    total = sum(n for _, n in splits)
    expr = None
    lo = 0
    for name, n in splits:
        hi = lo + n
        cond = (bucket >= F.lit(lo)) & (bucket < F.lit(hi))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo = hi
    assert lo == total
    return expr


def hash_split(
    df: DataFrame,
    key_cols: list[str],
    splits: list[tuple[str, int]] | None = None,
    *,
    split_col: str = "split",
    seed: int = 42,
) -> DataFrame:
    """Add a deterministic split column: ``xxhash64(keys) % total_buckets``.

    ``splits`` is a SplitConfig-style list of (name, bucket_count);
    default ``[("train", 2), ("eval", 1)]`` (the TFX default).
    """
    splits = splits or [("train", 2), ("eval", 1)]
    total = sum(n for _, n in splits)
    bucket = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols], F.lit(seed)), F.lit(total))
    return df.withColumn(split_col, _assign(bucket, splits))


# 64-bit Knuth multiplicative constant; arithmetic below stays within
# signed-64 semantics identically in Spark and ANSI SQL engines.
_KNUTH = 2654435761


def require_integral_key(df: DataFrame, col: str, op: str) -> None:
    """Fail fast when a fingerprint key column is not an integral type.

    ``fingerprint_bucket`` arithmetic starts with ``cast('long')``,
    which turns a string id into NULL — every downstream bucket
    comparison then evaluates NULL and rows silently vanish (a join on
    the bucket matches nothing; a ``bucket < cut`` filter drops all).
    String/decimal keys must be pre-hashed to a long by the caller
    (e.g. ``xxhash64(col)``) so the choice of hash is explicit and
    oracle-replicable.
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"{op}: key column {col!r} has type {dt.simpleString()}; "
            "fingerprint arithmetic needs an integral key — pre-hash "
            "non-integer ids to a long (e.g. xxhash64) first"
        )


def fingerprint_bucket(key: Column, total: int) -> Column:
    """Oracle-expressible bucket: ``abs((key * K) % M) % total``.

    Uses a modulus small enough (2^31) that ``key * K`` stays exact for
    fixture key ranges and the same expression evaluates identically in
    any ANSI SQL engine (no 64-bit overflow wrap to reason about).
    Column-level helper — DataFrame-level callers validate the key type
    via :func:`require_integral_key` (a non-integer key casts to NULL
    and silently drops every row otherwise).
    """
    return F.pmod(F.pmod(key.cast("long") * F.lit(_KNUTH), F.lit(2**31)), F.lit(total))


def fingerprint_split(
    df: DataFrame,
    key_col: str,
    splits: list[tuple[str, int]] | None = None,
    *,
    split_col: str = "split",
) -> DataFrame:
    """Split on an integer key with the SQL-portable fingerprint hash."""
    require_integral_key(df, key_col, "fingerprint_split")
    splits = splits or [("train", 2), ("eval", 1)]
    total = sum(n for _, n in splits)
    bucket = fingerprint_bucket(F.col(key_col), total)
    return df.withColumn(split_col, _assign(bucket, splits))


def split_counts(df: DataFrame, split_col: str = "split") -> DataFrame:
    """Per-split row counts — the checkable projection of a split."""
    return df.groupBy(split_col).agg(F.count(F.lit(1)).alias("n")).orderBy(split_col)


def neardup_leakage_report(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    splits: list[tuple[str, int]] | None = None,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    on_over_cap: str = "drop",
) -> DataFrame:
    """Cross-split near-duplicate LEAKAGE audit: how many near-dup
    pairs straddle the train/eval boundary, and how many distinct eval
    documents have a near-dup on the train side (the contamination
    that silently inflates eval metrics — exact-dup splitting is
    solved by grouped_split_no_leakage; this measures what the
    NEAR-dup relation leaks through a plain hash split).

    Pairs come from :func:`..dedup.simhash_pairs` (portable SimHash,
    capped pigeonhole banding — one shuffle). Each endpoint's split is
    RE-DERIVED from the same pure fingerprint arithmetic
    :func:`fingerprint_split` assigns, as a projection on the pair
    frame — no join attaches it, so the audit costs exactly the pair
    generation, nothing keyed on corpus size.

    Output: one row per unordered split combination —
    ``(split_a, split_b, n_pairs, leaked_eval_docs)`` with
    ``split_a <= split_b`` lexically; ``leaked_eval_docs`` counts
    distinct ``'eval'``-side documents of eval/non-eval cross pairs
    (0 on same-split rows, and for split schemes without an 'eval').
    ``max_bucket``/``on_over_cap`` pass through to the pigeonhole
    join's no-silent-caps machinery (15-bit portable chunks fill
    linearly with corpus size — raise the cap for bigger corpora or
    use ``"error"`` when the audit must be exact, as the oracle-gated
    registry entry does).
    """
    from .dedup import simhash_pairs

    splits = splits or [("train", 2), ("eval", 1)]
    require_integral_key(docs, id_col, "neardup_leakage_report")
    total = sum(n for _, n in splits)

    def split_of(col: Column) -> Column:
        return _assign(fingerprint_bucket(col, total), splits)

    pairs = simhash_pairs(
        docs, id_col, text_col, max_hamming=max_hamming, portable=True,
        max_bucket=max_bucket, on_over_cap=on_over_cap,
    )
    sa, sb = split_of(F.col("doc_a")), split_of(F.col("doc_b"))
    eval_side = F.when(
        (sa == "eval") & (sb != "eval"), F.col("doc_a")
    ).when((sb == "eval") & (sa != "eval"), F.col("doc_b"))
    return (
        pairs.select(
            F.least(sa, sb).alias("split_a"),
            F.greatest(sa, sb).alias("split_b"),
            eval_side.alias("__ev"),
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct(F.col("__ev")).alias("leaked_eval_docs"),
        )
    )
