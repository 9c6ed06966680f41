"""Deduplication operators for training-data pipelines.

Beyond-reference extension (BASELINE.md north star): the operations a
100 TB corpus-prep pipeline needs, each expressed as native DataFrame
compositions so Catalyst drives the physical plan.

Operators:

- :func:`exact_dedup` — content-hash group-by, keep one deterministic
  representative per group. One shuffle on the content key.
- :func:`jaccard_pairs` — exact word-n-gram Jaccard similarity pairs via
  shingle explode + self-equi-join on shingle. The verifier of record for
  near-dup candidates.
- :func:`minhash_lsh_pairs` — MinHash + LSH banding: the 100 TB path.
  Signatures are 64 universal-hash mins computed as columnar aggregates
  (no UDF); banding turns O(n²) pair search into an equi-join on
  (band_id, band_hash); exact Jaccard then verifies only the candidates.
- :func:`simhash` / :func:`simhash_pairs` — 64-bit SimHash with
  Hamming-distance candidate join on 16-bit chunks (a Hamming-ball
  pigeonhole join: distance <= 3 implies at least one of 4 chunks equal).

Scale notes: every pair-producing operator is LSH/band-bucketed so the
shuffle key is (bucket), never a cross join; skewed buckets (very common
shingles) are capped with a per-bucket size guard. Exact Jaccard on
candidates joins only the candidate pair ids back to shingle sets.
"""

from __future__ import annotations

import random
from collections import deque
from fractions import Fraction

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import rebalance_for_compute


_PIN_LIMIT = 16
_PINNED: "deque[DataFrame]" = deque()


def _pin(df: DataFrame) -> DataFrame:
    """Cache a small multi-consumer intermediate (shingle sets, minhash
    signatures, simhash fingerprints) with BOUNDED lifetime.

    ``cache()`` is the right mechanism here — the CacheManager matches
    logical plans, so repeated dedup queries over the same corpus reuse
    the materialized frame across invocations (measured ~2x on repeated
    minhash/simhash runs; a real win for interactive sessions that probe
    one corpus many times). But a bare ``cache()`` from a function that
    returns a LAZY frame can never safely ``unpersist``, so every NEW
    corpus/parameter combination would pin storage for the session
    lifetime. This registry bounds that: pins live in a FIFO of
    ``_PIN_LIMIT`` entries and the oldest is unpersisted on overflow
    (safe at any time — consumers just recompute). An eager
    ``localCheckpoint`` variant was tried instead and rejected: it frees
    blocks via GC but forfeits cross-invocation reuse and pays an extra
    materialization job per call (bench total regressed ~30%).
    """
    df = df.cache()
    _PINNED.append(df)
    while len(_PINNED) > _PIN_LIMIT:
        _PINNED.popleft().unpersist(blocking=False)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    content_cols: list[str],
    id_col: str,
    *,
    normalize: bool = False,
) -> DataFrame:
    """Exact deduplication: one row per distinct content, keep min(id).

    Returns (kept id, n_dupes, fingerprint). Single hash-partition shuffle
    on the fingerprint; min/count are map-side-combinable so at 100 TB the
    shuffle carries one row per distinct content per mapper.
    """
    cols = [
        F.trim(F.lower(F.col(c).cast("string"))) if normalize else F.col(c)
        for c in content_cols
    ]
    concat = F.concat_ws("\x1f", *[c.cast("string") for c in cols])
    return (
        df.select(F.col(id_col), F.md5(concat).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


# ---------------------------------------------------------------------------
# shingling + exact n-gram Jaccard
# ---------------------------------------------------------------------------


def _grams_expr(text_col: str, n: int) -> "F.Column":
    # NB: Spark's sequence(1, 0) counts DOWN ([1, 0]) — guard short docs
    # with an explicit CASE instead of clamping the upper bound.
    return F.expr(
        f"CASE WHEN size(split(lower({text_col}), ' ')) >= {n} THEN "
        f"transform(sequence(1, size(split(lower({text_col}), ' ')) - {n - 1}),"
        f" i -> concat_ws(' ', slice(split(lower({text_col}), ' '), i, {n})))"
        f" ELSE array() END"
    )


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, *, hashed: bool = False
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Pure SQL expression chain (split -> index sequence -> slice ->
    concat), exploded; stays in whole-stage codegen until the explode.

    ``hashed=True`` folds each shingle to xxhash64 BEFORE the distinct, so
    the dedup shuffle moves an 8-byte long per shingle instead of the
    n-gram string (~25-byte average at n=3) — the string never leaves the
    mapper. Distinct-shingle counts are identical up to hash collisions
    (~|doc shingles|²/2⁶⁴ per doc — vanishing, deterministic). Use for
    every consumer that only needs shingle identity (Jaccard, MinHash);
    the default keeps the human-readable strings.
    """
    out = rebalance_for_compute(df).select(
        F.col(id_col), F.explode(_grams_expr(text_col, n)).alias("shingle")
    )
    if hashed:
        out = out.select(F.col(id_col), F.xxhash64("shingle").alias("shingle"))
    return out.distinct()


def _bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    *,
    max_size: int | None = None,
    observation=None,
    on_over_cap: str = "drop",
) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) of ids sharing a bucket.

    Capped self-equi-join: per-bucket sizes come from a ``count``
    aggregate (map-side combinable — the shuffle moves one row per
    distinct bucket per mapper, not the data); buckets above
    ``max_size`` form a tiny frame that is BROADCAST as a left-anti
    prune of the banded input, and the pruned frame self-equi-joins on
    the bucket key. Both join sides are the same subtree, so Catalyst/
    AQE reuse one shuffle exchange. Per-task memory is flat: no bucket is ever
    materialized as an array (an earlier ``collect_list`` design held
    each bucket in memory BEFORE the cap filter could drop it — the
    exact degenerate-key blowup the cap exists to prevent — and its
    interpreted lambda pair-explode was ~4× slower than the join).

    No silent caps — two mechanisms:

    - ``on_over_cap="error"``: a lazy in-plan ``assert_true`` conjunct
      on the over-cap filter fails the job on the first over-cap bucket
      instead of dropping it (short-circuit: in-cap rows never evaluate
      the assert). Cannot be optimized away — the predicate gates the
      anti-join's build side. Use when the recall contract forbids
      drops (e.g. an oracle-checked exact computation).
    - ``observation`` (a ``pyspark.sql.Observation``): records
      ``dropped_buckets`` / ``max_bucket_size``, filled by a dedicated
      metrics job run EAGERLY at operator-build time (one extra
      map-side-combinable aggregate over ``df`` — pass a cached input
      when observing). In-plan metric collection was abandoned: AQE's
      empty-relation propagation eliminates whichever join subtree the
      CollectMetrics node rides whenever a build side or the pair output
      turns out empty — i.e. precisely the healthy dropped_buckets=0
      case and the everything-dropped case, the two readings that matter.
      The eager linear job has nothing AQE can prune, so the metrics are
      exact and unconditional; diagnostics opt-in only.
    """
    if on_over_cap not in ("drop", "error"):
        raise ValueError(f"on_over_cap must be 'drop' or 'error': {on_over_cap!r}")
    pruned = df
    if max_size is not None:
        sizes = df.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__n"))
        if observation is not None:
            sizes.observe(
                observation,
                F.sum((F.col("__n") > max_size).cast("long")).alias(
                    "dropped_buckets"
                ),
                F.max("__n").alias("max_bucket_size"),
            ).count()
        over_cond = F.col("__n") > max_size
        if on_over_cap == "error":
            # And() short-circuits: rows at-or-under cap fail the left
            # conjunct and never reach the assert; any over-cap row
            # evaluates it and fails the job with the bucket size.
            over_cond = over_cond & F.assert_true(
                F.col("__n") <= max_size,
                F.concat(
                    F.lit(f"_bucket_pairs: bucket over cap ({max_size}); size="),
                    F.col("__n").cast("string"),
                ),
            ).isNull()
        over = sizes.filter(over_cond).select(*bucket_cols)
        pruned = df.join(F.broadcast(over), bucket_cols, "left_anti")
    # Both join sides read the SAME pruned frame: identical subtrees
    # canonicalize equal, so Catalyst/AQE reuse one shuffle exchange for
    # both sides (ReusedExchange — verified in docs/PLANS.md). Pruning
    # one side would suffice semantically (a pair needs both ends in the
    # bucket) but costs a second exchange of the banded input; sharing
    # the subtree is only possible because the observation metrics run
    # as an eager side job instead of a CollectMetrics node that
    # duplication would break.
    a = pruned.select(*bucket_cols, F.col(id_col).alias("doc_a"))
    b = pruned.select(*bucket_cols, F.col(id_col).alias("doc_b"))
    return (
        a.join(b, bucket_cols)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    observation=None,
    on_over_cap: str = "drop",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above ``threshold``.

    Documents sharing no shingle never meet: candidate pairs come from a
    per-shingle bucket explode (see :func:`_bucket_pairs` — one shuffle,
    not a two-sided self-join), so the quadratic blowup is bounded by
    shingle co-occurrence. ``max_bucket`` drops degenerate shingles shared
    by more than that many docs (stopword-like shingles contribute
    candidates quadratically but little Jaccard evidence — standard
    guard; dropped shingles still count in each doc's set size, so
    Jaccard for surviving pairs shifts at most by the dropped overlap).

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Shingles are folded to xxhash64 longs before the self-join: an 8-byte
    fixed-width join key shuffles ~20% faster than the shingle strings and
    counts identically (a collision among distinct shingles of one corpus
    is ~|shingles|²/2^64 — vanishing, and deterministic if it ever
    occurs). Set sizes aggregate the PINNED (locally checkpointed)
    shingle set — the sa/sb join branches below each consume sizes, and
    deriving it from the materialized frame is cheaper than re-running
    the gram pipeline per branch (Catalyst does not
    common-subexpression-eliminate across join branches).
    """
    sh = _pin(shingles(df, id_col, text_col, n, hashed=True))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))

    pairs = (
        _bucket_pairs(
            sh, ["shingle"], id_col, max_size=max_bucket,
            observation=observation, on_over_cap=on_over_cap,
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("nsh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("nsh").alias("nb"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 4).alias("jaccard"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    observation=None,
    on_over_cap: str = "drop",
) -> DataFrame:
    """Shingle-containment pairs: catches a short document embedded in a
    long one, which symmetric Jaccard misses (a quote, a boilerplate
    header, a doc prepended with a licence block).

    Score = |shingles(A) ∩ shingles(B)| / min(|shingles(A)|, |shingles(B)|)
    — containment of the smaller set in the larger. A 50-shingle doc fully
    quoted inside a 5000-shingle doc scores 1.0 here but Jaccard ≈ 0.01.

    Same plan shape as :func:`jaccard_pairs` (per-shingle bucket explode,
    one shuffle, hashed 8-byte shingle keys, ``max_bucket`` degenerate-key
    guard); only the denominator differs.

    Output: (doc_a, doc_b, containment) with doc_a < doc_b.
    """
    sh = _pin(shingles(df, id_col, text_col, n, hashed=True))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))

    pairs = (
        _bucket_pairs(
            sh, ["shingle"], id_col, max_size=max_bucket,
            observation=observation, on_over_cap=on_over_cap,
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("nsh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("nsh").alias("nb"))
    cont = F.col("common") / F.least(F.col("na"), F.col("nb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(cont >= threshold)
        .select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
    )


def _required_overlap_expr(threshold: float):
    """``ceil(threshold * nsh)`` in EXACT 64-bit integer arithmetic.

    The threshold is taken as the rational p/q of its decimal literal
    (``Fraction(str(t))``, so 0.34 means exactly 34/100, not the
    nearest double) and the ceil becomes ``(p*nsh + q - 1) DIV q``.
    Float multiply can land an epsilon either side of the exact
    product (0.34 * 150 = 51.000000000000004), and any fixed epsilon
    correction stops protecting the no-false-negative prefix contract
    once |t*nsh| ulp outgrows it (~1e7+ shingles); integers never do.

    nsh is a per-doc shingle count (< 2^31), so ``p * nsh`` stays in
    int64 only while p <= 2^31. A short decimal satisfies that, but a
    non-short-decimal threshold (e.g. 1/3 as a double stringifies to
    3333333333333333/10^16) would overflow the long multiply — wrapping
    silently in non-ANSI mode (garbage overlap -> empty prefix ->
    false negatives) or throwing under ANSI. Such rationals are floored
    to denominator 2^31 BEFORE emitting the expr: under-approximating
    the threshold can only shrink the required overlap, i.e. LENGTHEN
    the prefix — the safe direction for the no-false-negative contract
    (the final verification re-applies the exact Jaccard threshold),
    at a cost of < 2^-31 extra prefix mass.
    """
    if not 0.0 < threshold <= 1.0:
        # Jaccard similarity lives in [0, 1]; a threshold outside (0, 1]
        # is a caller bug (and >1 thresholds would also re-open the
        # numerator bound the flooring below relies on).
        raise ValueError(
            f"jaccard threshold must be in (0, 1], got {threshold!r}"
        )
    fr = Fraction(str(float(threshold)))
    _LIM = 1 << 31
    if fr.numerator > _LIM or fr.denominator > _LIM:
        fr = Fraction(int(fr * _LIM), _LIM)  # floor; 0 < t <= 1 -> p <= 2^31
    return F.expr(
        f"({fr.numerator}L * nsh + {fr.denominator - 1}L) "
        f"DIV {fr.denominator}L"
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    on_over_cap: str = "drop",
) -> DataFrame:
    """Exact n-gram Jaccard via PREFIX FILTERING (PPJoin family, Xiao et
    al. 2008) — the second candidate-generation strategy next to the
    full bucket explode of :func:`jaccard_pairs`, trading one extra
    global-frequency join for far fewer candidates on corpora where
    common shingles dominate.

    Lemma (no false negatives): order every set by one global total
    order (document frequency ascending, then shingle value). If
    J(a,b) >= t then |a ∩ b| >= ceil(t·|a|); if a's PREFIX — its first
    p = |a| - ceil(t·|a|) + 1 elements — shared nothing with b, all
    common elements would have to fit in a's last ceil(t·|a|) - 1
    positions: contradiction. So two qualifying sets always share a
    token inside BOTH prefixes, and indexing only prefixes preserves
    recall. Rare-first ordering makes those prefix tokens the
    smallest-bucket ones — candidates shrink exactly where the full
    explode blows up.

    Verification is the exact Jaccard over the FULL sets (same
    ``max_bucket``/fail-fast contract as every pair producer), so the
    output is bit-identical to :func:`jaccard_pairs` and shares its
    oracle.

    When to use which (measured, sf0.1, local[32]): on THIS fixture's
    mostly-rare shingles the full explode wins (2.3 s vs 9.5 s — prefix
    pays a df join + per-doc window + a pair×shingle verify join that
    the explode's count trick avoids). Prefix filtering's regime is
    boilerplate-heavy corpora: shingles shared by thousands of
    documents force the full explode to either blow up quadratically or
    DROP those buckets (changing the answer) / fail fast — while
    rare-first ordering puts boilerplate shingles outside every prefix,
    so this strategy stays exact with no bucket ever near the cap
    (test-demonstrated in ``test_dedup.py``).
    """
    sh = _pin(shingles(df, id_col, text_col, n, hashed=True))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        sh.join(dfreq, "shingle")
        .join(sizes, id_col)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(
                    F.asc("__df"), F.asc("shingle")
                )
            ),
        )
    )
    # Required overlap is ceil(threshold * nsh) over the RATIONAL product;
    # float multiply can land epsilon above the exact value (0.34 * 150 =
    # 51.000000000000004 → ceil 52 instead of 51), which would SHORTEN the
    # prefix and admit false negatives. An absolute epsilon only holds
    # while |threshold*nsh| ulp < epsilon, so compute the ceil in exact
    # 64-bit integer arithmetic instead: threshold as the rational p/q of
    # its decimal literal, ceil(p*nsh/q) = (p*nsh + q - 1) DIV q. nsh is
    # a per-doc shingle count (< 2^31), p/q come from a short decimal —
    # the product stays far inside long range.
    prefix_len = F.col("nsh") - _required_overlap_expr(threshold) + 1
    # pref is consumed twice inside _bucket_pairs (the bucket-size
    # aggregate and the shared self-join subtree); unpinned, each
    # consumption re-runs the df join + per-doc ranking window above.
    # The frame is small (prefix tokens only), so pin it — the
    # decode-pin audit's defect class (docs/BENCH_NOTES_r12.md).
    pref = _pin(ranked.filter(F.col("__rk") <= prefix_len).select(
        id_col, "shingle"
    ))
    # _bucket_pairs emits one row per SHARED BUCKET (its consumers count
    # those rows as the intersection size); here candidates must be
    # distinct pairs — the verify join below recomputes the full-set
    # intersection itself.
    cand = _bucket_pairs(
        pref, ["shingle"], id_col,
        max_size=max_bucket, on_over_cap=on_over_cap,
    ).distinct()
    sa = sh.select(F.col(id_col).alias("doc_a"), F.col("shingle"))
    sb = sh.select(F.col(id_col).alias("doc_b"), F.col("shingle"))
    common = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    za = sizes.select(F.col(id_col).alias("doc_a"), F.col("nsh").alias("na"))
    zb = sizes.select(F.col(id_col).alias("doc_b"), F.col("nsh").alias("nb"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(za, "doc_a")
        .join(zb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def shared_run_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    seed_n: int = 5,
    min_run: int = 8,
    max_bucket: int = 1000,
    on_over_cap: str = "drop",
) -> DataFrame:
    """Exact-substring dedup: for every document pair, the longest run of
    consecutive tokens the two share VERBATIM (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — their
    suffix-array ExactSubstr criterion, re-expressed relationally).

    A shared verbatim run of L >= ``seed_n`` tokens appears as
    L - seed_n + 1 consecutive matching positional seed-grams on one
    alignment diagonal (pa - pb constant), so the suffix array is
    replaced by three shuffle-friendly steps:

    1. positional seed-grams (posexplode, xxhash64-folded key — the
       gram string never leaves the mapper);
    2. capped self-equi-join on the gram key (broadcast anti-prune of
       degenerate grams, same no-silent-caps contract as
       :func:`_bucket_pairs` — a stopword-run gram shared by thousands
       of docs contributes candidates quadratically but evidence of
       nothing);
    3. islands-and-gaps run assembly: within (doc_a, doc_b, diagonal),
       consecutive pa values chain via the pa - row_number() trick, and
       each island of length c is a maximal shared run of c + seed_n - 1
       tokens. The window partitions by pair+diagonal, so state per task
       is one partition of matched grams — spillable, never a per-pair
       array in memory.

    Output: (doc_a, doc_b, longest_run, n_runs) with doc_a < doc_b,
    filtered to longest_run >= ``min_run`` (which must be >= seed_n —
    shorter shared runs produce no matching seed-gram at all).
    """
    runs = _shared_runs(
        df, id_col, text_col,
        seed_n=seed_n, min_run=min_run,
        max_bucket=max_bucket, on_over_cap=on_over_cap,
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.max("run_tokens").alias("longest_run"),
            F.sum((F.col("run_tokens") >= min_run).cast("long")).alias("n_runs"),
        )
        .filter(F.col("longest_run") >= min_run)
    )


def _shared_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    seed_n: int,
    min_run: int,
    max_bucket: int,
    on_over_cap: str,
) -> DataFrame:
    """Maximal shared-run frame behind :func:`shared_run_pairs` and
    :func:`remove_shared_runs`: one row per maximal verbatim run —
    (doc_a, doc_b, diag, run_tokens, b_start), where ``b_start`` is the
    0-based token index of the run's first token in doc_b."""
    if min_run < seed_n:
        raise ValueError(
            f"min_run ({min_run}) must be >= seed_n ({seed_n}): runs "
            "shorter than the seed gram are invisible to the join"
        )
    pos = (
        rebalance_for_compute(df)
        .select(
            F.col(id_col),
            F.posexplode(_grams_expr(text_col, seed_n)).alias("pos", "gram"),
        )
        .select(F.col(id_col), "pos", F.xxhash64("gram").alias("gram"))
    )
    # Degenerate-gram prune, inlined from _bucket_pairs (which emits
    # distinct id pairs; here the positions must survive the join).
    sizes = pos.groupBy("gram").agg(F.count(F.lit(1)).alias("__n"))
    over_cond = F.col("__n") > max_bucket
    if on_over_cap == "error":
        over_cond = over_cond & F.assert_true(
            F.col("__n") <= max_bucket,
            F.concat(
                F.lit(f"shared_run_pairs: gram over cap ({max_bucket}); size="),
                F.col("__n").cast("string"),
            ),
        ).isNull()
    elif on_over_cap != "drop":
        raise ValueError(f"on_over_cap must be 'drop' or 'error': {on_over_cap!r}")
    over = sizes.filter(over_cond).select("gram")
    pruned = pos.join(F.broadcast(over), "gram", "left_anti")

    a = pruned.select("gram", F.col(id_col).alias("doc_a"), F.col("pos").alias("pa"))
    b = pruned.select("gram", F.col(id_col).alias("doc_b"), F.col("pos").alias("pb"))
    matches = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    return (
        matches.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            (F.count(F.lit(1)) + F.lit(seed_n - 1)).alias("run_tokens"),
            (F.min("pa") - F.col("diag")).alias("b_start"),
        )
        .drop("grp")
    )


def remove_shared_runs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    seed_n: int = 5,
    min_run: int = 8,
    max_bucket: int = 1000,
    on_over_cap: str = "drop",
) -> DataFrame:
    """The TRANSFORM half of exact-substring dedup (Lee et al. 2022 cut
    the duplicated span, they don't just count it): every verbatim run
    of >= ``min_run`` tokens shared with a LOWER-id document is excised
    from the higher-id one, so exactly one occurrence survives in the
    corpus. Operates on the normalized (lowercased, space-split) token
    stream; overlapping spans from different partners union naturally at
    the token-position level.

    Plan: the maximal-run frame (same capped machinery as
    :func:`shared_run_pairs`) becomes per-doc removal spans, tokens
    explode once with positions, span membership is an equi-join on the
    doc id plus a range predicate (spans per doc are few), and the
    surviving tokens re-assemble with an order-preserving
    ``array_sort(collect_list(struct(pos, tok)))`` — per-task memory
    holds single documents, never a corpus structure.

    Output: (id_col, clean_text, n_tokens_removed) for EVERY input row.
    """
    runs = _shared_runs(
        df, id_col, text_col,
        seed_n=seed_n, min_run=min_run,
        max_bucket=max_bucket, on_over_cap=on_over_cap,
    ).filter(F.col("run_tokens") >= min_run)
    spans = runs.select(
        F.col("doc_b").alias("__id"),
        F.col("b_start").alias("__s"),
        (F.col("b_start") + F.col("run_tokens") - 1).alias("__e"),
    )
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
            "pos", "tok"
        ),
    )
    removed = (
        toks.select("__id", "pos")
        .join(spans, "__id")
        .filter(F.col("pos").between(F.col("__s"), F.col("__e")))
        .select("__id", "pos")
        .distinct()
    )
    kept = toks.join(removed, ["__id", "pos"], "left_anti")
    clean = kept.groupBy("__id").agg(
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(struct(pos, tok))), "
                "s -> s.tok)"
            ),
        ).alias("clean_text")
    )
    n_removed = removed.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens_removed")
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(clean, "__id", "left")
        .join(n_removed, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_tokens_removed"), F.lit(0)).alias(
                "n_tokens_removed"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003)
# ---------------------------------------------------------------------------

# Packed (hash, position) encoding: 44 hash bits (11 hex chars of md5)
# above 16 position bits keeps the packed value inside a signed 64-bit
# long. min() over the packed value picks the smallest hash and, on hash
# ties, the RIGHTMOST position (65535 - pos inverts the order) — the
# "robust winnowing" tie-break from the paper that maximizes fingerprint
# reuse across overlapping windows.
_WINNOW_POS_MOD = 1 << 16
_WINNOW_HASH = "CAST(conv(substr(md5(gram), 1, 11), 16, 10) AS BIGINT)"


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints: (id, fp_hash, fp_pos).

    The MOSS local fingerprint selection (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003), over word ``k``-grams: hash every k-gram, slide a window of
    ``w`` consecutive gram hashes, and record the minimum of each window
    (rightmost occurrence on ties). Selecting per-window minima gives
    the paper's detection guarantee — any shared token run of at least
    ``w + k - 1`` tokens yields at least one shared fingerprint — while
    keeping only ~2/(w+1) of the grams, so downstream joins move a
    fraction of the shingle volume full-Jaccard would.

    Plan shape (scale notes): tokens are position-exploded ONCE and
    k-grams assembled with ``lead()`` — NOT the shingle module's
    transform-over-slices expression, whose per-gram re-evaluation of
    the split is quadratic in document length (fine for short shingled
    docs, pathological at book length; measured: a 66k-token document
    never finishes under the slice spelling, milliseconds under this
    one). Gram assembly, the gram count, and the window minimum are
    three window functions over the SAME partition-by-document ordering,
    so they share one hash shuffle on the id; there is no global or
    single-partition window anywhere. The output is DISTINCT
    (id, packed) — the same fingerprint selected by several overlapping
    windows is recorded once (paper semantics).

    Tokenization is ``split(lower(text), ' ')`` — single-space split
    with NO empty-token filtering, matching :func:`shingles` and the
    ANSI replay exactly (string_split agrees engine-for-engine,
    including the empty-string token an empty text produces).

    Portability: the gram hash is the first 11 hex chars of md5 (44
    bits) so every value replays exactly in an ANSI oracle; positions
    above 65535 grams/document would corrupt the packing, so an in-plan
    assert fails loudly first (raise the budget by re-packing wider if
    a corpus ever legitimately exceeds it).

    Documents with fewer than ``k`` tokens have no grams and emit no
    fingerprints; documents with fewer than ``w`` grams form one partial
    window (minimum of all their grams) — both straight from the paper.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1: k={k}, w={w}")
    from pyspark.sql import Window

    pos_guard = F.assert_true(
        F.col("pos") < F.lit(_WINNOW_POS_MOD),
        F.concat(
            F.lit("winnow_fingerprints: document exceeds "),
            F.lit(_WINNOW_POS_MOD - 1).cast("string"),
            F.lit(" k-grams; widen the position packing"),
        ),
    )
    packed = (
        F.expr(_WINNOW_HASH) * F.lit(_WINNOW_POS_MOD)
        + (F.lit(_WINNOW_POS_MOD - 1) - F.col("pos"))
    )
    order = Window.partitionBy(id_col).orderBy("pos")
    toks = rebalance_for_compute(df).select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
            "pos0", "tok"
        ),
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), F.col("tok"))
    # k-gram at token position p: tokens p..p+k-1, assembled with lead()
    # over the per-document order (linear — see plan shape above). The
    # last-lead null check drops the k-1 tail positions that have no
    # full gram; split() never yields NULL tokens, so the check is
    # exact.
    parts = [F.col("tok")] + [
        F.lead("tok", j).over(order) for j in range(1, k)
    ]
    grams = toks.select(
        F.col(id_col),
        F.col("pos"),
        F.concat_ws(" ", *parts).alias("gram"),
        (
            parts[-1].isNotNull() if k > 1 else F.lit(True)
        ).alias("__full"),
    ).filter(F.col("__full"))
    grams = grams.select(
        F.col(id_col),
        F.max("pos").over(Window.partitionBy(id_col)).alias("ng"),
        F.col("pos"),
        F.when(pos_guard.isNull(), packed).alias("packed"),
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    selected = (
        grams.select(
            F.col(id_col),
            F.col("ng"),
            F.col("pos"),
            F.min("packed").over(win).alias("sel"),
        )
        # every FULL window start, plus the single partial window of a
        # document shorter than w grams (paper: min of all its grams)
        .filter(
            F.col("pos")
            <= F.greatest(F.lit(1), F.col("ng") - F.lit(w) + F.lit(1))
        )
        .select(F.col(id_col), F.col("sel"))
        .distinct()
    )
    return selected.select(
        F.col(id_col),
        F.expr(f"sel DIV {_WINNOW_POS_MOD}").alias("fp_hash"),
        (
            F.lit(_WINNOW_POS_MOD - 1) - F.col("sel") % F.lit(_WINNOW_POS_MOD)
        ).cast("int").alias("fp_pos"),
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 4,
    w: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    observation=None,
    on_over_cap: str = "drop",
) -> DataFrame:
    """Near-duplicate pairs by Jaccard over winnowing fingerprint sets.

    :func:`winnow_fingerprints` selects ~2/(w+1) of each document's
    k-gram hashes; pairs are generated by the capped per-fingerprint
    bucket join (:func:`_bucket_pairs` — one shuffle, never all-pairs)
    and scored with exact Jaccard over the DISTINCT selected-hash sets.
    Versus full-shingle Jaccard this moves a w-fold smaller frame
    through the self-join at the cost of sampling noise the winnowing
    guarantee bounds: any shared run of ``w + k - 1`` tokens is
    represented in BOTH documents' fingerprint sets, so long verbatim
    overlaps can never be missed — the standard plagiarism/near-dup
    trade at corpus scale (MOSS, Dolos, content-defined chunking).

    Output: (doc_a, doc_b, shared_fps, jaccard) with doc_a < doc_b.
    """
    fp = _pin(
        winnow_fingerprints(df, id_col, text_col, k=k, w=w)
        .select(F.col(id_col), F.col("fp_hash"))
        .distinct()
    )
    sizes = fp.groupBy(id_col).agg(F.count(F.lit(1)).alias("nfp"))
    pairs = (
        _bucket_pairs(
            fp, ["fp_hash"], id_col, max_size=max_bucket,
            observation=observation, on_over_cap=on_over_cap,
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("nfp").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("nfp").alias("nb"))
    jac = F.col("shared_fps") / (F.col("na") + F.col("nb") - F.col("shared_fps"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared_fps").cast("long").alias("shared_fps"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 31) - 1


def _hash_family(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def _hash_array_expr(num_hashes: int, seed: int) -> "F.Column":
    """All universal-hash values of ``shingle`` as one array column.

    A single ``transform`` over a literal (a, b) parameter array: the
    generated code is one compact loop instead of ``num_hashes`` separate
    pmod chains, which keeps the projection inside JIT method limits and
    parses as one expression (one py4j round-trip).
    """
    fam = _hash_family(num_hashes, seed)
    params = ", ".join(f"array({a}L, {b}L)" for a, b in fam)
    return F.expr(
        f"transform(array({params}), p -> "
        f"pmod(pmod(shingle, {_MERSENNE}) * p[0] + p[1], {_MERSENNE}))"
    )


def _minhash_sigs(
    sh: DataFrame, id_col: str, num_hashes: int, seed: int
) -> DataFrame:
    """MinHash signature per doc from a hashed-shingle frame.

    All hash values as one transform loop (see _hash_array_expr), then
    plain per-slot min aggregates — map-side combinable, no UDFs. The
    per-doc shingle count (``__nsh``) rides the SAME aggregation, so
    verification needs no second pass over the shingle set.
    """
    hashed = sh.select(
        F.col(id_col), _hash_array_expr(num_hashes, seed).alias("__h")
    )
    mins = [F.expr(f"min(__h[{i}]) AS __m{i}") for i in range(num_hashes)]
    return hashed.groupBy(id_col).agg(
        *mins, F.count(F.lit(1)).alias("__nsh")
    )


def _band_explode(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band_id, band_hash) — one row per LSH band per doc."""
    rows_per_band = num_hashes // bands
    band_structs = ", ".join(
        "struct({bi} AS band_id, xxhash64({cols}) AS band_hash)".format(
            bi=bi,
            cols=", ".join(
                f"__m{bi * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    return sigs.select(
        F.col(id_col), F.expr(f"explode(array({band_structs})) AS b")
    ).select(F.col(id_col), F.col("b.band_id"), F.col("b.band_hash"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    verify: bool = True,
    max_band: int = 2048,
    observation=None,
    on_over_cap: str = "drop",
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH banding, optionally verified.

    bands=16 × rows=4 over 64 hashes → candidate-capture probability
    1-(1-j^4)^16 (≈0.97 at j=0.7, ≈0.33 at j=0.4): the classic S-curve.
    Candidates come from an equi-join on (band_id, band_hash) — the only
    shuffle key; no cross join anywhere. With ``verify`` the candidates'
    exact n-gram Jaccard is computed (join back to shingles) and
    thresholded, so false positives are eliminated and the output matches
    :func:`jaccard_pairs` up to LSH recall.

    Output: (doc_a, doc_b[, jaccard]) with doc_a < doc_b.
    """
    # One pinned hashed-shingle set feeds BOTH signature computation and
    # the exact-Jaccard verification below — shingling/hashing the corpus
    # once, not twice.
    sh = _pin(shingles(df, id_col, text_col, n, hashed=True))
    sigs = _pin(_minhash_sigs(sh, id_col, num_hashes, seed))
    banded = _band_explode(sigs, id_col, num_hashes, bands)
    # A pair can collide in several bands -> distinct. Bucket explode, not
    # a two-sided self-join (see _bucket_pairs); band buckets are tiny by
    # construction (only near-dup groups share a band hash). ``max_band``
    # bounds the per-bucket pair blowup: a bucket that large is an
    # exact-duplicate cluster, which belongs to exact_dedup upstream
    # (corpus_prep runs it first), not to LSH pair generation.
    cands = _bucket_pairs(
        banded, ["band_id", "band_hash"], id_col, max_size=max_band,
        observation=observation, on_over_cap=on_over_cap,
    ).distinct()
    if not verify:
        return cands
    # Exact-Jaccard verification restricted to the candidate pairs: join
    # candidates back to the SAME cached shingle set, count common
    # shingles per pair. This is the point of LSH — the expensive exact
    # computation touches |candidates| pairs, not O(n²).
    sizes = sigs.select(F.col(id_col), F.col("__nsh").alias("nsh"))
    sh_a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        cands.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("nsh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("nsh").alias("nb"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Incremental (cross-corpus) near-dup: match each ``left`` document
    to near-duplicate ``right`` documents — deduplicating a NEW ingest
    batch against an EXISTING corpus without re-pairing the corpus with
    itself (the O(new × corpus) problem reduced to an LSH equi-join).

    Same banding as :func:`minhash_lsh_pairs`, but candidates come from a
    two-sided equi-join on (band_id, band_hash) instead of a bucket
    explode. At 100 TB the corpus-side band frame is the big side; the
    new batch's bands are small and AQE broadcasts them, so the corpus is
    probed in place and never shuffles. Candidates are exact-verified at
    ``threshold`` against both shingle sets.

    Output: (doc_a, doc_b, jaccard) with doc_a from ``left``, doc_b from
    ``right`` (no ordering constraint — the sides are different tables).
    """
    sh_l = _pin(shingles(left, id_col, text_col, n, hashed=True))
    sh_r = _pin(shingles(right, id_col, text_col, n, hashed=True))
    sigs_l = _pin(_minhash_sigs(sh_l, id_col, num_hashes, seed))
    sigs_r = _pin(_minhash_sigs(sh_r, id_col, num_hashes, seed))
    banded_l = _band_explode(sigs_l, id_col, num_hashes, bands).select(
        F.col(id_col).alias("doc_a"), "band_id", "band_hash"
    )
    banded_r = _band_explode(sigs_r, id_col, num_hashes, bands).select(
        F.col(id_col).alias("doc_b"), "band_id", "band_hash"
    )
    cands = (
        banded_l.join(banded_r, ["band_id", "band_hash"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    common = (
        cands.join(sh_l.select(F.col(id_col).alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh_r.select(F.col(id_col).alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sigs_l.select(F.col(id_col).alias("doc_a"), F.col("__nsh").alias("na"))
    sb = sigs_r.select(F.col(id_col).alias("doc_b"), F.col("__nsh").alias("nb"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def write_minhash_index(
    corpus: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    target_files: int | None = None,
) -> None:
    """Materialize the corpus side of incremental dedup once.

    ``target_files`` coalesces each artifact to that many files — set it
    for small corpora where per-file overhead dominates; leave ``None``
    at scale so write parallelism follows the upstream partitioning.

    A standing ingest pipeline deduplicates every new batch against the
    same corpus; re-shingling and re-signing 100 TB per batch is the
    dominant cost of a one-shot :func:`minhash_lsh_join` (measured in
    ``scripts/scale_soak_dedup.py``). This writes the three corpus-side
    artifacts — band frame, hashed shingle sets, set sizes — as parquet;
    :func:`minhash_lsh_join_indexed` then pays only batch-side signing
    plus the band equi-join per run. Rebuild (or append) when the corpus
    changes; band parameters are baked into the artifacts, so reads must
    use the same (n, num_hashes, bands, seed).
    """
    def _w(df: DataFrame, sub: str) -> None:
        if target_files is not None:
            df = df.coalesce(target_files)
        df.write.mode("overwrite").parquet(f"{path}/{sub}")

    sh = shingles(corpus, id_col, text_col, n, hashed=True).cache()
    sigs = _minhash_sigs(sh, id_col, num_hashes, seed)
    _w(_band_explode(sigs, id_col, num_hashes, bands), "bands")
    _w(sigs.select(F.col(id_col), F.col("__nsh").alias("nsh")), "sizes")
    _w(sh, "shingles")
    sh.unpersist()
    # Bake the band parameters into the index: a read with different
    # (n, num_hashes, bands, seed) would produce silently-wrong
    # candidates, so the join validates against this row.
    corpus.sparkSession.createDataFrame(
        [(n, num_hashes, bands, seed, id_col)],
        "n int, num_hashes int, bands int, seed int, id_col string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def minhash_lsh_join_indexed(
    batch: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """:func:`minhash_lsh_join` against a pre-built corpus index.

    The corpus artifacts (see :func:`write_minhash_index`) are plain
    parquet scans: the band probe is an equi-join on (band_id,
    band_hash) where the batch side is small and broadcasts, and
    exact-Jaccard verification joins only candidate ids back to the
    stored shingle sets. Output matches the non-indexed join
    bit-for-bit.

    Raises ``ValueError`` if the call's (n, num_hashes, bands, seed,
    id_col) differ from what the index was built with — a mismatch
    yields silently-wrong candidates otherwise.
    """
    spark = batch.sparkSession
    [params] = spark.read.parquet(f"{index_path}/params").collect()
    expected = (n, num_hashes, bands, seed, id_col)
    stored = (
        params.n, params.num_hashes, params.bands, params.seed, params.id_col
    )
    if stored != expected:
        raise ValueError(
            f"minhash index at {index_path!r} was built with "
            f"(n, num_hashes, bands, seed, id_col)={stored}; "
            f"call requested {expected}"
        )
    sh_l = _pin(shingles(batch, id_col, text_col, n, hashed=True))
    sigs_l = _pin(_minhash_sigs(sh_l, id_col, num_hashes, seed))
    banded_l = _band_explode(sigs_l, id_col, num_hashes, bands).select(
        F.col(id_col).alias("doc_a"), "band_id", "band_hash"
    )
    banded_r = spark.read.parquet(f"{index_path}/bands").select(
        F.col(id_col).alias("doc_b"), "band_id", "band_hash"
    )
    sh_r = spark.read.parquet(f"{index_path}/shingles")
    sizes_r = spark.read.parquet(f"{index_path}/sizes")
    cands = (
        banded_l.join(banded_r, ["band_id", "band_hash"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    common = (
        cands.join(sh_l.select(F.col(id_col).alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh_r.select(F.col(id_col).alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sigs_l.select(F.col(id_col).alias("doc_a"), F.col("__nsh").alias("na"))
    sb = sizes_r.select(F.col(id_col).alias("doc_b"), F.col("nsh").alias("nb"))
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


# Portable 60-bit token hash: the first 15 hex chars of md5, identical
# arithmetic in Spark (conv) and ANSI engines (hex-literal cast) — the
# fingerprint trick that lets SimHash be oracle-checked. xxhash64 stays
# the production default (one JVM intrinsic vs md5+string ops).
_PORTABLE_BITS = 60
_PORTABLE_HASH = "CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT)"


def simhash(
    df: DataFrame, id_col: str, text_col: str, *, portable: bool = False
) -> DataFrame:
    """SimHash per document over distinct word tokens (64-bit; 60-bit
    when ``portable``).

    Per-bit weighted vote folded into sum aggregates; all bit arithmetic
    is JVM-side integer ops inside whole-stage codegen. Output:
    (id, simhash long). ``portable=True`` swaps the token hash for an
    md5-derived 60-bit value whose exact arithmetic replays in any ANSI
    SQL engine, so an external oracle can verify the full pipeline;
    xxhash64 (default) is ~2× cheaper and preferred in production.
    """
    nbits = _PORTABLE_BITS if portable else 64
    hash_expr = (
        F.expr(_PORTABLE_HASH) if portable else F.xxhash64("tok")
    )
    # NB: no rebalance here — token explode is cheap enough that the
    # extra round-robin shuffle costs more than single-task explode saves
    # (measured: agg 0.48s one-partition vs 0.90s rebalanced at sf0.1).
    # Tokens fold to the hash BEFORE the distinct (the bit votes only need
    # token identity), so the dedup shuffle moves longs, not strings.
    tokens = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select(F.col(id_col), hash_expr.alias("h"))
        .distinct()
    )
    # Per-bit ±1 votes reduce to set-bit counts: vote_j = 2*s_j - n where
    # s_j = sum((h >> j) & 1); bit j is set iff 2*s_j > n. Each aggregate
    # and the fold are single parsed SQL strings — building them
    # as nested Column objects costs hundreds of py4j round-trips and a
    # deep Catalyst tree (measured: 1.0s -> 0.2s query compile).
    votes = [
        F.expr(f"sum(shiftrightunsigned(h, {j}) & 1) AS __v{j}")
        for j in range(nbits)
    ]
    agg = tokens.groupBy(id_col).agg(F.expr("count(1) AS __n"), *votes)
    fold = " + ".join(
        f"(CASE WHEN 2*__v{j} > __n THEN shiftleft(CAST(1 AS BIGINT), {j})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(nbits)
    )
    return agg.select(F.col(id_col), F.expr(fold).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    portable: bool = False,
    max_bucket: int = 1000,
    observation=None,
    on_over_cap: str = "drop",
) -> DataFrame:
    """Candidate near-dup pairs with SimHash Hamming distance <= k.

    Pigeonhole banding: split the hash into 4 chunks (16 bits each; 15
    when ``portable`` — see :func:`simhash`); any pair within Hamming
    distance 3 shares at least one exact chunk. Candidates come from
    :func:`_bucket_pairs` on ``(chunk_id, chunk)`` — the same
    single-shuffle bucket explode every other pair-producer uses, so a
    degenerate hot chunk (boilerplate/near-empty docs collapsing to one
    16-bit value) is bounded by ``max_bucket`` instead of blowing up a
    two-sided self-join quadratically, and over-cap buckets are
    observable (``observation``) or fail-fast (``on_over_cap="error"``).

    Each pair element is ``struct(id, simhash)`` so the Hamming filter
    runs directly on the exploded candidates — no join back. The simhash
    frame is PINNED (``_pin`` — eager localCheckpoint): the capped pair
    join consumes it up to three times (bucket sizes + both join sides),
    and it is tiny relative to the corpus (one ``(id, long)`` row per
    document), so materializing once beats re-running the 64-vote
    aggregation — and unlike ``cache()`` the storage is released when
    the plan is garbage-collected, not pinned for the session. Struct ordering equals id
    ordering (ids are distinct). Output: (doc_a, doc_b, hamming).
    """
    sh = _pin(simhash(df, id_col, text_col, portable=portable))
    width = _PORTABLE_BITS // 4 if portable else 16
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_id"),
                F.expr(f"(simhash >> {width * c}) & {mask}").alias("chunk"),
            )
            for c in range(4)
        ]
    )
    banded = sh.select(
        F.struct(
            F.col(id_col).alias("id"), F.col("simhash").alias("sh")
        ).alias("__idsh"),
        F.explode(chunks).alias("c"),
    ).select("__idsh", F.col("c.chunk_id"), F.col("c.chunk"))
    cand = _bucket_pairs(
        banded,
        ["chunk_id", "chunk"],
        "__idsh",
        max_size=max_bucket,
        observation=observation,
        on_over_cap=on_over_cap,
    )
    hamming = F.bit_count(F.col("doc_a.sh").bitwiseXOR(F.col("doc_b.sh")))
    return (
        # filter BEFORE the dedup shuffle: the hamming test is a cheap
        # row-local predicate, the distinct is a shuffle — shrink first
        cand.filter(hamming <= max_hamming)
        .select(
            F.col("doc_a.id").alias("doc_a"),
            F.col("doc_b.id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Streaming near-dup gate: row-wise SimHash + stream-static band join
# ---------------------------------------------------------------------------


def simhash_rowwise_expr(text_col: str) -> "F.Column":
    """The portable 60-bit SimHash as a PURE per-row expression — no
    explode, no aggregation, no state — so it runs inside a streaming
    micro-batch projection (Structured Streaming forbids the
    explode→groupBy spelling without stateful aggregation).

    Semantics are EQUAL to ``simhash(..., portable=True)`` by
    construction (pytest-enforced): tokens split on single spaces,
    empties dropped, folded to the md5-derived 60-bit hash BEFORE the
    distinct, per-bit majority votes ``2*s_j > n``. Cost per row is
    60 passes over the (deduped) token-hash array — tokens×60 integer
    ops, all inside whole-stage codegen. Rows with zero tokens hash to
    0 (the agg form simply drops them; filter upstream when that
    distinction matters).
    """
    hs = (
        f"array_distinct(transform(filter(split(lower({text_col}), ' '),"
        f" t -> t != ''),"
        f" t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)))"
    )
    fold = " + ".join(
        f"(CASE WHEN 2 * size(filter(__hs, h ->"
        f" (shiftrightunsigned(h, {j}) & 1) = 1)) > size(__hs)"
        f" THEN shiftleft(CAST(1 AS BIGINT), {j})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(_PORTABLE_BITS)
    )
    # aggregate() over a one-element array binds __hs as a lambda
    # variable, so the token-hash array is computed ONCE per row and
    # the 60-term fold references the bound name instead of inlining
    # (and re-evaluating) the split/md5 chain 120 times
    return F.expr(
        f"aggregate(array({hs}), CAST(0 AS BIGINT),"
        f" (acc, __hs) -> {fold}, acc -> acc)"
    )


def _gate_band_structs(hash_col: str) -> "F.Column":
    """The 15-bit band decomposition shared by the gate's two sides
    (:func:`simhash_band_index` and the stream side of
    :func:`neardup_gate_stream`) — ONE spelling, so a band-width change
    cannot desynchronize index and probe. ``simhash_pairs`` keeps its
    own chunk spelling deliberately: touching it would drift the
    attested batch entries for a cosmetic unification."""
    width = _PORTABLE_BITS // 4
    mask = (1 << width) - 1
    return F.explode(
        F.array(*[
            F.struct(
                F.lit(c).alias("band_id"),
                F.expr(f"({hash_col} >> {width * c}) & {mask}").alias("band"),
            )
            for c in range(4)
        ])
    )


def simhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_band: int | None = None,
    observation=None,
    on_over_cap: str = "drop",
) -> DataFrame:
    """Standing-corpus band index for the streaming gate:
    ``(corpus_id, corpus_simhash, band_id, band)`` — four rows per
    document, portable 60-bit SimHash split into 15-bit bands. Built
    in BATCH (the agg-form simhash); persist it alongside the corpus
    and merge-append new keepers per ingest cycle.

    Hot-band cap (``max_band``): a degenerate band — thousands of
    near-empty boilerplate documents sharing one 15-bit band value —
    would fan out against EVERY matching micro-batch row on the stream
    side, where no occupancy probe can run. The cap is therefore
    enforced HERE, at index build/merge time, with the same no-silent-
    caps machinery as :func:`_bucket_pairs`:

    - ``on_over_cap="drop"`` (default): ``(band_id, band)`` groups
      larger than ``max_band`` are pruned from the index via a
      broadcast anti-join on the per-band ``count`` aggregate
      (map-side combinable — the occupancy shuffle moves one row per
      distinct band, not the corpus). Documents keep their other
      bands, so recall degrades only for pairs whose every shared band
      is hot.
    - ``on_over_cap="error"``: a lazy in-plan ``assert_true`` conjunct
      fails the index build on the first over-cap band instead of
      dropping it (short-circuit: in-cap bands never evaluate the
      assert). Use when the gate's recall contract forbids drops.
    - ``observation`` (a ``pyspark.sql.Observation``): records
      ``dropped_bands`` / ``max_band_size`` via a dedicated metrics
      job run EAGERLY at build time — same rationale as
      ``_bucket_pairs``: an in-plan CollectMetrics node rides a join
      subtree AQE can prune in exactly the readings that matter.

    ``max_band=None`` (default) preserves the uncapped plan
    byte-for-byte for existing callers and the driver oracle entry.
    """
    if on_over_cap not in ("drop", "error"):
        raise ValueError(
            f"on_over_cap must be 'drop' or 'error': {on_over_cap!r}"
        )
    sh = simhash(df, id_col, text_col, portable=True)
    banded = sh.select(
        F.col(id_col).alias("corpus_id"),
        F.col("simhash").alias("corpus_simhash"),
        _gate_band_structs("simhash").alias("b"),
    ).select("corpus_id", "corpus_simhash", "b.band_id", "b.band")
    if max_band is None:
        return banded
    sizes = banded.groupBy("band_id", "band").agg(
        F.count(F.lit(1)).alias("__n")
    )
    if observation is not None:
        sizes.observe(
            observation,
            F.sum((F.col("__n") > max_band).cast("long")).alias(
                "dropped_bands"
            ),
            F.max("__n").alias("max_band_size"),
        ).count()
    over_cond = F.col("__n") > max_band
    if on_over_cap == "error":
        over_cond = over_cond & F.assert_true(
            F.col("__n") <= max_band,
            F.concat(
                F.lit(
                    f"simhash_band_index: band over cap ({max_band}); size="
                ),
                F.col("__n").cast("string"),
            ),
        ).isNull()
    over = sizes.filter(over_cond).select("band_id", "band")
    return banded.join(F.broadcast(over), ["band_id", "band"], "left_anti")


def neardup_gate_stream(
    stream_df: DataFrame,
    index_df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Streaming ingest near-dup gate: for each arriving document, the
    standing-corpus documents within SimHash Hamming ``max_hamming``
    (<= 3 — the 4×15-bit pigeonhole bound).

    Everything is STATELESS per micro-batch: a per-row SimHash
    projection (:func:`simhash_rowwise_expr`), a band explode, a
    stream-static equi-join against the band index, and the exact
    Hamming predicate. A pair sharing several bands duplicates across
    rows — dedup after the sink (or feed an idempotent one); streaming
    distinct would need stateful aggregation this gate deliberately
    avoids. A degenerate hot band (near-empty boilerplate docs) must be
    capped on the INDEX side at build/merge time — the stream side
    cannot run the eager occupancy probe the batch path uses; pass
    ``max_band``/``on_over_cap``/``observation`` to
    :func:`simhash_band_index`, which enforces the cap with the same
    no-silent-caps machinery as the batch path's ``_bucket_pairs``.

    Output: (id_col, corpus_id, hamming) per candidate match.
    """
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming must be in [0, 3] (4x15-bit pigeonhole): {max_hamming}"
        )
    # token-less rows are DROPPED, matching the agg-form simhash (which
    # has no row to emit for them), the index, and the external oracle
    # — otherwise an empty/NULL-text row would hash to 0 and band-join
    # any low-popcount corpus hash the oracle never pairs
    has_tokens = F.expr(
        f"size(filter(split(lower({text_col}), ' '), t -> t != '')) > 0"
    )
    hashed = stream_df.where(
        F.col(text_col).isNotNull() & has_tokens
    ).select(
        F.col(id_col),
        simhash_rowwise_expr(text_col).alias("__sh"),
    )
    banded = hashed.select(
        F.col(id_col),
        F.col("__sh"),
        _gate_band_structs("__sh").alias("b"),
    ).select(id_col, "__sh", "b.band_id", "b.band")
    hamming = F.bit_count(F.col("__sh").bitwiseXOR(F.col("corpus_simhash")))
    return (
        banded.join(index_df, ["band_id", "band"])
        .where(hamming <= max_hamming)
        .select(
            F.col(id_col),
            F.col("corpus_id"),
            hamming.cast("int").alias("hamming"),
        )
    )
