"""Iterative graph algorithms over edge DataFrames: PageRank.

The engine's first *iterative* operator class: a driver-side loop of
declarative join/aggregate rounds (the classic Pregel-as-joins shape).
The per-iteration plan is one shuffle (contributions grouped by dst) +
one broadcast attachment (the dangling-mass scalar); ranks are
re-materialized each round via ``localCheckpoint`` so the lineage stays
O(1) deep instead of O(iterations) — without the pin, iteration k's
plan embeds k copies of the full join tree and both planning time and
recovery cost grow without bound. At cluster scale the same loop holds:
the rank frame is ~|V| rows (small next to edges), the edge frame is
scanned once per iteration with its partitioning reused, and nothing
ever funnels through the driver except two O(1) aggregates per round
(node count once, dangling mass per iteration) — parameters, not data.

Semantics: the standard damped PageRank with uniform dangling-mass
redistribution, so ``sum(rank) == 1`` is invariant every iteration::

    rank'(v) = (1-d)/N + d * ( sum_{u->v} rank(u)/outdeg(u)
                               + dangling_mass/N )

Reference scope: the reference has no graph surface (it composes
Feast/BigQuery exports, feast_component/executor.py:87-163); this
module is part of the Spark-native extension inventoried in
SURVEY.md §2.9 alongside graph_triangle_count.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


_SIZE_SUFFIX = {
    "b": 1,
    "k": 1 << 10,
    "m": 1 << 20,
    "g": 1 << 30,
    "t": 1 << 40,
    "p": 1 << 50,
}


def _size_bytes(v: str) -> int:
    """Parse a Spark byte-size conf string ("10485760b", "10MB", "-1")
    to bytes; bare numbers are bytes (Spark's own convention for these
    confs). Unparseable values return 0 — callers treat <= 0 as
    "broadcast disabled", so a conf this parser doesn't understand
    degrades to the always-correct merge path instead of crashing the
    operator (ADVICE r15)."""
    try:
        s = str(v).strip().lower().removesuffix("b")
        if s and s[-1] in _SIZE_SUFFIX:
            return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
        return int(s)
    except (ValueError, OverflowError):  # '1e400g': float inf -> int
        return 0


# Per-row OVERHEAD over-estimate for the measured broadcast rule: row
# object + an id of up to 8 fixed-width bytes + a numeric payload
# (double score / int level) + broadcast hash-relation slack.
_BCAST_ROW_BYTES = 64


_WIDTH_MEASURE = -1


def _id_width_static(df: DataFrame, col: str) -> int | None:
    """Classify an id column for the measured broadcast rule's
    width-aware sizing (ADVICE r15 medium).

    Node ids are caller data: fixed-width numerics are covered by the
    ``_BCAST_ROW_BYTES`` over-estimate (returns 0), but string ids
    (web-graph URLs in this domain) are arbitrary-width, and assuming
    a constant would UNDER-estimate — ``F.broadcast`` is an
    unconditional hint Spark honors regardless of actual size, so with
    wide ids and a raised threshold a multi-GB frame could be
    force-broadcast into an OOM. String/binary ids return
    ``_WIDTH_MEASURE``: the caller rides ``max(octet_length(id))`` on
    an aggregate it ALREADY runs (the node-count job, or a loop pin's
    Observation) — never a dedicated scan, which at corpus scale would
    be a full O(|E|) pass. Exotic id types (structs, arrays) return
    ``None``: the broadcast gate is disabled and the always-correct
    co-partitioned merge stands.
    """
    from pyspark.sql.types import (
        BinaryType,
        BooleanType,
        DateType,
        NumericType,
        StringType,
        TimestampType,
    )

    dt = df.schema[col].dataType
    if isinstance(dt, (NumericType, BooleanType, DateType, TimestampType)):
        return 0
    if isinstance(dt, (StringType, BinaryType)):
        return _WIDTH_MEASURE
    return None


def _count_and_width(df: DataFrame, col: str) -> tuple[int, int | None]:
    """Row count of ``df`` plus the broadcast-sizing width of ``col``
    in ONE job: for variable-width id types the max octet width rides
    the same aggregate as the count (a measured over-estimate, per the
    "provably fits" convention); fixed-width types keep the plain
    ``count()``. Width ``None`` = un-sizable type, broadcast disabled.
    """
    w = _id_width_static(df, col)
    if w != _WIDTH_MEASURE:
        return df.count(), w
    row = df.agg(
        F.count(F.lit(1)).alias("__n"),
        F.max(F.octet_length(F.col(col))).alias("__w"),
    ).first()
    return int(row["__n"]), int(row["__w"] or 0)


def _bcast_fits(n_rows: int | None, threshold: int, width: int | None) -> bool:
    """The measured broadcast gate: ``n_rows`` provably under the
    session broadcast threshold at ``_BCAST_ROW_BYTES + width`` bytes
    per row. ``None`` rows (no count yet) or ``None`` width (un-sized
    id type) never broadcast — the merge path is always correct."""
    return (
        n_rows is not None
        and width is not None
        and threshold > 0
        and n_rows * (_BCAST_ROW_BYTES + width) <= threshold
    )


# Serializes concurrent pins from multiple driver threads (the conf
# flips below are session-global). See _pin_aqe's docstring for the
# single-writer constraint this cannot lift.
_PIN_CONF_LOCK = threading.RLock()


def _pin_aqe(df: DataFrame, n_parts: int) -> DataFrame:
    """Eagerly pin ``df`` (localCheckpoint) with its physical layout
    VISIBLE to downstream plans, at the loop's common partition count.

    ``localCheckpoint`` records the executed plan's partitioning/
    ordering in its ``LogicalRDD`` — but an ``AdaptiveSparkPlan``
    reports them as unknown, so under AQE every checkpointed loop frame
    silently re-exchanges at each consumer (measured on the graph
    loops: the FULL edge frame re-shuffled once per round, and every
    O(|V|) state frame once per consumer). The checkpoint is EAGER, so
    disabling AQE for just this one materialization job is bounded and
    local; with it off, the pinned frame keeps the hash layout its own
    aggregates/joins already established, and each loop round's
    equi-joins become exchange-free co-partitioned merges.

    ``n_parts`` is the loop's shared partition count, derived ONCE per
    operator call from the edge frame's own AQE-sized materialization
    (see :func:`_pin_part`) — data-adaptive (a couple of partitions at
    test scale, thousands at corpus scale), never a constant. It is
    applied as ``spark.sql.shuffle.partitions`` for the pin job so that
    every frame in the loop lands on the SAME modulus and co-partitioning
    holds. What the loop gives up is AQE's runtime skew-splitting INSIDE
    the pinned jobs — which it could not apply against a fixed RDD
    layout on the other join side anyway.

    CONCURRENCY (VERDICT r15 item 8): the conf flips are SESSION-global
    runtime confs — there is no narrower scope Spark offers for them
    (``localCheckpoint`` plans against the DataFrame's own session, so
    a cloned session cannot carry the flip). ``_PIN_CONF_LOCK``
    serializes pins from multiple driver threads, but an UNRELATED
    query planned on the same session while a pin job runs still
    observes AQE off and the loop's partition count. Single-writer
    constraint: do not plan other queries on a session while a graph
    loop is running on it — at cluster scale give iterative graph jobs
    their own session/application (standard practice for Pregel-style
    workloads).

    FAULT TOLERANCE (VERDICT r15 item 10): ``localCheckpoint`` stores
    the pinned blocks on executors — an executor loss mid-loop kills
    the lineage-truncated frame (guide §5). For fault-tolerant runs set
    ``spark.graft.graph.reliableLoopCheckpoints=true`` AND a
    ``SparkContext.setCheckpointDir`` path on reliable storage: pins
    then route to reliable ``checkpoint()`` (same LogicalRDD layout
    recording, same plan shapes — blocks live in the checkpoint dir and
    survive executor loss, at the cost of writing each pin to storage).
    Default off: the local harness and non-critical runs keep the
    cheaper executor-memory pins.
    """
    spark = df.sparkSession
    reliable = (
        str(
            spark.conf.get(
                "spark.graft.graph.reliableLoopCheckpoints", "false"
            )
        ).lower()
        == "true"
    )
    with _PIN_CONF_LOCK:
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        try:
            return df.checkpoint() if reliable else df.localCheckpoint()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def _pin_part(
    df: DataFrame, key: str, *, compute_dense: bool = False
) -> tuple[DataFrame, int]:
    """Pin a loop's EDGE frame hash-clustered + sorted on ``key`` and
    derive the loop's shared partition count from its actual size.

    ``compute_dense=True`` additionally floors the count at the
    session's shuffle-partitions scale knob, for loops whose per-round
    jobs re-PROCESS the whole pinned O(|E|) frame (kcore's semi-join
    peels: every round filters and re-aggregates the full edge frame,
    so a bytes-sized narrow layout serializes that compute — measured
    at sf0.1, counterbalanced: kcore 2.91 s narrow vs 2.57 s floored).
    Loops that move only O(|V|)/frontier state per round (sssp,
    pagerank, hits) keep the default narrow layout — for them the
    floor only multiplies per-stage task overhead (sssp measured
    2.48 s narrow vs 3.19 s floored). At corpus scale the AQE-derived
    count is far above the knob either way, so the flag is inert
    there.

    Two-step: first a plain AQE-on checkpoint — AQE's partition
    coalescing sizes the materialization to the data, so its partition
    count IS the data-adaptive answer ("how many ~advisory-sized
    partitions does this frame occupy") — then a keyed repartition to
    that count + in-partition sort + :func:`_pin_aqe`. Downstream
    sort-merge joins on ``key`` then skip both the exchange AND the
    sort on this side, every round. Returns ``(pinned, n_parts)``.

    The pre-checkpoint job scopes the session's
    ``coalescePartitions.minPartitionSize`` back up to the ADVISORY
    partition size: the session lowers that floor to 64k so that
    small-bytes/compute-DENSE SQL stages (the dedup pair explodes)
    keep their cores, but deriving a loop's layout count from a
    floor-inflated materialization hands every pinned round tens of
    near-empty partitions — measured on graph_hits at sf0.1 the loop
    ran 4.5 s with the floored count vs 2.6 s with the advisory-sized
    one (the ~20 loop stages pay per-task scheduling, and with AQE off
    inside the pin jobs nothing re-coalesces them). Loop rounds are
    shuffle-dominated, not per-row-compute-dominated, so the advisory
    target is the right sizing; at corpus scale both derivations give
    thousands of partitions and the scoping is inert.
    """
    pre, n_parts = _presize(df, compute_dense=compute_dense)
    pinned = _pin_aqe(
        pre.repartition(n_parts, F.col(key)).sortWithinPartitions(key),
        n_parts,
    )
    return pinned, n_parts


def _presize(
    df: DataFrame, *, compute_dense: bool = False
) -> tuple[DataFrame, int]:
    """The sizing half of :func:`_pin_part`: a plain AQE-on checkpoint
    whose coalesced partition count is the loop's data-adaptive
    partition count. Returns ``(pre, n_parts)`` — callers that need a
    custom keyed layout (e.g. pagerank's shared edge+degree exchange)
    build it over ``pre`` themselves."""
    spark = df.sparkSession
    floor_key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    advisory = spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
    )
    with _PIN_CONF_LOCK:
        prev_floor = spark.conf.get(floor_key)
        spark.conf.set(floor_key, advisory)
        try:
            pre = df.localCheckpoint()
        finally:
            spark.conf.set(floor_key, prev_floor)
    # Floor 2, not 1 (r16 probe): a 1-partition keyed repartition is
    # recorded as SinglePartition, not HashPartitioning(key, 1), and
    # Spark 4.1's AQE-off planner re-exchanges SinglePartition join
    # sides to hashpartitioning(key, 1) in outer-join rounds — tiny
    # frames, but one needless exchange+sort per loop round. Two
    # partitions always record a real hash layout; inert at any scale
    # where the frame occupies >= 2 advisory-sized partitions.
    n_parts = max(2, pre.rdd.getNumPartitions())
    if compute_dense:
        n_parts = max(
            n_parts, int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
    return pre, n_parts


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    iterations: int = 10,
    damping: float = 0.85,
    node_col: str = "node",
    rank_col: str = "rank",
    pre_collapsed: bool = False,
) -> DataFrame:
    """Rank every node of the directed graph ``edges[(src, dst)]``.

    Duplicate edges are collapsed (each distinct edge carries one unit
    of its source's outflow); NULL endpoints are dropped; dangling
    nodes (no out-edges) redistribute their mass uniformly. Returns
    ``(node_col, rank_col)`` with one row per distinct node.

    ``weight_col`` selects the weighted variant (the link-count /
    trust-score edition crawl graphs need): a source's outflow splits
    PROPORTIONALLY to edge weight — ``rank(u) * w(u,v) /
    sum_w(u)`` — instead of uniformly, parallel ``(src, dst)`` edges
    ACCUMULATE their weights, and NULL/non-positive weights drop with
    NULL endpoints (a zero-weight edge carries no outflow and must not
    count toward the split). With all-1 weights the arithmetic is
    bit-identical to the unweighted path (multiply by 1.0, divide by
    the same count), so the two variants are one code path.

    ``pre_collapsed=True`` is the caller's certificate that parallel
    ``(src, dst)`` edges are already collapsed or absent (e.g. the
    feeding query unioned DISTINCT/pre-aggregated pairs over disjoint
    key spaces — the :func:`sssp`/:func:`kcore` certificate, ported
    r16): distinct of a distinct frame — and sum over singleton
    groups — are identities, so skipping the re-collapse removes one
    full exchange of the edge frame without changing a single rank.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0: {iterations}")
    if not 0.0 <= damping <= 1.0:
        raise ValueError(f"damping must be in [0, 1]: {damping}")

    if weight_col is None:
        e = edges.select(
            F.col(src).alias("__s"), F.col(dst).alias("__d")
        ).where(F.col("__s").isNotNull() & F.col("__d").isNotNull())
        if not pre_collapsed:
            e = e.distinct()
        e = e.withColumn("__w", F.lit(1.0))
    else:
        e = edges.select(
            F.col(src).alias("__s"),
            F.col(dst).alias("__d"),
            F.col(weight_col).cast("double").alias("__w"),
        ).where(
            F.col("__s").isNotNull()
            & F.col("__d").isNotNull()
            & (F.col("__w") > 0.0)
        )
        if not pre_collapsed:
            e = e.groupBy("__s", "__d").agg(F.sum("__w").alias("__w"))
    # (src, dst, w, out-weight-sum) pinned once, hash-clustered +
    # sorted on the per-iteration join key; every iteration re-reads
    # this materialized frame and never re-exchanges it. Build shape
    # (r16): the degree aggregate and the deg-attach join both consume
    # ONE keyed repartition of the presized frame — the old
    # `_pin_part(e.join(e.groupBy(...)))` spelling computed the lazy
    # edge pipeline TWICE (the two consumers project different columns,
    # so their exchanges don't canonicalize equal and nothing is
    # reused) and then re-exchanged the joined frame a third time.
    pre, n_parts = _presize(e)
    keyed = pre.repartition(n_parts, F.col("__s"))
    deg = keyed.groupBy("__s").agg(F.sum("__w").alias("__deg"))
    edges_deg = _pin_aqe(
        keyed.join(deg, "__s").sortWithinPartitions("__s"), n_parts
    )
    # Node universe derived from the PINNED frame (the edge pipeline
    # used to run twice more just to list nodes), co-partitioned with
    # the loop's rank frames.
    nodes = _pin_aqe(
        edges_deg.select(F.col("__s").alias(node_col))
        .union(edges_deg.select(F.col("__d").alias(node_col)))
        .distinct(),
        n_parts,
    )
    # node count + measured id width in ONE job (see _count_and_width)
    n, id_w = _count_and_width(nodes, node_col)
    if n == 0:
        return nodes.withColumn(rank_col, F.lit(0.0))

    # The DANGLING-NODE SET is static (nodes with no out-edges don't
    # change as ranks do), so pin it once off the already-materialized
    # frames. The previous spelling anti-joined ranks against `deg`
    # inside the loop, and since neither `deg` nor `e` is pinned, every
    # iteration re-ran the full edge pipeline (scan + distinct +
    # aggregate) just to rebuild the same set — at corpus scale, one
    # full input scan per iteration for a constant. The set rides the
    # rank frames as a boolean column (r16): the per-iteration dangling
    # MASS is then a map-side Observation sum on the pin job that
    # materializes each rank frame anyway — the separate per-iteration
    # dangling-aggregate job (a broadcast build scanning the O(|V|)
    # rank frame) is gone, and the mass reaches the next update as a
    # plan literal (a parameter, not data; the sssp early-exit
    # pattern). Same double arithmetic: one two-level sum of the same
    # rank values either way.
    # distinct sources run IN PLACE on the pinned hash(__s) layout (no
    # exchange); the left join is co-partitioned with the pinned nodes
    # and matches at most once per node — no row duplication.
    has_out = edges_deg.select("__s").distinct()
    flagged = nodes.join(
        has_out, nodes[node_col] == has_out["__s"], "left"
    ).select(nodes[node_col], has_out["__s"].isNull().alias("__dang"))

    # Measured broadcast rule for the contribs join (VERDICT r15 item
    # 6, the hits phase-4 precedent): the rank frame is O(|V|) rows of
    # (id, double). When it provably fits the session broadcast
    # threshold (width-aware — see _bcast_fits), each iteration joins
    # the pinned edge frame against a BROADCAST of the ranks: no sort,
    # no exchange on either side. Past the threshold — the 100 TB
    # regime, where an O(|V|) broadcast would OOM — the co-partitioned
    # merge stands. Physical strategy only; the summed contributions
    # are identical.
    bcast_thresh = _size_bytes(
        edges.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    bcast_ranks = _bcast_fits(n, bcast_thresh, id_w)

    def _pin_with_dmass(df: DataFrame) -> tuple[DataFrame, float]:
        obs = Observation()
        pinned = _pin_aqe(
            df.observe(
                obs,
                F.coalesce(
                    F.sum(
                        F.when(F.col("__dang"), F.col(rank_col)).otherwise(
                            F.lit(0.0)
                        )
                    ),
                    F.lit(0.0),
                ).alias("__dmass"),
            ),
            n_parts,
        )
        return pinned, float(obs.get["__dmass"])

    ranks, dmass = _pin_with_dmass(
        flagged.withColumn(rank_col, F.lit(1.0 / n))
    )
    for _ in range(iterations):
        r = F.broadcast(ranks) if bcast_ranks else ranks
        contribs = (
            edges_deg.join(r, edges_deg["__s"] == r[node_col])
            .groupBy("__d")
            .agg(
                F.sum(
                    F.col(rank_col) * F.col("__w") / F.col("__deg")
                ).alias("__contrib")
            )
        )
        ranks, dmass = _pin_with_dmass(
            ranks.join(
                contribs, ranks[node_col] == contribs["__d"], "left"
            ).select(
                ranks[node_col],
                ranks["__dang"],
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__contrib"), F.lit(0.0))
                        + F.lit(dmass) / F.lit(float(n))
                    )
                ).alias(rank_col),
            )
        )
    return ranks.select(node_col, rank_col)


def hits(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    node_col: str = "node",
    hub_col: str = "hub",
    auth_col: str = "authority",
    normalize: str = "end",
) -> DataFrame:
    """Kleinberg's HITS (1999): mutually-reinforcing hub and authority
    scores over the directed graph ``edges[(src, dst)]`` — the link-
    quality signal web-corpus curation uses beside PageRank (a good hub
    points at good authorities; a good authority is pointed at by good
    hubs).

    Update rule per iteration: ``auth(v) = sum_{u->v} hub(u)`` then
    ``hub(u) = sum_{u->v} auth(v)`` (authorities first, from the
    just-updated hubs — the standard ordering). Output is one row per
    distinct node with BOTH scores, each L2-normalized.

    ``normalize="end"`` (default): scores accumulate un-normalized —
    with the all-ones init every intermediate value is an exact
    integer (sums of products of integers), so the arithmetic is
    bit-reproducible across engines — and each vector is divided by
    its L2 norm once at the end. ``normalize="per_iteration"``
    re-scales after every half-step instead. The two are the SAME
    function of the graph: the updates are linear, so per-iteration
    normalization only multiplies by scalars, and the final L2
    normalization cancels any scalar — use per-iteration for graphs
    deep/dense enough that un-normalized integer growth (~lambda_max
    per round) would leave double's exact-integer range (2**53).

    Shape, per half-step: one equi-join of the O(|V|) score frame
    against the edge frame + one sum keyed on the receiving endpoint —
    the Pregel-as-joins shape shared with :func:`pagerank`, edges
    scanned once per half-step, scores re-materialized via
    ``localCheckpoint`` (O(1)-deep lineage). Norms are 1-row
    aggregates attached by broadcast, never a collect. Duplicate
    edges are collapsed; NULL endpoints are dropped.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    if normalize not in ("end", "per_iteration"):
        raise ValueError(
            f"normalize must be 'end' or 'per_iteration': {normalize!r}"
        )
    base = (
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .where(F.col("__s").isNotNull() & F.col("__d").isNotNull())
        .distinct()
    )
    # The edge frame is pinned ONCE, hash-clustered + sorted on __s
    # (see _pin_part) — every half-step re-reads this materialization.
    e_s, n_parts = _pin_part(base, "__s")
    nodes = _pin_aqe(
        e_s.select(F.col("__s").alias(node_col))
        .union(e_s.select(F.col("__d").alias(node_col)))
        .distinct(),
        n_parts,
    )
    # Measured auto-strategy for the half-step join (the pit_join
    # precedent; guide §3 "broadcast the side that fits"): the score
    # frame is O(|V|) rows of (id, double). When that provably fits
    # the session's broadcast threshold, each half-step joins the edge
    # frame against a BROADCAST of the scores — no sort, no exchange
    # on either side, and the second directional edge copy is never
    # built (its only purpose is giving the __d-keyed sort-merge join
    # a pinned layout). Past the threshold — the 100 TB regime, where
    # an O(|V|) broadcast would OOM the executors — the loop uses the
    # co-partitioned SMJ shape: a second pinned copy sorted on __d, so
    # the O(|E|) frame is never re-exchanged OR re-sorted inside the
    # loop and every half-step moves only the score frame. Strategy
    # changes the physical join only; the summed scores are identical.
    # Row sizing is width-aware (see _count_and_width/_bcast_fits):
    # 64 B/row over-estimates (fixed-width id + double + row overhead),
    # and variable-width ids add their observed max octet width, riding
    # the SAME 1-row count job off the pinned frame (parameters, not
    # data — no extra job, no extra pass).
    n_nodes, id_w = _count_and_width(nodes, node_col)
    bcast_thresh = _size_bytes(
        edges.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    bcast_scores = _bcast_fits(n_nodes, bcast_thresh, id_w)
    e_d = (
        e_s
        if bcast_scores
        else _pin_aqe(
            e_s.repartition(n_parts, F.col("__d")).sortWithinPartitions(
                "__d"
            ),
            n_parts,
        )
    )

    def _rescale(scores: DataFrame, col: str) -> DataFrame:
        norm = scores.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("__norm")
        )
        return scores.crossJoin(F.broadcast(norm)).select(
            node_col,
            F.when(F.col("__norm") > 0, F.col(col) / F.col("__norm"))
            .otherwise(F.lit(0.0))
            .alias(col),
        )

    def _push(scores: DataFrame, col: str, ef: DataFrame, edge_from: str,
              edge_to: str, out: str, pin: bool) -> DataFrame:
        # Sum the sending endpoint's score onto the receiving endpoint.
        # SPARSE frames throughout the loop: a node receiving nothing
        # is simply ABSENT instead of carrying an explicit 0 — absent
        # rows contribute exactly nothing to the next half-step's sums
        # (inner join drops them) and to any L2 norm, so every score
        # that IS computed is bit-identical to the dense spelling; the
        # zeros are reattached once at the end. This removes the
        # per-half-step left join back onto the node frame (one join +
        # its exchange per half-step, 2x iterations of them).
        #
        # ``pin`` checkpoints the half-step result. Mid-loop frames
        # with a SINGLE consumer (the next half-step, in "end" mode)
        # stay lazy: the loop has NO driver-side decisions (fixed
        # iteration count, unlike sssp/kcore's early-exit counts), so
        # in "end" mode every mid-loop half-step is single-consumer
        # and the whole 2x`iterations` join chain materializes in the
        # two END pins — one job each, no per-iteration checkpoint
        # writes of the O(|V|) score frame. Lineage stays bounded by
        # the iteration parameter, and the per-half-step exchanges are
        # unchanged (each groupBy still shuffles once; only the
        # materializations between them are gone).
        # "per_iteration" mode pins every half-step as before — its
        # rescale reads the frame twice (norm + values), and an
        # unpinned frame would recompute the push per consumer.
        s = F.broadcast(scores) if bcast_scores else scores
        summed = (
            ef.join(s, ef[edge_from] == s[node_col])
            .groupBy(edge_to)
            .agg(F.sum(col).alias(out))
            .withColumnRenamed(edge_to, node_col)
        )
        return _pin_aqe(summed, n_parts) if pin else summed

    # The all-ones init is a pure projection over the pinned node
    # frame: it has ONE consumer (the first push) and Project passes
    # the hash(node) layout through, so pinning it was a wasted
    # materialization job — stay lazy.
    hubs = nodes.withColumn(hub_col, F.lit(1.0))
    auths = None
    every = normalize == "per_iteration"
    # End mode bounds the lazy chain: pin every 6th half-step (ADVICE
    # r15) so plan depth stays O(1) in the iteration parameter and — in
    # the broadcast path — no BroadcastExchange build ever executes
    # more than 6 unpinned edge-scan half-steps inside the 300 s
    # broadcastTimeout window. Cadence 6, not 4: a mid-loop pin
    # measured 0.77 s at sf0.1 (it materializes the O(|V|) score frame
    # and breaks half-step pipelining), and at the default iteration
    # counts (<= 3 iterations = 6 half-steps) cadence 6 coincides with
    # the end pin, so the bound costs nothing until a caller actually
    # raises iterations. The pin cadence changes only WHERE the chain
    # materializes, never a summed score.
    _PIN_EVERY = 6
    for i in range(iterations):
        last = i == iterations - 1
        # auth half-steps are odd (2i+1), never a multiple of the even
        # cadence: only the end pin (or per_iteration) applies here.
        auths = _push(hubs, hub_col, e_s, "__s", "__d", auth_col,
                      pin=every or last)
        if normalize == "per_iteration":
            auths = _rescale(auths, auth_col)
        hubs = _push(auths, auth_col, e_d, "__d", "__s", hub_col,
                     pin=every or last or (2 * i + 2) % _PIN_EVERY == 0)
        if normalize == "per_iteration":
            hubs = _rescale(hubs, hub_col)
    # reattach the implicit zeros (nodes never reached by a push) and
    # L2-normalize once — same arithmetic as the dense loop: absent
    # rows never contributed to sums or norms there either.
    out_h = _rescale(hubs, hub_col)
    out_a = _rescale(auths, auth_col)
    return (
        nodes.join(out_h, node_col, "left")
        .join(out_a, node_col, "left")
        .select(
            node_col,
            F.coalesce(F.col(hub_col), F.lit(0.0)).alias(hub_col),
            F.coalesce(F.col(auth_col), F.lit(0.0)).alias(auth_col),
        )
    )


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    iterations: int = 2,
    node_col: str = "node",
    label_col: str = "label",
    pre_collapsed: bool = False,
) -> DataFrame:
    """SYNCHRONOUS label propagation communities (Raghavan, Albert &
    Kumara 2007): every node starts with its own id as label; each
    round every node adopts the most frequent label among its
    in-neighbors' PREVIOUS labels, smallest label on ties, keeping its
    previous label when it has no in-neighbors. Pass a symmetrized
    edge list for the paper's undirected semantics.

    ``weight_col`` selects the weighted variant (Barber & Clark 2009's
    natural generalization): a vote counts its edge weight instead of
    1, so communities from a dedup-cluster graph can honor evidence
    strength (e.g. shared-shingle counts). Parallel ``(src, dst)``
    edges ACCUMULATE — their weights sum into one vote — and the
    tie-break stays (max total weight, then smallest label). Exact
    determinism holds for integral weights (long sums); float weights
    are deterministic given exact inputs but carry the usual
    summation-order caveat, so prefer counts.

    Deliberately the synchronous variant with a total tie-break: the
    asynchronous one (and random tie-breaks) are order-dependent, and
    a nondeterministic answer can neither be oracle-checked nor
    reproduced across retries — the same determinism rule every other
    operator here follows. Label oscillation on bipartite structure —
    the known cost of synchronous updates — is bounded by running a
    fixed iteration count rather than to convergence.

    Shape, per round: one score-frame × edge-frame equi-join, one
    (node, label) count aggregate, one row_number pick — the
    Pregel-as-joins shape shared with :func:`pagerank`/:func:`hits`.
    The edge frame is pinned ONCE hash-clustered + sorted on the vote
    join key (``_pin_part``, r16 — the O(|E|) frame is exchanged once,
    not once per round) and every label frame pins at the loop's
    shared partition count, so the vote join and the label merge are
    exchange-free co-partitioned merges; a label frame provably under
    the session broadcast threshold (one node count, width-aware — see
    ``_bcast_fits``) is broadcast into the vote join instead, so the
    edge frame streams in place with no sort on either side. Physical
    strategy only; the summed votes are identical. Nothing reaches the
    driver. State is O(|V|) rows per round.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    from pyspark.sql import Window

    # ``pre_collapsed=True``: the caller certifies parallel (src, dst)
    # edges are already collapsed or absent (the pagerank certificate —
    # distinct-of-distinct / sum-over-singletons are identities), so
    # the re-collapse exchange of the edge frame is skipped; every vote
    # total is unchanged.
    if weight_col is None:
        e = edges.select(
            F.col(src).alias("__s"), F.col(dst).alias("__d")
        ).where(F.col("__s").isNotNull() & F.col("__d").isNotNull())
        if not pre_collapsed:
            e = e.distinct()
        e = e.withColumn("__w", F.lit(1).cast("long"))
    else:
        # parallel edges accumulate; NULL weights drop with NULL ends
        e = edges.select(
            F.col(src).alias("__s"),
            F.col(dst).alias("__d"),
            F.col(weight_col).alias("__w"),
        ).where(
            F.col("__s").isNotNull()
            & F.col("__d").isNotNull()
            & F.col("__w").isNotNull()
        )
        if not pre_collapsed:
            e = e.groupBy("__s", "__d").agg(F.sum("__w").alias("__w"))
    # compute_dense: every round's vote join + count aggregate
    # re-process the FULL pinned edge frame (the kcore regime), so the
    # loop keeps the session's parallelism floor — in-session
    # alternating A/B at sf0.1: 4.49 s dense vs 5.52 s narrow. (bfs /
    # pagerank / personalized, whose rounds move O(|V|)-or-frontier
    # state, measured the OTHER way and keep the narrow layout.)
    e, n_parts = _pin_part(e, "__s", compute_dense=True)
    nodes = _pin_aqe(
        e.select(F.col("__s").alias(node_col))
        .union(e.select(F.col("__d").alias(node_col)))
        .distinct(),
        n_parts,
    )
    # Measured broadcast rule (the hits precedent): label frames are
    # O(|V|) rows of (id, id). The count and the measured id width ride
    # ONE 1-row aggregate off the pinned frame; labels are node ids, so
    # the width counts twice.
    n_nodes, id_w = _count_and_width(nodes, node_col)
    bcast_thresh = _size_bytes(
        edges.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    bcast_labels = _bcast_fits(
        n_nodes, bcast_thresh, None if id_w is None else 2 * id_w
    )
    # the identity init is a pure projection over the pinned node frame
    # (single consumer per round side; layout passes through) — lazy,
    # the hits all-ones-init precedent
    labels = nodes.withColumn(label_col, F.col(node_col))
    w = Window.partitionBy("__d").orderBy(
        F.desc("__c"), F.asc(label_col)
    )
    for _ in range(iterations):
        lab = F.broadcast(labels) if bcast_labels else labels
        votes = (
            e.join(lab, e["__s"] == lab[node_col])
            .groupBy("__d", label_col)
            .agg(F.sum("__w").alias("__c"))
        )
        picked = (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("__d"), F.col(label_col).alias("__new"))
        )
        # left join preserves the labels side's pinned hash layout
        # (unlike sssp's full-outer merge, no re-key is needed: every
        # node already exists in `labels`)
        labels = _pin_aqe(
            labels.join(picked, labels[node_col] == picked["__d"], "left")
            .select(
                labels[node_col],
                F.coalesce(F.col("__new"), labels[label_col]).alias(
                    label_col
                ),
            ),
            n_parts,
        )
    return labels


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 10,
    node_col: str = "node",
    level_col: str = "level",
    pre_distinct: bool = False,
) -> DataFrame:
    """Minimum hop count from any seed, by frontier expansion — the
    reachability half of the graph family (PageRank weighs, BFS
    measures distance; crawl pipelines use the level as a quality
    signal: depth-from-seed-domains).

    Semantics: ``level(v) = min`` number of directed ``src -> dst``
    edges on any path from a seed; seeds are level 0 (whether or not
    they appear in the edge list); nodes unreachable within
    ``max_hops`` are absent from the output. NULL endpoints and NULL
    seeds are dropped; duplicate edges and seeds are collapsed.

    Shape, per round (the :func:`sssp` loop shape, ported r16): one
    equi-join of the CURRENT FRONTIER against the edge frame pinned
    hash-clustered + sorted on the join key (``_pin_part`` — the
    O(|E|) frame is exchanged once, not once per round), one distinct,
    then ONE full-outer merge onto the visited set whose ``__new``
    flag serves all three per-round consumers — the early-exit count
    (riding the pin job as an ``Observation`` map-side sum, no
    separate count job), the next frontier (a flag filter), and the
    running visited set (flag dropped). The merge re-keys on the node
    inside its pin (a full-outer join's output partitioning is
    Unknown), so every loop frame keeps the shared hash layout and the
    next round's merge is an exchange-free co-partitioned merge; a
    frontier provably under the session broadcast threshold (its row
    count is the previous round's Observation metric, its id width
    measured — see ``_bcast_fits``) is broadcast instead, streaming
    the edge frame in place. Values are identical to the
    anti-join-and-union spelling: a full-outer merge row is either a
    visited row (keeps its level — BFS levels are final on first
    reach) or a newly reached node (level = hop, exactly what the
    anti-join admitted). Rounds are bounded by ``max_hops``, state by
    ``O(|V|)`` rows; nothing but the per-round metric reaches the
    driver.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0: {max_hops}")
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")).where(
        F.col("__s").isNotNull() & F.col("__d").isNotNull()
    )
    if not pre_distinct:
        # ``pre_distinct=True``: the caller certifies the (src, dst)
        # pairs are already distinct (the kcore certificate) — distinct
        # of a distinct frame is the identity, so the re-dedup exchange
        # of the edge frame is skipped. Reachability is set-semantics,
        # so duplicates would not change levels either way; the
        # certificate only removes the provably-identity exchange.
        e = e.distinct()
    e, n_parts = _pin_part(e, "__s")
    visited = _pin_aqe(
        seeds.select(F.col(seed_col).alias(node_col))
        .where(F.col(seed_col).isNotNull())
        .distinct()
        .withColumn(level_col, F.lit(0)),
        n_parts,
    )
    frontier = visited.select(node_col)
    bcast_thresh = _size_bytes(
        edges.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    # Width-aware sizing (ADVICE r15): the frontier is a subset of the
    # merged visited frame, so a max(octet_length(node)) metric riding
    # each round's pin-job Observation over-estimates the next
    # frontier's id width — free on a job that already runs. Round 1
    # never broadcasts (no prior count).
    width_static = _id_width_static(visited, node_col)
    frontier_width = width_static if width_static != _WIDTH_MEASURE else None
    frontier_rows = None
    for hop in range(1, max_hops + 1):
        f = (
            F.broadcast(frontier)
            if _bcast_fits(frontier_rows, bcast_thresh, frontier_width)
            else frontier
        )
        cand = (
            f.join(e, f[node_col] == e["__s"])
            .select(F.col("__d").alias(node_col))
            .distinct()
        )
        merged = visited.join(cand, node_col, "full_outer").select(
            F.col(node_col),
            F.coalesce(F.col(level_col), F.lit(hop)).alias(level_col),
            F.col(level_col).isNull().alias("__new"),
        )
        obs = Observation()
        metrics = [
            F.coalesce(
                F.sum(F.col("__new").cast("long")), F.lit(0)
            ).alias("__n_new"),
        ]
        if width_static == _WIDTH_MEASURE:
            metrics.append(
                F.max(F.octet_length(F.col(node_col))).alias("__node_w")
            )
        merged = _pin_aqe(
            merged.observe(obs, *metrics)
            .repartition(n_parts, F.col(node_col))
            .sortWithinPartitions(node_col),
            n_parts,
        )
        got = obs.get
        n_new = got["__n_new"]
        if width_static == _WIDTH_MEASURE:
            frontier_width = int(got["__node_w"] or 0)
        visited = merged.drop("__new")
        if n_new == 0:
            break
        frontier = merged.where(F.col("__new")).select(node_col)
        frontier_rows = n_new  # exact: the flag filter keeps n_new rows
    return visited


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight_col: str = "weight",
    seed_col: str = "node",
    max_rounds: int = 10,
    node_col: str = "node",
    dist_col: str = "dist",
    pre_collapsed: bool = False,
) -> DataFrame:
    """Weighted single-source (multi-seed) shortest paths by
    bounded-round Bellman-Ford — the weighted half of the distance leg
    (:func:`bfs_levels` counts hops; crawl/curation graphs carry edge
    weights: link counts, similarity, latency).

    Semantics: ``dist(v) = min`` total weight over directed paths from
    any seed using at most ``max_rounds`` edges; seeds are distance 0;
    nodes unreachable within the bound are absent. NULL endpoints,
    NULL weights and NULL seeds are dropped; parallel edges collapse
    to their MINIMUM weight (the only one a shortest path can use).
    Weights are taken as given — with non-negative weights and
    ``max_rounds >= |V|-1`` this is exact Bellman-Ford; smaller bounds
    give the standard hop-limited relaxation (deterministic either
    way, which is what makes the answer oracle-checkable).

    Shape, per round: one equi-join of the CURRENT improvement
    frontier against the edge frame, one ``min`` aggregate keyed on
    the destination (map-side combinable — the round's candidate
    relaxations pre-combine before the shuffle), one join against the
    running best to keep only STRICT improvements — so the frontier
    shrinks toward convergence and a settled region costs nothing.
    Best/frontier re-materialize via ``localCheckpoint`` (O(1)
    lineage, the :func:`pagerank` rationale); the only driver-side
    value per round is the improvement count used for early
    termination. State is ``O(|V|)`` rows; rounds ≤ ``max_rounds``.
    """
    if max_rounds < 0:
        raise ValueError(f"max_rounds must be >= 0: {max_rounds}")
    e = edges.select(
        F.col(src).alias("__s"),
        F.col(dst).alias("__d"),
        F.col(weight_col).cast("double").alias("__w"),
    ).where(
        F.col("__s").isNotNull()
        & F.col("__d").isNotNull()
        & F.col("__w").isNotNull()
    )
    if not pre_collapsed:
        # ``pre_collapsed=True`` is the caller's certificate that
        # parallel (src, dst) edges are already collapsed to their
        # minimum weight (e.g. the feeding query just ran the same
        # groupBy) — min over singleton groups is the identity, so
        # skipping the re-aggregation removes one full exchange of the
        # edge frame without changing a single distance.
        e = e.groupBy("__s", "__d").agg(F.min("__w").alias("__w"))
    # Pin the edge frame hash-clustered + sorted on the frontier join
    # key (see _pin_part): the O(|E|) frame is exchanged once here
    # instead of once per round, and every loop frame shares n_parts so
    # the frontier join and the best/cand merge are co-partitioned,
    # exchange-free merges — each round's only exchange is the small
    # candidate min-aggregate.
    e, n_parts = _pin_part(e, "__s")
    best = _pin_aqe(
        seeds.select(F.col(seed_col).alias(node_col))
        .where(F.col(seed_col).isNotNull())
        .distinct()
        .withColumn(dist_col, F.lit(0.0)),
        n_parts,
    )
    frontier = best
    # Measured broadcast rule for the frontier side (the hits phase-4
    # auto-strategy): the previous round's Observation improvement
    # count IS the next frontier's exact row count, so the size test
    # is free — a frontier provably under the session broadcast
    # threshold is broadcast (the edge frame then streams in place:
    # no exchange, no sorts on either side), anything bigger keeps the
    # co-partitioned merge. Round 1's frontier (the seed set) has no
    # prior count and uses the merge path. Physical strategy only —
    # the relaxed distances are identical.
    bcast_thresh = _size_bytes(
        edges.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    # Width-aware sizing (ADVICE r15): the frontier is a subset of the
    # merged best frame, so a max(octet_length(node)) metric riding
    # each round's pin-job Observation over-estimates the next
    # frontier's id width — measured for free on a job that already
    # runs, never a dedicated scan. Round 1 never broadcasts (no prior
    # count), so starting without a width is sound.
    width_static = _id_width_static(best, node_col)
    frontier_width = width_static if width_static != _WIDTH_MEASURE else None
    frontier_rows = None
    for _ in range(max_rounds):
        f = (
            F.broadcast(frontier)
            if _bcast_fits(frontier_rows, bcast_thresh, frontier_width)
            else frontier
        )
        cand = (
            f.join(e, f[node_col] == e["__s"])
            .select(
                F.col("__d").alias(node_col),
                (F.col(dist_col) + F.col("__w")).alias("__nd"),
            )
            .groupBy(node_col)
            .agg(F.min("__nd").alias("__nd"))
        )
        # ONE checkpoint per round (was two: improved, then the best
        # merge): the full-outer merge carries an __imp flag marking
        # strict improvements, so the merged frame serves all three
        # per-round consumers — the early-exit count, the next round's
        # frontier (filter on the flag), and the running best (drop
        # the flag). Values are identical to the two-step spelling:
        # the least/coalesce merge of a non-improving candidate keeps
        # the old dist, exactly what excluding it from `improved`
        # produced. The early-exit count rides the checkpoint job
        # itself as an Observation metric (one map-side sum collected
        # by the materialization's listener) instead of a second
        # per-round count job over the materialized blocks — with AQE
        # off inside the pin job the CollectMetrics node cannot be
        # pruned, and it passes partitioning through, so the loop's
        # co-partitioned merges are unchanged.
        merged = (
            best.join(cand, node_col, "full_outer")
            .select(
                F.col(node_col),
                F.least(
                    F.coalesce(F.col(dist_col), F.col("__nd")),
                    F.coalesce(F.col("__nd"), F.col(dist_col)),
                ).alias(dist_col),
                (
                    F.col("__nd").isNotNull()
                    & (
                        F.col(dist_col).isNull()
                        | (F.col("__nd") < F.col(dist_col))
                    )
                ).alias("__imp"),
            )
        )
        obs = Observation()
        # RE-KEY the merge before pinning (VERDICT r15 item 3): a
        # full-outer SMJ's output partitioning is Unknown (the output
        # node id is coalesce(left, right), which Spark does not model
        # as either side's hash layout), so pinning the merge directly
        # records UnknownPartitioning and EVERY consumer re-exchanges —
        # probed at sf0.1: each round's best side re-exchanged AND
        # re-sorted the O(|V|) frame (plans/r16/graph_sssp_inloop_
        # before.txt, pin #3: Exchange + Sort over the UnknownPartitioning
        # scan). One keyed repartition + in-partition sort INSIDE the
        # pin job restores the loop layout: the next round's merge
        # reads best exchange-free AND sort-free, and a non-broadcast
        # frontier (the 100 TB regime) is already clustered for the
        # edge join. Same bytes moved once in the pin instead of once
        # or twice in the consumers; the Observation metrics ride the
        # map side, upstream of the exchange, unchanged.
        metrics = [
            F.coalesce(
                F.sum(F.col("__imp").cast("long")), F.lit(0)
            ).alias("__n_imp"),
        ]
        if width_static == _WIDTH_MEASURE:
            metrics.append(
                F.max(F.octet_length(F.col(node_col))).alias("__node_w")
            )
        merged = _pin_aqe(
            merged.observe(obs, *metrics)
            .repartition(n_parts, F.col(node_col))
            .sortWithinPartitions(node_col),
            n_parts,
        )
        got = obs.get
        n_imp = got["__n_imp"]
        if width_static == _WIDTH_MEASURE:
            frontier_width = int(got["__node_w"] or 0)
        if n_imp == 0:
            best = merged.drop("__imp")
            break
        best = merged.drop("__imp")
        frontier = merged.where(F.col("__imp")).select(node_col, dist_col)
        frontier_rows = n_imp  # exact: the flag filter keeps n_imp rows
    return best


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    iterations: int = 6,
    damping: float = 0.85,
    node_col: str = "node",
    rank_col: str = "rank",
    pre_distinct: bool = False,
) -> DataFrame:
    """Personalized PageRank (Page et al. 1999 §6's personalized
    teleport; the crawl-seeding / topic-affinity workhorse): identical
    recurrence to :func:`pagerank` except the teleport vector — and
    the dangling-mass redistribution — concentrate on the SEED set
    instead of spreading uniformly::

        rank'(v) = (1-d) * p(v) + d * ( sum_{u->v} rank(u)/outdeg(u)
                                        + dangling_mass * p(v) )

    with ``p(v) = 1/|S|`` for seeds, else 0, and ``rank0 = p`` — so
    ``sum(rank) == 1`` stays invariant and rank mass decays with
    distance from the seeds (the "relevance to these trusted domains"
    signal a curation pipeline ranks crawl hosts by).

    Same physical shape as :func:`pagerank`: the per-iteration plan is
    one contributions shuffle keyed on the receiving node plus a 1-row
    dangling-mass broadcast; the seed indicator rides the pinned node
    frame as one extra column, so personalization costs NOTHING over
    the uniform operator. Nodes mentioned only in ``seeds`` (isolated
    from the edge list) still hold their teleport share — they join
    the node universe rather than silently dropping.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0: {iterations}")
    if not 0.0 <= damping <= 1.0:
        raise ValueError(f"damping must be in [0, 1]: {damping}")
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")).where(
        F.col("__s").isNotNull() & F.col("__d").isNotNull()
    )
    if not pre_distinct:
        # caller certificate (the kcore precedent): pairs already
        # distinct — the re-dedup exchange is a provable identity.
        # Degrees, contributions and ranks are unchanged.
        e = e.distinct()
    s = (
        seeds.select(F.col(seed_col).alias(node_col))
        .where(F.col(seed_col).isNotNull())
        .distinct()
    )
    # Pinned once, hash-clustered + sorted on the per-iteration join
    # key (the pagerank build shape, r16): ONE keyed repartition of the
    # presized frame feeds both the degree aggregate and the deg-attach
    # join — see pagerank for why the lazy two-consumer spelling paid
    # the edge pipeline twice plus a third exchange.
    pre, n_parts = _presize(e)
    keyed = pre.repartition(n_parts, F.col("__s"))
    deg = keyed.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
    edges_deg = _pin_aqe(
        keyed.join(deg, "__s").sortWithinPartitions("__s"), n_parts
    )
    nodes = _pin_aqe(
        edges_deg.select(F.col("__s").alias(node_col))
        .union(edges_deg.select(F.col("__d").alias(node_col)))
        .union(s.select(node_col))
        .distinct()
        .join(s.withColumn("__is_seed", F.lit(True)), node_col, "left")
        .select(
            F.col(node_col), F.coalesce("__is_seed", F.lit(False)).alias("__seed")
        ),
        n_parts,
    )
    # node count, seed count, and measured id width in ONE 1-row
    # aggregate off the pinned frame (parameters, not data)
    width_static = _id_width_static(nodes, node_col)
    count_aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.coalesce(
            F.sum(F.col("__seed").cast("long")), F.lit(0)
        ).alias("__ns"),
    ]
    if width_static == _WIDTH_MEASURE:
        count_aggs.append(
            F.max(F.octet_length(F.col(node_col))).alias("__node_w")
        )
    counts = nodes.agg(*count_aggs).first()
    n_nodes, ns = int(counts["__n"]), int(counts["__ns"])
    id_w = (
        int(counts["__node_w"] or 0)
        if width_static == _WIDTH_MEASURE
        else width_static
    )
    if ns == 0:
        raise ValueError("personalized_pagerank requires >= 1 seed")
    p = F.when(F.col("__seed"), F.lit(1.0 / ns)).otherwise(F.lit(0.0))

    # The dangling-node set is STATIC (the pagerank rationale) and
    # rides the rank frames as a boolean column (r16): the
    # per-iteration dangling MASS is a map-side Observation sum on the
    # pin job that materializes each rank frame anyway — the separate
    # per-iteration dangling-aggregate job is gone, and the mass
    # reaches the next update as a plan literal (a parameter, not
    # data). Distinct sources run IN PLACE on the pinned hash(__s)
    # layout; the left join matches at most once per node.
    has_out = edges_deg.select("__s").distinct()
    flagged = nodes.join(
        has_out, nodes[node_col] == has_out["__s"], "left"
    ).select(
        nodes[node_col],
        nodes["__seed"],
        has_out["__s"].isNull().alias("__dang"),
    )
    # Measured broadcast rule for the contribs join (VERDICT r15 item
    # 6, the hits precedent): the rank frame is O(|V|) rows; when it
    # provably fits the session threshold each iteration joins the
    # pinned edge frame against a broadcast of the ranks — no sort, no
    # exchange on either side. Past the threshold (the 100 TB regime)
    # the co-partitioned merge stands. Physical strategy only.
    bcast_thresh = _size_bytes(
        edges.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    bcast_ranks = _bcast_fits(n_nodes, bcast_thresh, id_w)

    def _pin_with_dmass(df: DataFrame) -> tuple[DataFrame, float]:
        obs = Observation()
        pinned = _pin_aqe(
            df.observe(
                obs,
                F.coalesce(
                    F.sum(
                        F.when(F.col("__dang"), F.col(rank_col)).otherwise(
                            F.lit(0.0)
                        )
                    ),
                    F.lit(0.0),
                ).alias("__dmass"),
            ),
            n_parts,
        )
        return pinned, float(obs.get["__dmass"])

    ranks, dmass = _pin_with_dmass(
        flagged.select(node_col, "__seed", "__dang", p.alias(rank_col))
    )
    for _ in range(iterations):
        r = F.broadcast(ranks) if bcast_ranks else ranks
        contribs = (
            edges_deg.join(r, edges_deg["__s"] == r[node_col])
            .groupBy("__d")
            .agg(F.sum(F.col(rank_col) / F.col("__deg")).alias("__contrib"))
        )
        ranks, dmass = _pin_with_dmass(
            ranks.join(
                contribs, ranks[node_col] == contribs["__d"], "left"
            ).select(
                ranks[node_col],
                ranks["__seed"],
                ranks["__dang"],
                (
                    F.lit(1.0 - damping) * p
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__contrib"), F.lit(0.0))
                        + F.lit(dmass) * p
                    )
                ).alias(rank_col),
            )
        )
    return ranks.select(node_col, rank_col)


def kcore(
    edges: DataFrame,
    *,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 10,
    node_col: str = "node",
    degree_col: str = "degree",
    pre_distinct: bool = False,
) -> DataFrame:
    """K-core decomposition by iterative peeling (Seidman 1983; the
    link-graph quality filter: the k-core is the maximal subgraph
    where every node keeps >= k neighbors AFTER all weaker nodes are
    removed — spam farms and orphan pages peel away, densely
    interlinked hubs survive). Pass a symmetrized edge list for the
    standard undirected semantics; out-degree then equals degree.

    Returns ``(node_col, degree_col)``: the nodes surviving
    ``max_rounds`` peels with their degree in the surviving subgraph.
    With enough rounds this is the exact k-core (peeling is monotone:
    once no node falls below k the subgraph is a fixed point, so extra
    rounds are no-ops and the early exit below is semantics-free).

    Shape, per round: one map-side-combinable degree aggregate + two
    semi-joins filtering edges to surviving endpoints; the edge frame
    re-materializes via ``localCheckpoint`` (O(1) lineage) and SHRINKS
    monotonically, so later rounds cost less, not more. The only
    driver-side value per round is the dropped-node count used for
    early exit. NULL endpoints drop; duplicate and self edges are
    discarded (a self-loop would let a node certify itself into the
    core).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1: {max_rounds}")
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")).where(
        F.col("__s").isNotNull()
        & F.col("__d").isNotNull()
        & (F.col("__s") != F.col("__d"))
    )
    if not pre_distinct:
        # ``pre_distinct=True``: the caller certifies the (src, dst)
        # pairs are already distinct (e.g. the feeding query just ran
        # DISTINCT before symmetrizing with disjoint key spaces), so
        # the re-dedup exchange is a provable no-op and is skipped.
        # Degrees and the peeling fixpoint are unchanged.
        e = e.distinct()
    # Pin the edge frame hash-clustered + sorted on __s (see _pin_part):
    # the initial degree aggregate and the first peel's __s semi-join
    # cluster on it with no exchange of their own, and every loop frame
    # shares n_parts so the alive semi-joins stay co-partitioned.
    # compute_dense: every peel round re-filters and re-aggregates the
    # FULL pinned edge frame, so the loop keeps the session's
    # parallelism floor (see _pin_part; measured 2.91 -> 2.57 s).
    e, n_parts = _pin_part(e, "__s", compute_dense=True)
    bcast_thresh = _size_bytes(
        edges.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    # Width-aware sizing (ADVICE r15): the alive set is a subset of the
    # degree frame's nodes, so a max(octet_length(node)) metric riding
    # each round's deg-pin Observation over-estimates the alive ids'
    # width — measured for free on a job that already runs.
    width_static = _id_width_static(e, "__s")
    alive_width = width_static if width_static != _WIDTH_MEASURE else None
    deg = e.groupBy(F.col("__s").alias(node_col)).agg(
        F.count(F.lit(1)).alias(degree_col)
    )
    for _ in range(max_rounds):
        # Pin the O(|V|) degree frame once per round: it feeds the
        # early-exit count, the alive filter AND (on the last peel)
        # the returned frame — unpinned, the count job and the
        # semi-join job each re-ran the full degree aggregate over the
        # edge frame (two identical shuffles per round for one
        # result). The dropped count rides the pin job itself as an
        # Observation metric (the sssp pattern: AQE is off inside the
        # pin, so the CollectMetrics node cannot be pruned, and it
        # passes partitioning through) — no separate count job.
        obs = Observation()
        obs_metrics = [
            F.coalesce(
                F.sum((F.col(degree_col) < k).cast("long")), F.lit(0)
            ).alias("__n_dropped"),
            F.count(F.lit(1)).alias("__n_total"),
        ]
        if width_static == _WIDTH_MEASURE:
            obs_metrics.append(
                F.max(F.octet_length(F.col(node_col))).alias("__node_w")
            )
        deg = _pin_aqe(deg.observe(obs, *obs_metrics), n_parts)
        metrics = obs.get
        dropped = metrics["__n_dropped"]
        if width_static == _WIDTH_MEASURE:
            alive_width = int(metrics["__node_w"] or 0)
        if dropped == 0:
            break
        alive = deg.where(F.col(degree_col) >= k).select(node_col)
        # The alive set's exact row count is free off the same
        # Observation (total - dropped), so the semi-joins take the
        # measured broadcast rule (the hits phase-4 auto-strategy): an
        # alive set provably under the session broadcast threshold is
        # broadcast into BOTH semi-joins — the edge frame then streams
        # in place with no exchange on either side (the __d semi would
        # otherwise re-key it every peel). Past the threshold the
        # merge path stands. Survivors are identical either way.
        alive_rows = metrics["__n_total"] - dropped
        a = (
            F.broadcast(alive)
            if _bcast_fits(alive_rows, bcast_thresh, alive_width)
            else alive
        )
        # __d semi first, __s semi last: the surviving frame then pins
        # hash-clustered on __s, so the rebuilt degree aggregate below
        # needs no exchange at all (and the alive side is already
        # clustered on node from the pinned deg frame).
        e = _pin_aqe(
            e.join(a, e["__d"] == a[node_col], "left_semi")
            .join(a, F.col("__s") == a[node_col], "left_semi"),
            n_parts,
        )
        deg = e.groupBy(F.col("__s").alias(node_col)).agg(
            F.count(F.lit(1)).alias(degree_col)
        )
    return deg.where(F.col(degree_col) >= k)


def degree_assortativity(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, the
    networkx-convention Pearson correlation of the degrees at either
    end of each directed edge) — the one-number structural QA a crawl
    graph gets before link-based curation: strongly negative values
    flag hub-and-spoke (bipartite/spammy) structure, positive values
    social-network-like degree mixing. The input CONTRACT is a
    symmetrized edge list (undirected semantics; degree is then
    out-degree): a destination node with no out-edges — impossible
    after symmetrization — fails LOUD in-plan rather than skewing the
    statistic with a fabricated degree (ADVICE r14).

    Returns ONE row ``(n_nodes, n_edges, assortativity)``;
    ``assortativity`` is NULL when a degree side is constant (the
    correlation is undefined — e.g. a perfect cycle). Duplicate edges
    collapse; NULL endpoints and self-loops drop.

    Plan shape: one distinct + one map-side-combinable degree
    aggregate, then the edge frame re-joins the degree frame on each
    endpoint (two shuffle equi-joins — both sides keyed on a node id,
    AQE-balanced) feeding a single ``corr`` aggregate: corpus-sized
    work is two joins and one pass, nothing iterative, nothing on the
    driver.
    """
    e = (
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .where(
            F.col("__s").isNotNull()
            & F.col("__d").isNotNull()
            & (F.col("__s") != F.col("__d"))
        )
        .distinct()
        .localCheckpoint()
    )
    deg = e.groupBy(F.col("__s").alias("__n")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    joined = (
        e.join(deg.withColumnRenamed("__n", "__s"), "__s")
        .withColumnRenamed("__deg", "__ds")
        .join(
            deg.withColumnRenamed("__n", "__d").withColumnRenamed(
                "__deg", "__dd"
            ),
            "__d",
            "left",
        )
        .select(
            F.col("__ds").cast("double").alias("__x"),
            # symmetrized-input contract, enforced LOUD (ADVICE r14): a
            # destination with no out-edges only exists on DIRECTED
            # input, where correlating against a fabricated 0 (or
            # silently dropping the edge) yields a plausible-looking
            # but wrong coefficient — networkx's directed default is
            # out-in, a different statistic. Fail in-plan instead.
            F.when(F.col("__dd").isNotNull(), F.col("__dd"))
            .otherwise(
                F.raise_error(
                    F.format_string(
                        "degree_assortativity: destination node %s has no"
                        " out-edges — the input is directed, but this"
                        " operator's contract is a SYMMETRIZED"
                        " (undirected) edge list; symmetrize first or"
                        " use a directed out-in variant",
                        F.col("__d").cast("string"),
                    )
                ).cast("long")
            )
            .cast("double")
            .alias("__y"),
        )
    )
    nodes = e.select(F.col("__s").alias("n")).union(
        e.select(F.col("__d").alias("n"))
    )
    n_nodes = nodes.distinct().count()
    # guarded co-moment spelling, not corr(): under ANSI mode corr()
    # raises DIVIDE_BY_ZERO on a constant side (e.g. a perfect cycle,
    # where every degree is equal); the contract is NULL there. The
    # (n-1) sample factors cancel in the ratio, so this equals corr().
    cov = F.covar_pop("__x", "__y")
    sx = F.stddev_pop("__x")
    sy = F.stddev_pop("__y")
    return joined.agg(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.count(F.lit(1)).alias("n_edges"),
        F.round(
            F.when((sx > 0) & (sy > 0), cov / (sx * sy)), 6
        ).alias("assortativity"),
    )
