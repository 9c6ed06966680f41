"""Point-in-time (as-of) historical feature join — the engine's core.

Rebuilds, as a native DataFrame composition, the single most important
operator of the reference: ``fs.get_historical_features(entity_df=query,
features=refs)`` (``executor.py:87``), which Feast's BigQuery offline store
compiles to one SQL statement (recoverable at ``executor.py:128-129``).
The compiled template's shape (SURVEY.md §2.3) is:

1. entity spine (arbitrary SQL) + synthesized per-row id,
2. per view: candidate rows with ``feature.ts <= entity.ts`` and, with a
   TTL, ``feature.ts >= entity.ts - ttl`` (as-of / interval predicate),
3. latest-wins dedup: ``ROW_NUMBER() OVER (PARTITION BY row_id ORDER BY
   event_ts DESC, created_ts DESC) = 1``,
4. LEFT JOIN each deduped view back to the spine (entities with no match
   survive with NULL features),
5. final projection dropping helper columns.

Spark-first design decisions (scale rationale):

- **``max_by`` aggregate instead of ``row_number`` window** for the
  latest-wins dedup. A window function must shuffle *every* candidate row
  and sort each partition by (keys, ts DESC, created DESC);
  ``max_by(struct(features), struct(ts, created))`` runs map-side partial
  aggregation first, so the shuffle moves at most one row per (entity, ts)
  group per mapper instead of all candidates — at 100 TB of feature rows
  the shuffle-volume difference dominates. (With a struct payload Spark
  compiles max_by to SortAggregate rather than HashAggregate, but that
  sort is by group keys only — cheaper than the window's composite sort —
  and in the observed plan it is reused verbatim by the downstream
  sort-merge join back onto the spine, making its marginal cost ~zero.)
- **Join on the natural composite key** (entity keys + entity event time)
  rather than a synthesized row id. The reference's row id is itself just
  ``concat(join_keys, event_ts)``, so semantics are identical (duplicate
  spine rows sharing keys+ts receive identical features, as in the
  reference); skipping the synthetic column keeps the join key equi-only
  + range, which lets Catalyst drive the shuffle from the equi conjuncts.
- **Distinct spine projection before the candidate join** so a wide spine
  (many non-key columns) or duplicated spine rows never inflate the
  candidate set. The distinct's shuffle partitioning on (keys, ts) is
  reused by the following aggregate (Catalyst sees matching partitioning),
  so it costs one shuffle, not two.
- **Equi-conjuncts drive the shuffle; the time predicate stays a post-join
  filter** inside the sort-merge/shuffled-hash join. For deep per-key
  history the latest-wins step changes shape, not result:
  ``strategy="time_bucketed"`` turns a TTL-bounded range predicate into an
  additional equi key (a standard interval-join technique, SURVEY.md
  §4.2) and ``strategy="union_window"`` replaces pair enumeration with one
  sorted running frame. :func:`materialize_features` picks the strategy
  per view from a cached per-table depth probe.
- **One shape for every view.** Steps 2-3 are one private "latest" step
  (the strategy, or for a static view with no event time a per-key
  ``first``) between one spine function and one join-back, so a change to
  how the newest row is found touches only that step.
- Small feature views broadcast automatically (AQE); no hints needed.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import Registry, RegistryError
from ..session import normalize_timestamps

_STRATEGIES = ("pair", "time_bucketed", "union_window")


def point_in_time_join(
    entity_df: DataFrame,
    feature_df: DataFrame,
    *,
    join_keys: list[str],
    entity_ts_col: str,
    feature_ts_col: str,
    features: list[str],
    created_col: str | None = None,
    ttl_seconds: int | None = None,
    output_prefix: str = "",
    strategy: str = "pair",
) -> DataFrame:
    """As-of join one feature table onto an entity spine (J1-J4, J6).

    For each entity row, attaches the feature values of the single newest
    feature row with the same join keys and ``feature_ts <= entity_ts``
    (and ``feature_ts >= entity_ts - ttl`` when a TTL bounds staleness),
    ties broken by newest ``created_col``. Entities with no candidate keep
    their row with NULL features (left-outer semantics).

    Three steps, the ones :func:`materialize_features` runs per view: the
    distinct (keys, ts) spine of ``entity_df`` (:func:`_spine`), the newest
    payload per spine row (:func:`_latest`), and a left join of that
    payload back onto ``entity_df`` (:func:`_attach`).

    ``strategy`` picks the physical shape of the one step that finds the
    newest feature payload per distinct (keys, ts) spine row; results are
    identical under all three (equivalence is test-enforced):

    - ``"pair"``: key-equal candidate pairs filtered by the as-of range,
      then a ``max_by`` dedup. Cheapest with shallow per-key history.
    - ``"time_bucketed"`` (requires a TTL): ``floor(ts / ttl)`` becomes an
      extra equi-join key. Each feature row lands in one bucket, each
      entity probes its own bucket and the previous one (covering the
      full ``[ts-ttl, ts]`` interval), and the range predicate still
      filters inside the match, so a hot key with years of history pairs
      each entity row with at most two TTL windows of it (SURVEY.md
      §4.2). Cost: the entity side duplicates 2x before the shuffle.
      Measured (scripts/scale_experiment.py, local[32], ttl=7d, 10% of
      events on one hot key): 10M events / 10k users / 36 snapshots —
      pair 8.7s vs bucketed 5.1s (1.7x); 50M events / 100k users / 24
      snapshots (5M-event hot key) — pair 75.4s vs bucketed 17.3s (4.4x).
      With shallow history (≲100 events/key) pair is marginally faster.
    - ``"union_window"``: linear per-key cost, no TTL needed. Pair
      enumeration is O(spine_k x features_k) per key k — quadratic on a
      hot key, and invisible to AQE's skew mitigation, which triggers on
      partition BYTES (measured: 1% hot key, 10M x 2M rows -> 30x wall
      blowup that neither default nor aggressively-tuned AQE touches;
      scripts/scale_probe_pit_skew.py). This shape unions both sides
      into one (key, ts)-sorted stream and carries the newest feature
      payload onto each spine row with a running ``last(ignorenulls)``
      frame; see :func:`_union_window_latest`.

    Chaining calls derives each spine from the running chain, so the
    logical tree doubles per call; :func:`materialize_features` takes
    each view's spine from the entity frame instead.
    """
    latest = _latest(
        _spine(entity_df, join_keys, entity_ts_col), feature_df,
        join_keys=join_keys, feature_ts_col=feature_ts_col, features=features,
        created_col=created_col, ttl_seconds=ttl_seconds, strategy=strategy,
    )
    return _attach(entity_df, latest, join_keys, entity_ts_col, features, output_prefix)


def _all(conds) -> Column:
    """The AND of ``conds`` (one or more boolean columns)."""
    return functools.reduce(lambda a, b: a & b, conds)


def _spine(df: DataFrame, join_keys: list[str], ts_col: str) -> DataFrame:
    """Distinct (keys, ts) spine as ``__ek_*`` / ``__ent_ts``.

    The reference's synthesized row id is concat(keys, ts), so this is the
    same grain. Helper names are unique across both join sides so every
    later reference resolves by name (the spine derives from the frame it
    is joined back onto).
    """
    return df.select(
        *[F.col(k).alias(f"__ek_{k}") for k in join_keys],
        F.col(ts_col).alias("__ent_ts"),
    ).distinct()


def _latest(
    spine: DataFrame,
    feature_df: DataFrame,
    *,
    join_keys: list[str],
    feature_ts_col: str | None,
    features: list[str],
    created_col: str | None,
    ttl_seconds: int | None,
    strategy: str,
) -> DataFrame:
    """The newest feature payload per spine row: ``__ek_*``, ``__ent_ts``
    and the ``__payload`` struct of ``features``.

    A static view (no ``feature_ts_col``; an extension beyond the
    reference, whose views always carry event time) has no time to be
    newest at, so its one row per key comes from ``first`` over a struct of
    the features across the whole table, keyed ``__ek_*`` alone; the
    attach step's key join does the spine's part. ``first`` is the aggregate Spark itself
    plans ``dropDuplicates`` as, spelled out because a left join onto a
    ``dropDuplicates`` frame fails set operations on the result
    (``exceptAll`` raises INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND).
    """
    if not join_keys:
        raise RegistryError("point_in_time_join: empty join_keys")
    if not features:
        raise RegistryError("point_in_time_join: empty feature list")
    if strategy not in _STRATEGIES:
        raise RegistryError(
            f"point_in_time_join: unknown join strategy {strategy!r} "
            "(expected pair | time_bucketed | union_window)"
        )
    # type(), not isinstance(): a bool is an int but no TTL
    if ttl_seconds is not None and (type(ttl_seconds) is not int or ttl_seconds < 0):
        raise RegistryError(
            "point_in_time_join: ttl_seconds must be None or a non-negative "
            f"int, got {ttl_seconds!r}"
        )
    if strategy == "time_bucketed" and not ttl_seconds:
        raise RegistryError(
            "point_in_time_join: strategy 'time_bucketed' requires "
            "ttl_seconds (the bucket width is the TTL)"
        )

    if not feature_ts_col:
        return feature_df.groupBy(
            *[F.col(k).alias(f"__ek_{k}") for k in join_keys]
        ).agg(F.first(F.struct(*features)).alias("__payload"))
    kw = dict(join_keys=join_keys, feature_ts_col=feature_ts_col, features=features,
              created_col=created_col, ttl_seconds=ttl_seconds)
    if strategy == "union_window":
        return _union_window_latest(spine, feature_df, **kw)
    return _pair_latest(
        spine, feature_df, bucketed=(strategy == "time_bucketed"), **kw
    )


def _attach(
    out: DataFrame, latest: DataFrame, join_keys: list[str],
    entity_ts_col: str | None, features: list[str], prefix: str,
) -> DataFrame:
    """Left-join each payload back onto ``out`` — on the keys plus
    ``entity_ts_col``, or on the keys alone for a static view (no
    ``entity_ts_col``) — naming the features ``prefix + feature``. Rows of
    ``out`` with no payload keep NULL features."""
    on = [(out[k], f"__ek_{k}") for k in join_keys]
    if entity_ts_col:
        on.append((out[entity_ts_col], "__ent_ts"))
    payload = latest.select(
        *[F.col(h) for _, h in on],
        *[F.col(f"__payload.`{f}`").alias(f"{prefix}{f}") for f in features],
    )
    cond = _all(c == F.col(h) for c, h in on)
    return out.join(payload, cond, "left").drop(*[h for _, h in on])


def _pair_latest(
    spine: DataFrame,
    feature_df: DataFrame,
    *,
    join_keys: list[str],
    feature_ts_col: str,
    features: list[str],
    created_col: str | None,
    ttl_seconds: int | None,
    bucketed: bool,
) -> DataFrame:
    """Newest payload per spine row from key-equal candidate pairs
    (``pair``; ``time_bucketed`` when ``bucketed``)."""
    ent_ts = F.col("__ent_ts")
    feat_cols: list[Column] = [F.col(k).alias(f"__fk_{k}") for k in join_keys]
    feat_cols.append(F.col(feature_ts_col).alias("__f_ts"))
    if created_col:
        feat_cols.append(F.col(created_col).alias("__f_created"))
    feat_cols.extend(F.col(f).alias(f"__fv_{f}") for f in features)
    feat = feature_df.select(*feat_cols)

    if bucketed:
        # One bucket per feature row; entity probes bucket(ts) and
        # bucket(ts)-1 (explode of the two offsets) so every feature
        # in [ts-ttl, ts] shares a bucket with the probe.
        bucket = lambda ts_col: F.floor(  # noqa: E731
            F.unix_timestamp(ts_col) / F.lit(int(ttl_seconds))
        ).cast("long")
        feat = feat.withColumn("__f_bucket", bucket(F.col("__f_ts")))
        probes = F.array(bucket(ent_ts), bucket(ent_ts) - F.lit(1))
        spine = spine.select("*", F.explode(probes).alias("__e_bucket"))

    cond = _all(F.col(f"__ek_{k}") == F.col(f"__fk_{k}") for k in join_keys)
    if bucketed:
        cond = cond & (F.col("__e_bucket") == F.col("__f_bucket"))
    time_cond = F.col("__f_ts") <= ent_ts
    if ttl_seconds:
        # Interval lower bound: feature row valid only within
        # [entity_ts - ttl, entity_ts] (J2).
        lower = ent_ts - F.expr(f"INTERVAL {int(ttl_seconds)} SECOND")
        time_cond = time_cond & (F.col("__f_ts") >= lower)
    cond = cond & time_cond

    candidates = spine.join(feat, cond, "inner")
    if bucketed:
        # A feature row can match the same (entity, ts) through both
        # probed buckets only if buckets collide — impossible (one bucket
        # per feature row), so no dedup needed; drop the helper column.
        candidates = candidates.drop("__e_bucket", "__f_bucket")

    # Latest-wins dedup via max_by: a SortAggregate on the group keys
    # (struct payload; see module docstring).
    ordering = (
        F.struct(F.col("__f_ts"), F.col("__f_created"))
        if created_col
        else F.struct(F.col("__f_ts"))
    )
    payload = F.struct(*[F.col(f"__fv_{f}").alias(f) for f in features])
    return candidates.groupBy(
        *[F.col(f"__ek_{k}") for k in join_keys], F.col("__ent_ts")
    ).agg(F.max_by(payload, ordering).alias("__payload"))


def _union_window_latest(
    spine: DataFrame,
    feature_df: DataFrame,
    *,
    join_keys: list[str],
    feature_ts_col: str,
    features: list[str],
    created_col: str | None,
    ttl_seconds: int | None,
) -> DataFrame:
    """Newest payload per spine row from one sorted stream (``union_window``).

    Never materializes pairs. Both sides are unioned into one (key,
    ts)-sorted stream — feature rows ordered before spine rows at equal
    ts so the as-of predicate stays inclusive, and by (ts, created) among
    themselves so the running winner IS the ``max_by(payload, struct(ts,
    created))`` winner — and a running ``last(..., ignorenulls)`` over
    ROWS UNBOUNDED PRECEDING carries the newest feature payload onto each
    spine row: O(n log n) sort per key, O(n) frame evaluation (Spark's
    UnboundedPreceding frame keeps a running value; no per-row rescan).
    A TTL filters the carried payload afterwards — if the newest as-of
    feature row is older than the bound, every other candidate is too,
    so post-filtering is exactly the candidate-side interval predicate.
    """
    ordering = (
        F.struct(F.col(feature_ts_col), F.col(created_col))
        if created_col
        else F.struct(F.col(feature_ts_col))
    )
    payload = F.struct(
        F.col(feature_ts_col).alias("__f_ts"),
        *[F.col(f).alias(f) for f in features],
    )
    # Null join keys never match under equi-join semantics: drop them
    # from the stream (partitionBy would otherwise group NULLs together
    # and leak features across "equal" null keys). Spine rows with null
    # keys still survive via the final left join. A feature row with a
    # null event time never satisfies `feature.ts <= entity.ts` either
    # (it would sort first and be carried), so it goes too.
    feat_stream = feature_df.filter(
        _all(F.col(c).isNotNull() for c in [*join_keys, feature_ts_col])
    ).select(
        *[F.col(k).alias(f"__ek_{k}") for k in join_keys],
        F.col(feature_ts_col).alias("__ts"),
        F.lit(0).alias("__is_spine"),
        ordering.alias("__ord"),
        payload.alias("__payload"),
    )
    spine_stream = spine.filter(
        _all(F.col(f"__ek_{k}").isNotNull() for k in join_keys)
    ).select(
        *[F.col(f"__ek_{k}") for k in join_keys],
        F.col("__ent_ts").alias("__ts"),
        F.lit(1).alias("__is_spine"),
        F.lit(None).cast(feat_stream.schema["__ord"].dataType).alias("__ord"),
        F.lit(None).cast(feat_stream.schema["__payload"].dataType).alias(
            "__payload"
        ),
    )

    w = (
        Window.partitionBy(*[F.col(f"__ek_{k}") for k in join_keys])
        .orderBy(F.col("__ts"), F.col("__is_spine"), F.col("__ord"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        feat_stream.unionByName(spine_stream)
        .withColumn("__carry", F.last("__payload", ignorenulls=True).over(w))
        .filter(F.col("__is_spine") == 1)
    )
    if ttl_seconds:
        lower = F.col("__ts") - F.expr(f"INTERVAL {int(ttl_seconds)} SECOND")
        carried = carried.withColumn(
            "__carry",
            F.when(F.col("__carry.__f_ts") >= lower, F.col("__carry")),
        )
    return carried.select(
        *[F.col(f"__ek_{k}") for k in join_keys],
        F.col("__ts").alias("__ent_ts"),
        F.col("__carry").alias("__payload"),
    )


# ---- automatic as-of strategy selection (SURVEY.md §4.2) -------------
#
# Decision rule, from the measured crossovers (scripts/scale_experiment.py
# and scripts/scale_probe_pit_skew.py; docs/BENCH_NOTES_r09.md):
#
# - per-key history depth <~100: pair+max_by wins (bucket arithmetic and
#   the 2x probe duplication cost more than they save);
# - deep history WITH a TTL: time_bucketed (candidates capped at two TTL
#   windows regardless of depth — 4.4x at 50M events / 5M-event hot key);
# - deep or unbounded history WITHOUT a TTL: union_window (linear per-key
#   cost; the 30x hot-key cliff AQE cannot see, restored to 1.0x).
#
# The probe is a bounded, cached, feature-side stat: max per-key row count
# within the first _AUTO_PROBE_ROWS rows, computed once per (table path,
# entity columns) per process and NEVER re-run on the query path, so views
# over one table share it. It deliberately reads a row-limited prefix
# rather than sample() — deterministic, one-job, and at 100 TB it touches
# a handful of input splits instead of scanning the table. SPINE-side skew
# is per-query and invisible to a table-side stat: callers with a hot
# spine key call point_in_time_join(strategy="union_window") themselves
# (see scripts/scale_probe_pit_skew.py for when that matters).
_AUTO_PROBE_ROWS = 100_000
_AUTO_DEPTH_THRESHOLD = 128
_DEPTH_CACHE: dict[tuple[str, tuple[str, ...]], int] = {}

# view name -> strategy chosen by the most recent materialize_features
# call in this process; read by tests and scripts/dump_plans.py so every
# plan dump records WHICH physical as-of shape produced it.
_LAST_STRATEGY_CHOICES: dict[str, str] = {}


def last_strategy_choices() -> dict[str, str]:
    """Strategy picked per view by the latest materialize_features call."""
    return dict(_LAST_STRATEGY_CHOICES)


def _select_strategy(view, fdf: DataFrame, path: str) -> str:
    """The decision rule above, on the cached per-table depth probe."""
    keys = tuple(view.entities)
    if (path, keys) not in _DEPTH_CACHE:
        row = (
            fdf.select(*keys)
            .limit(_AUTO_PROBE_ROWS)
            .groupBy(*keys)
            .count()
            .agg(F.max("count").alias("d"))
            .first()
        )
        _DEPTH_CACHE[(path, keys)] = int(row["d"] or 0)
    if _DEPTH_CACHE[(path, keys)] > _AUTO_DEPTH_THRESHOLD:
        return "time_bucketed" if view.ttl_seconds else "union_window"
    return "pair"


def _check_output_names(
    entity_cols: list[str], resolved: dict[str, list[str]], full_feature_names: bool
) -> None:
    """Fail on an output column two sources would both produce (Feast's
    ``FeatureNameCollisionError``); case-insensitive, as Spark resolves."""
    sources = {c.lower(): (c, "the entity query") for c in entity_cols}
    for view_name, feats in resolved.items():
        for name in (f"{view_name}__{f}" if full_feature_names else f for f in feats):
            if name.lower() in sources:
                other, src = sources[name.lower()]
                raise RegistryError(
                    f"output column {name!r} of view {view_name!r} collides with "
                    f"column {other!r} of {src}; set full_feature_names=True or "
                    "rename the feature with the view's field_mapping"
                )
            sources[name.lower()] = (name, f"view {view_name!r}")


def materialize_features(
    spark: SparkSession,
    *,
    entity_query: str | DataFrame,
    features: list[str] | str,
    registry: Registry,
    sf_dir: str,
    entity_ts_col: str = "event_timestamp",
    full_feature_names: bool = False,
) -> DataFrame:
    """End-to-end historical retrieval: the engine's ``get_historical_features``.

    Mirrors the reference chain ``executor.py:76-87`` + the compiled SQL of
    ``executor.py:128-129``: resolve feature refs or a feature-service name
    through the registry (P1/P2/P5), run the entity SQL (S1), then attach
    each referenced view in turn (J5 multi-view composition — each view
    deduped independently, all LEFT onto the spine).
    ``full_feature_names=True`` prefixes outputs ``view__feature`` (Feast's
    naming option; default unprefixed like the reference). Two sources
    producing one output column raise :class:`RegistryError`.

    Temporal and static views take the same three steps as
    :func:`point_in_time_join`: spine, newest payload per spine row, left
    join back onto the running frame. A view's spine comes from the entity
    frame when it holds all the view's keys, else from the running frame
    (a view keyed on an earlier view's feature).

    Each distinct feature table (format, resolved path) is read once per
    call and shared by every view over it; each view normalizes the time
    columns of its field-mapped frame here. Each temporal view's physical
    as-of strategy comes from the measured decision rule above
    :func:`_select_strategy`, on a depth probe cached per (table, entity
    columns); all three strategies are oracle-equivalent — only the plan
    differs. The per-view choice is recorded in
    :func:`last_strategy_choices` so plan dumps show which shape ran.
    """
    resolved = registry.resolve_features(features)
    _LAST_STRATEGY_CHOICES.clear()

    entity_df = (
        spark.sql(entity_query) if isinstance(entity_query, str) else entity_query
    )
    if entity_ts_col not in entity_df.columns:
        raise RegistryError(
            f"entity query result lacks timestamp column {entity_ts_col!r}"
        )
    _check_output_names(entity_df.columns, resolved, full_feature_names)

    tables: dict[tuple[str, str], DataFrame] = {}
    out = entity_df
    for view_name, feats in resolved.items():
        view = registry.views[view_name]
        path = view.resolve_path(sf_dir)
        if (view.format, path) not in tables:
            tables[(view.format, path)] = view.read(spark, sf_dir)
        fdf = tables[(view.format, path)].withColumnsRenamed(view.field_mapping)
        fdf = normalize_timestamps(fdf, (view.timestamp_col,))
        prefix = f"{view_name}__" if full_feature_names else ""
        missing = [k for k in view.entities if k not in out.columns]
        if missing:
            raise RegistryError(
                f"entity dataframe lacks join key(s) {missing} for view "
                f"{view_name!r}"
            )
        # Derive this view's spine from the ENTITY frame whenever its keys
        # live there (they almost always do; the exception is a view keyed
        # on a feature produced by an earlier view). This keeps the logical
        # tree, and query compile time, linear in the number of views
        # instead of doubling per view: measured compile time for a
        # 10-view chain was 6.3s spined on the running frame vs 0.9s on
        # the entity frame. The physical plan is the same either way
        # (outer-join elimination prunes the chained left joins out of the
        # spine's distinct subtree).
        keys = list(view.entities)
        base = entity_df if all(k in entity_df.columns for k in keys) else out
        strategy = "pair"  # a static view's latest step has no strategy
        if view.timestamp_col:
            strategy = _select_strategy(view, fdf, path)
            _LAST_STRATEGY_CHOICES[view_name] = strategy
        latest = _latest(
            _spine(base, keys, entity_ts_col), fdf, join_keys=keys,
            feature_ts_col=view.timestamp_col, features=feats,
            created_col=view.created_col, ttl_seconds=view.ttl_seconds,
            strategy=strategy,
        )
        ts = entity_ts_col if view.timestamp_col else None
        out = _attach(out, latest, keys, ts, feats, prefix)
    return out


def nearest_event_join(
    entity_df: DataFrame,
    feature_df: DataFrame,
    *,
    join_keys: list[str],
    entity_ts_col: str,
    feature_ts_col: str,
    features: list[str],
    tolerance_seconds: int,
    created_col: str | None = None,
) -> DataFrame:
    """Nearest-in-time join (pandas ``merge_asof(direction='nearest')``):
    for each entity row, the single feature row with the same keys
    minimizing ``|feature_ts - entity_ts|``, bounded by a mandatory
    ``tolerance_seconds`` window either direction. Complements the
    backward-only :func:`point_in_time_join` for sensor alignment and
    event attribution where the closest reading wins regardless of side.

    Always time-bucketed — the tolerance is mandatory precisely so the
    candidate set is bounded: each feature row lands in bucket
    ``floor(us / tol_us)``, each entity probes its own bucket and both
    neighbors (covering the full ±tolerance interval), and the exact
    range predicate filters inside the match. A hot key pairs each
    entity row with at most three tolerance windows of history — the
    same 100 TB interval-join shape as ``time_bucketed`` pit_join, made
    non-optional because "nearest" without a bound is a full-history
    scan per row.

    Ties (equal distance both sides) break backward-first, then newest
    ``created_col`` — deterministic and replayable in ANSI SQL.
    Microsecond integer arithmetic throughout; entities with no
    candidate keep NULL features (left-outer).
    """
    tol_us = int(tolerance_seconds) * 1_000_000
    e_us = F.unix_micros(F.col(entity_ts_col))
    f_us = F.unix_micros(F.col(feature_ts_col))
    extra = [created_col] if created_col else []
    spine = entity_df.select(*join_keys, entity_ts_col).distinct()
    probes = spine.select(
        "*",
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("__d"),
    ).withColumn("__b", F.floor(e_us / tol_us) + F.col("__d"))
    fb = feature_df.select(
        *join_keys, feature_ts_col, *features, *extra
    ).withColumn("__b", F.floor(f_us / tol_us))
    dist = F.abs(f_us - e_us)
    order = [
        F.asc(dist),
        # backward-first on exact-distance ties
        F.asc(F.when(f_us <= e_us, 0).otherwise(1)),
        F.asc(feature_ts_col),
    ]
    if created_col:
        order.append(F.desc(created_col))
    w = Window.partitionBy(*join_keys, entity_ts_col).orderBy(*order)
    best = (
        probes.join(fb, [*join_keys, "__b"])
        .filter(dist <= tol_us)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *join_keys,
            entity_ts_col,
            F.col(feature_ts_col).alias("matched_ts"),
            *features,
        )
    )
    return entity_df.join(best, [*join_keys, entity_ts_col], "left")
