"""Skewed-spine probe for the flagship point-in-time join.

The sf100-equivalent probe (scale_probe_pit.py) scales DATA volume but
keeps keys uniform; this probe isolates the remaining scale dimension:
a HOT entity key. Real feature-store spines skew hard (one power user,
one bot account, one default/test entity), and the pit_join candidate
join enumerates every key-equal (spine row, event) pair before the
range filter — on a hot key that enumeration is quadratic in the key's
row counts, concentrated in ONE reduce partition.

The question this probe answers (mirroring scale_probe_skew.py's
salted-join-vs-AQE measurement): does AQE's skew-join mitigation help
the production pit_join plan on a hot key, or is the engine's own
``time_bucketed`` variant required? The hypothesis, from reading
Spark's AQE rules: NO — ``OptimizeSkewedJoin`` detects skew by
*partition bytes* (``skewedPartitionThresholdInBytes``, default
256 MiB), and a hot key whose pair ENUMERATION is quadratic can sit in
a partition of only a few MiB. Byte-based detection is blind to join-
amplification skew; only restructuring the join key space
(``time_bucketed`` adds ``floor(ts/ttl)`` to the equi key) bounds the
enumeration.

Setup: 10M events / 2M spine rows, 1% of BOTH sides on one hot key
(the rest uniform over 100k keys), 90 days of history, ttl = 7 days,
multi-file materialized parquet, shuffle partitions 128. The hot key
pairs ~100k events x ~20k spine rows = ~2e9 enumerations (~10MB of
partition bytes — far under every AQE threshold) vs ~2k enumerations
for a median key: a 1000x compute skew invisible to byte metrics.

Variants (row-count-checked equal where inputs match):

  uniform baseline        — same volumes, no hot key, plain+ttl
  skewed, AQE defaults    — production plan, skew-join ON (256 MiB bar)
  skewed, AQE aggressive  — threshold 4 MiB / factor 2 (best case)
  skewed, AQE skew OFF    — the unmitigated worst case
  skewed, time_bucketed   — the TTL-keyed mitigation
  skewed, union_window    — the linear-per-key strategy (no TTL needed)

Usage: python scripts/scale_probe_pit_skew.py

Measured (local[32], 128 GiB): see docs/BENCH_NOTES_r09.md — run as a
quiet-host probe, min of 2 passes after a count() warm.
"""

import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F

from tfx_addons_feast_examplegen_spark.operators.pit_join import point_in_time_join
from tfx_addons_feast_examplegen_spark.session import get_spark

N_EVENTS, N_SPINE, N_KEYS = 10_000_000, 2_000_000, 100_000
HOT = 7  # the hot entity key
SPAN = 90 * 86_400  # 90 days of event history
TTL = 7 * 86_400  # production staleness bound

spark = get_spark("pit-skew-probe")
spark.conf.set("spark.sql.shuffle.partitions", "128")


def make_sides(skewed: bool):
    def key(hot_mod: int):
        uniform = F.pmod(F.xxhash64("id"), F.lit(N_KEYS))
        if not skewed:
            return uniform
        return (
            F.when(F.col("id") % hot_mod == 0, F.lit(HOT)).otherwise(uniform)
        )

    ev = spark.range(N_EVENTS).select(
        key(100).alias("user_id"),  # 1% of events on the hot key
        F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(SPAN))
        ).alias("ts"),
        (F.col("id") % 1000).cast("double").alias("value"),
        F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias(
            "event_type"
        ),
        F.col("id").alias("event_id"),
    )
    sp = spark.range(N_SPINE).select(
        key(100).alias("user_id"),  # 1% of spine rows on the hot key
        F.timestamp_seconds(
            F.lit(1704067200)
            + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(SPAN))
        ).alias("event_timestamp"),
    )
    base = tempfile.mkdtemp(prefix=f"pitskew_{int(skewed)}_")
    ev.repartition(64).write.mode("overwrite").parquet(base + "/ev")
    sp.repartition(64).write.mode("overwrite").parquet(base + "/sp")
    return (
        spark.read.parquet(base + "/ev"),
        spark.read.parquet(base + "/sp"),
        base,
    )


def run(ev, sp, *, strategy: str = "pair") -> tuple[float, int]:
    kw = dict(
        join_keys=["user_id"],
        entity_ts_col="event_timestamp",
        feature_ts_col="ts",
        features=["value", "event_type"],
        created_col="event_id",
        ttl_seconds=TTL,
    )
    out = point_in_time_join(sp, ev, strategy=strategy, **kw)
    n = out.count()  # warm + row-count equivalence evidence
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        out.write.mode("overwrite").format("noop").save()
        best = min(best, time.time() - t0)
    return best, n


def report(label: str, ev, sp, **kw) -> None:
    secs, n = run(ev, sp, **kw)
    print(f"RESULT {label:<22s} pit_join={secs:.2f}s rows={n}", flush=True)


auto_only = "--auto-only" in sys.argv  # skip the (slow) AQE scenarios

if not auto_only:
    ev_u, sp_u, base_u = make_sides(skewed=False)
ev_s, sp_s, base_s = make_sides(skewed=True)

if not auto_only:
    report("uniform", ev_u, sp_u)
    report("skewed aqe-default", ev_s, sp_s)

    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m"
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m"
    )
    report("skewed aqe-aggressive", ev_s, sp_s)
    spark.conf.unset(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    )
    spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    report("skewed skewfix-off", ev_s, sp_s)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    report("skewed time-bucketed", ev_s, sp_s, strategy="time_bucketed")
    report("skewed union-window", ev_s, sp_s, strategy="union_window")
    report("uniform union-window", ev_u, sp_u, strategy="union_window")

# ---- auto-selection end-to-end (round 10) ---------------------------
# materialize_features must pick the mitigation ITSELF: the registry-
# time depth probe sees the deep per-key history (hot key ~1000 rows
# within the 100k-row prefix, >> the 128 crossover) and selects
# time_bucketed (TTL present) / union_window (no TTL) without the
# caller knowing about the cliff. Wall time should match the pinned
# strategy above, not the pair join's 30x blowup.
from tfx_addons_feast_examplegen_spark.operators.pit_join import (  # noqa: E402
    last_strategy_choices,
    materialize_features,
)
from tfx_addons_feast_examplegen_spark.registry import (  # noqa: E402
    FeatureView,
    Registry,
)

if auto_only:  # pinned references so the auto numbers are interpretable
    report("skewed time-bucketed", ev_s, sp_s, strategy="time_bucketed")
    report("skewed union-window", ev_s, sp_s, strategy="union_window")

sp_s.createOrReplaceTempView("skewed_spine")
for label, ttl in (("auto-ttl", TTL), ("auto-unbounded", None)):
    reg = Registry(
        views={
            "ev": FeatureView(
                name="ev",
                path=base_s + "/ev",
                entities=("user_id",),
                timestamp_col="ts",
                features=("value", "event_type"),
                created_col="event_id",
                ttl_seconds=ttl,
            )
        }
    )
    out = materialize_features(
        spark,
        entity_query="SELECT * FROM skewed_spine",
        features=["ev:value", "ev:event_type"],
        registry=reg,
        sf_dir="/",
    )
    n = out.count()
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        out.write.mode("overwrite").format("noop").save()
        best = min(best, time.time() - t0)
    chosen = last_strategy_choices()["ev"]
    print(
        f"RESULT {label:<22s} strategy={chosen} pit_join={best:.2f}s rows={n}",
        flush=True,
    )
