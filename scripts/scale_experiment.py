"""Scale/skew experiment for the point-in-time join (not part of CI).

Generates a deep-history events table with a deliberately skewed hot key
entirely in Spark (no files), then times the plain range-predicate as-of
join against the time-bucketed variant. Demonstrates/validates the
100 TB design notes in operators/pit_join.py.

Usage: python scripts/scale_experiment.py [n_events] [n_users] [n_snapshots]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from tfx_addons_feast_examplegen_spark.operators.pit_join import point_in_time_join
from tfx_addons_feast_examplegen_spark.session import get_spark


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_users = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    n_snaps = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    spark = get_spark("scale_experiment")

    # 360 days of history; 10% of events land on user 0 (hot key), the
    # rest uniform. Deterministic via xxhash64 of the row id.
    ev = (
        spark.range(n_events)
        .withColumn("h", F.abs(F.xxhash64("id")))
        .select(
            F.col("id").alias("event_id"),
            F.when(F.col("h") % 10 == 0, F.lit(0))
            .otherwise(F.col("h") % n_users)
            .alias("user_id"),
            F.timestamp_seconds(
                F.lit(1704067200) + (F.col("h") % (360 * 24 * 3600))
            ).alias("ts"),
            (F.col("h") % 10000 / 100.0).alias("value"),
        )
    )
    spine = (
        spark.range(n_users)
        .select(F.col("id").alias("user_id"))
        .crossJoin(
            spark.sql(
                f"SELECT explode(sequence(0, {n_snaps - 1})) AS snap"
            ).select(
                F.timestamp_seconds(
                    F.lit(1704067200)
                    + F.col("snap") * (360 // n_snaps) * 24 * 3600
                ).alias("event_timestamp")
            )
        )
    )
    ev = ev.localCheckpoint()  # materialize input once; time only the join
    spine = spine.localCheckpoint()
    print(
        f"events={ev.count():,} users={n_users:,} spine={spine.count():,} "
        f"hot-user events={ev.filter('user_id=0').count():,}"
    )

    kw = dict(
        join_keys=["user_id"],
        entity_ts_col="event_timestamp",
        feature_ts_col="ts",
        features=["value"],
        created_col="event_id",
        ttl_seconds=7 * 24 * 3600,
    )
    for label, strategy in [("plain-range", "pair"), ("time-bucketed", "time_bucketed")]:
        t0 = time.time()
        out = point_in_time_join(spine, ev, strategy=strategy, **kw)
        out.write.mode("overwrite").format("noop").save()
        print(f"{label:14s} {time.time() - t0:6.1f}s")


if __name__ == "__main__":
    main()
