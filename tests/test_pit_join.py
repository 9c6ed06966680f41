"""Point-in-time join edge cases (FIXTURES.md's mandated list):

- entities with no matching feature row -> left-join NULLs (J6)
- feature rows only after the entity timestamp must not leak (J1)
- equal event timestamps -> created_col tie-break (J3)
- TTL-expired rows excluded (J2)
- duplicate spine rows get identical features (row-id grain)
"""

import datetime as dt

import pytest
from pyspark.sql import Row

from tfx_addons_feast_examplegen_spark.operators.pit_join import point_in_time_join

T = dt.datetime


def _entities(spark, rows):
    return spark.createDataFrame(
        [Row(uid=u, ts=t) for u, t in rows], "uid long, ts timestamp"
    )


def _features(spark, rows):
    return spark.createDataFrame(
        [Row(uid=u, fts=t, created=c, val=v) for u, t, c, v in rows],
        "uid long, fts timestamp, created long, val double",
    )


def _join(ent, feat, **kw):
    defaults = dict(
        join_keys=["uid"],
        entity_ts_col="ts",
        feature_ts_col="fts",
        features=["val"],
        created_col="created",
    )
    defaults.update(kw)
    return point_in_time_join(ent, feat, **defaults)


def test_picks_latest_at_or_before(spark):
    ent = _entities(spark, [(1, T(2024, 1, 10))])
    feat = _features(
        spark,
        [
            (1, T(2024, 1, 1), 1, 10.0),
            (1, T(2024, 1, 9), 2, 20.0),   # latest at-or-before -> wins
            (1, T(2024, 1, 11), 3, 30.0),  # future: must not leak
        ],
    )
    [row] = _join(ent, feat).collect()
    assert row.val == 20.0


def test_exact_timestamp_match_included(spark):
    # as-of is <= (inclusive), per the reference's compiled template.
    ent = _entities(spark, [(1, T(2024, 1, 10))])
    feat = _features(spark, [(1, T(2024, 1, 10), 1, 42.0)])
    [row] = _join(ent, feat).collect()
    assert row.val == 42.0


def test_no_match_yields_null(spark):
    ent = _entities(spark, [(1, T(2024, 1, 10)), (2, T(2024, 1, 10))])
    feat = _features(spark, [(1, T(2024, 1, 5), 1, 1.0)])
    rows = {r.uid: r.val for r in _join(ent, feat).collect()}
    assert rows[1] == 1.0
    assert rows[2] is None


def test_tie_break_on_created_col(spark):
    ent = _entities(spark, [(1, T(2024, 1, 10))])
    feat = _features(
        spark,
        [
            (1, T(2024, 1, 9), 5, 50.0),
            (1, T(2024, 1, 9), 9, 90.0),  # same ts, newer created -> wins
        ],
    )
    [row] = _join(ent, feat).collect()
    assert row.val == 90.0


def test_ttl_excludes_stale_rows(spark):
    ent = _entities(spark, [(1, T(2024, 1, 10))])
    feat = _features(spark, [(1, T(2024, 1, 1), 1, 10.0)])  # 9 days old
    [row] = _join(ent, feat, ttl_seconds=7 * 24 * 3600).collect()
    assert row.val is None  # expired
    [row] = _join(ent, feat, ttl_seconds=30 * 24 * 3600).collect()
    assert row.val == 10.0  # within wider TTL


def test_ttl_boundary_inclusive(spark):
    # Lower bound is entity_ts - ttl, inclusive (>=), matching the
    # reference template's interval predicate.
    ent = _entities(spark, [(1, T(2024, 1, 10))])
    feat = _features(spark, [(1, T(2024, 1, 3), 1, 10.0)])  # exactly 7 days
    [row] = _join(ent, feat, ttl_seconds=7 * 24 * 3600).collect()
    assert row.val == 10.0


def test_duplicate_spine_rows_share_features(spark):
    ent = spark.createDataFrame(
        [Row(uid=1, ts=T(2024, 1, 10), tag="a"), Row(uid=1, ts=T(2024, 1, 10), tag="b")],
        "uid long, ts timestamp, tag string",
    )
    feat = _features(spark, [(1, T(2024, 1, 5), 1, 7.0)])
    rows = _join(ent, feat).collect()
    assert len(rows) == 2
    assert {r.tag for r in rows} == {"a", "b"}
    assert all(r.val == 7.0 for r in rows)


def test_multiple_entities_independent(spark):
    ent = _entities(spark, [(1, T(2024, 1, 10)), (2, T(2024, 1, 10))])
    feat = _features(
        spark,
        [(1, T(2024, 1, 9), 1, 10.0), (2, T(2024, 1, 8), 1, 20.0)],
    )
    rows = {r.uid: r.val for r in _join(ent, feat).collect()}
    assert rows == {1: 10.0, 2: 20.0}


def test_per_snapshot_asof(spark):
    # Same entity at two snapshot times sees different feature versions.
    ent = _entities(spark, [(1, T(2024, 1, 5)), (1, T(2024, 1, 20))])
    feat = _features(
        spark,
        [(1, T(2024, 1, 1), 1, 1.0), (1, T(2024, 1, 10), 2, 2.0)],
    )
    rows = {r.ts: r.val for r in _join(ent, feat).collect()}
    assert rows == {T(2024, 1, 5): 1.0, T(2024, 1, 20): 2.0}


def test_empty_features_rejected(spark):
    ent = _entities(spark, [(1, T(2024, 1, 10))])
    feat = _features(spark, [(1, T(2024, 1, 5), 1, 1.0)])
    from tfx_addons_feast_examplegen_spark.registry import RegistryError

    with pytest.raises(RegistryError):
        _join(ent, feat, features=[])


def test_field_mapping_renames(spark, sf_dir):
    # P3: view-level source-column -> feature-name renames via registry.
    from tfx_addons_feast_examplegen_spark.operators.pit_join import (
        materialize_features,
    )
    from tfx_addons_feast_examplegen_spark.registry import FeatureView, Registry
    from tfx_addons_feast_examplegen_spark.session import register_tables

    register_tables(spark, sf_dir)
    reg = Registry(
        views={
            "ev": FeatureView(
                name="ev",
                path="events.parquet",
                entities=("user_id",),
                timestamp_col="ts",
                features=("amount", "kind"),
                created_col="event_id",
                field_mapping={"value": "amount", "event_type": "kind"},
            )
        }
    )
    df = materialize_features(
        spark,
        entity_query="""
            SELECT c_custkey AS user_id,
                   TIMESTAMP '2024-01-20 00:00:00' AS event_timestamp
            FROM customer WHERE c_custkey < 20
        """,
        features=["ev:amount", "ev:kind"],
        registry=reg,
        sf_dir=sf_dir,
    )
    assert {"amount", "kind"} <= set(df.columns)
    rows = df.filter("amount IS NOT NULL").collect()
    assert len(rows) > 0


def test_time_bucketed_equivalence(spark, sf_dir):
    # The bucketed interval join must produce byte-identical results to
    # the naive range join (SURVEY.md §4.2 scale technique).
    from tfx_addons_feast_examplegen_spark.session import register_tables

    t = register_tables(spark, sf_dir)
    spine = spark.sql("""
        SELECT c_custkey AS user_id, event_timestamp
        FROM customer CROSS JOIN (VALUES (TIMESTAMP '2024-01-08 00:00:00'),
            (TIMESTAMP '2024-01-15 00:00:00'), (TIMESTAMP '2024-01-22 12:34:56'),
            (TIMESTAMP '2024-01-29 00:00:00')) AS v(event_timestamp)
    """)
    kw = dict(
        join_keys=["user_id"],
        entity_ts_col="event_timestamp",
        feature_ts_col="ts",
        features=["value", "event_type"],
        created_col="event_id",
        ttl_seconds=7 * 24 * 3600,
    )
    plain = point_in_time_join(spine, t["events"], **kw)
    bucketed = point_in_time_join(spine, t["events"], time_bucketed=True, **kw)
    key = lambda r: (r.user_id, r.event_timestamp)
    a = sorted(((key(r), r.value, r.event_type) for r in plain.collect()))
    b = sorted(((key(r), r.value, r.event_type) for r in bucketed.collect()))
    assert a == b
    assert len(a) == plain.count()


def test_time_bucketed_requires_ttl(spark):
    from tfx_addons_feast_examplegen_spark.registry import RegistryError

    ent = _entities(spark, [(1, T(2024, 1, 10))])
    feat = _features(spark, [(1, T(2024, 1, 5), 1, 1.0)])
    with pytest.raises(RegistryError):
        _join(ent, feat, time_bucketed=True)


def test_empty_feature_table(spark):
    # Entities survive with NULLs when the feature table is empty.
    ent = _entities(spark, [(1, T(2024, 1, 10)), (2, T(2024, 1, 11))])
    feat = _features(spark, [])
    rows = _join(ent, feat).collect()
    assert len(rows) == 2
    assert all(r.val is None for r in rows)


def test_empty_entity_spine(spark):
    ent = _entities(spark, [])
    feat = _features(spark, [(1, T(2024, 1, 5), 1, 1.0)])
    assert _join(ent, feat).count() == 0


def test_null_entity_key_keeps_row_with_null_features(spark):
    # NULL join keys never match (SQL equality semantics) but the entity
    # row itself survives the left join.
    ent = spark.createDataFrame(
        [(None, T(2024, 1, 10)), (1, T(2024, 1, 10))],
        "uid long, ts timestamp",
    )
    feat = _features(spark, [(1, T(2024, 1, 5), 1, 5.0)])
    rows = {r.uid: r.val for r in _join(ent, feat).collect()}
    assert rows[1] == 5.0
    assert rows[None] is None


def test_spine_source_chain_is_linear_and_equivalent(spark):
    # Chaining N as-of joins with spine_source=base keeps the analyzed
    # logical tree linear in N (the chained form doubles per level and
    # pays superlinear compile time on wide feature services); results
    # are identical either way.
    ent = _entities(spark, [(1, T(2024, 1, 10)), (2, T(2024, 1, 10))])
    feat = _features(spark, [(1, T(2024, 1, 5), 1, 5.0)])

    def chain(spine_source):
        out = ent
        for i in range(4):
            out = _join(
                out,
                feat.withColumnRenamed("val", f"v{i}"),
                features=[f"v{i}"],
                spine_source=spine_source,
            )
        return out

    base = chain(ent)
    chained = chain(None)
    n_base = base._jdf.queryExecution().analyzed().toString().count("Join")
    n_chained = chained._jdf.queryExecution().analyzed().toString().count("Join")
    assert n_base < n_chained  # logical tree no longer doubles per level
    key = lambda r: (r.uid, r.v0, r.v1, r.v2, r.v3)  # noqa: E731
    assert sorted(map(key, base.collect())) == sorted(map(key, chained.collect()))


def test_nearest_event_join_picks_closest_either_side(spark):
    import datetime as dt

    from pyspark.sql import Row

    from tfx_addons_feast_examplegen_spark.operators.pit_join import (
        nearest_event_join,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    entities = spark.createDataFrame(
        [Row(k=1, ts=s(0)), Row(k=1, ts=s(1000)), Row(k=2, ts=s(0))],
        "k long, ts timestamp",
    )
    feats = spark.createDataFrame(
        [
            Row(k=1, fts=s(-30), v=1.0, cid=1),   # 30s back
            Row(k=1, fts=s(20), v=2.0, cid=2),    # 20s forward -> closest
            Row(k=1, fts=s(1599), v=3.0, cid=3),  # 599s from 1000 - within
            # k=2 candidate exactly AT the tolerance boundary (inclusive)
            Row(k=2, fts=s(600), v=4.0, cid=4),
        ],
        "k long, fts timestamp, v double, cid long",
    )
    out = nearest_event_join(
        entities, feats, join_keys=["k"], entity_ts_col="ts",
        feature_ts_col="fts", features=["v"], tolerance_seconds=600,
        created_col="cid",
    )
    rows = {(r.k, r.ts): r for r in out.collect()}
    assert rows[(1, s(0))].v == 2.0          # forward 20s beats back 30s
    assert rows[(1, s(1000))].v == 3.0       # within tolerance
    assert rows[(2, s(0))].v == 4.0          # boundary is inclusive


def test_nearest_event_join_tie_breaks_backward(spark):
    import datetime as dt

    from pyspark.sql import Row

    from tfx_addons_feast_examplegen_spark.operators.pit_join import (
        nearest_event_join,
    )

    t0 = dt.datetime(2024, 1, 1)
    entities = spark.createDataFrame(
        [Row(k=1, ts=t0)], "k long, ts timestamp"
    )
    feats = spark.createDataFrame(
        [
            Row(k=1, fts=t0 - dt.timedelta(seconds=10), v=1.0, cid=1),
            Row(k=1, fts=t0 + dt.timedelta(seconds=10), v=2.0, cid=2),
        ],
        "k long, fts timestamp, v double, cid long",
    )
    out = nearest_event_join(
        entities, feats, join_keys=["k"], entity_ts_col="ts",
        feature_ts_col="fts", features=["v"], tolerance_seconds=60,
        created_col="cid",
    ).collect()
    assert out[0].v == 1.0  # equal distance -> backward wins


# ---------------------------------------------------------------------------
# union-window strategy (linear per-key cost; hot-key path)
# ---------------------------------------------------------------------------


def _join_uw(ent, feat, **kw):
    from tfx_addons_feast_examplegen_spark.operators.pit_join import (
        point_in_time_join_union_window,
    )

    defaults = dict(
        join_keys=["uid"],
        entity_ts_col="ts",
        feature_ts_col="fts",
        features=["val"],
        created_col="created",
    )
    defaults.update(kw)
    return point_in_time_join_union_window(ent, feat, **defaults)


def test_union_window_edge_semantics(spark):
    # The mandated edge list in one fixture: inclusive as-of, future
    # leak, created tie-break, no-match NULL, per-entity independence.
    ent = _entities(
        spark,
        [(1, T(2024, 1, 10)), (1, T(2024, 1, 2)), (2, T(2024, 1, 10)),
         (3, T(2024, 1, 10))],
    )
    feat = _features(
        spark,
        [
            (1, T(2024, 1, 1), 1, 10.0),
            (1, T(2024, 1, 10), 2, 20.0),   # exact ts: inclusive
            (1, T(2024, 1, 10), 9, 25.0),   # same ts: created wins
            (1, T(2024, 1, 11), 3, 30.0),   # future: must not leak
            (2, T(2024, 1, 4), 1, 40.0),
        ],
    )
    got = {(r.uid, r.ts): r.val for r in _join_uw(ent, feat).collect()}
    assert got == {
        (1, T(2024, 1, 10)): 25.0,
        (1, T(2024, 1, 2)): 10.0,
        (2, T(2024, 1, 10)): 40.0,
        (3, T(2024, 1, 10)): None,
    }


def test_union_window_ttl_and_boundary(spark):
    ent = _entities(spark, [(1, T(2024, 1, 10)), (2, T(2024, 1, 10))])
    feat = _features(
        spark,
        [
            (1, T(2024, 1, 1), 1, 10.0),   # 9 days old: outside 7d TTL
            (2, T(2024, 1, 3), 1, 40.0),   # exactly 7d: boundary inclusive
        ],
    )
    got = {
        r.uid: r.val
        for r in _join_uw(ent, feat, ttl_seconds=7 * 24 * 3600).collect()
    }
    assert got == {1: None, 2: 40.0}


def test_union_window_null_key_and_duplicate_spine(spark):
    ent = spark.createDataFrame(
        [Row(uid=None, ts=T(2024, 1, 10)), Row(uid=1, ts=T(2024, 1, 10)),
         Row(uid=1, ts=T(2024, 1, 10))],
        "uid long, ts timestamp",
    )
    feat = _features(
        spark,
        [(None, T(2024, 1, 5), 1, 66.0), (1, T(2024, 1, 5), 1, 10.0)],
    )
    rows = _join_uw(ent, feat).collect()
    # null-key spine survives with NULL features (never matches the
    # null-key feature row), duplicate spine rows both carry features
    assert sorted(((r.uid, r.val) for r in rows), key=str) == sorted(
        [(None, None), (1, 10.0), (1, 10.0)], key=str
    )


def test_union_window_equivalence_on_fixture_tables(spark, sf_dir):
    # Strategy equivalence on real data: pair+max_by vs union-window
    # must agree row-for-row, with and without TTL, with a prefix.
    from tfx_addons_feast_examplegen_spark.operators.pit_join import (
        point_in_time_join_union_window,
    )
    from tfx_addons_feast_examplegen_spark.session import register_tables

    t = register_tables(spark, sf_dir)
    spine = spark.sql("""
        SELECT c_custkey AS user_id, event_timestamp
        FROM customer CROSS JOIN (VALUES (TIMESTAMP '2024-01-08 00:00:00'),
            (TIMESTAMP '2024-01-15 00:00:00'), (TIMESTAMP '2024-01-22 12:34:56'),
            (TIMESTAMP '2024-01-29 00:00:00')) AS v(event_timestamp)
    """)
    for kw in (
        {},
        {"ttl_seconds": 7 * 24 * 3600},
        {"output_prefix": "f_"},
    ):
        base = dict(
            join_keys=["user_id"],
            entity_ts_col="event_timestamp",
            feature_ts_col="ts",
            features=["value", "event_type"],
            created_col="event_id",
            **kw,
        )
        v = "f_value" if kw.get("output_prefix") else "value"
        e = "f_event_type" if kw.get("output_prefix") else "event_type"
        a = sorted(
            ((r.user_id, r.event_timestamp, r[v], r[e])
             for r in point_in_time_join(spine, t["events"], **base).collect()),
            key=str,
        )
        b = sorted(
            ((r.user_id, r.event_timestamp, r[v], r[e])
             for r in point_in_time_join_union_window(
                 spine, t["events"], **base).collect()),
            key=str,
        )
        assert a == b and len(a) > 0
