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


def _registry(tmp_path, tables, views):
    """A Registry over parquet copies of ``tables`` ({name: frame}) in
    ``tmp_path``; each view's ``path`` names its table."""
    from tfx_addons_feast_examplegen_spark.registry import FeatureView, Registry

    for name, df in tables.items():
        df.write.parquet(str(tmp_path / f"{name}.parquet"))
    return Registry(views={
        v["name"]: FeatureView(
            **{**v, "path": str(tmp_path / f"{v['path']}.parquet")}
        )
        for v in views
    })


def _materialize(ent, reg, features, **kw):
    from tfx_addons_feast_examplegen_spark.operators.pit_join import (
        materialize_features,
    )

    return materialize_features(
        ent.sparkSession, entity_query=ent, features=features, registry=reg,
        sf_dir="", entity_ts_col="ts", **kw,
    )


def test_static_view_one_row_per_key_and_set_ops(spark, sf_dir, tmp_path):
    from tfx_addons_feast_examplegen_spark.queries import queries

    ent = _entities(spark, [(1, T(2024, 1, 10)), (2, T(2024, 1, 10)),
                            (3, T(2024, 1, 10))])
    dim = spark.createDataFrame(
        [(1, 5.0, "a"), (1, 6.0, "b"), (2, 7.0, "c")],
        "uid long, x double, y string",
    )
    reg = _registry(tmp_path, {"dim": dim}, [dict(
        name="d", path="dim", entities=("uid",), timestamp_col="",
        features=("x", "y"),
    )])
    out = _materialize(ent, reg, ["d:x", "d:y"], full_feature_names=True)
    assert out.columns == ["uid", "ts", "d__x", "d__y"]
    got = out.collect()
    assert len(got) == 3  # a duplicated dimension key still gives one row
    rows = {r.uid: (r.d__x, r.d__y) for r in got}
    assert rows[1] in {(5.0, "a"), (6.0, "b")}  # both fields from one row
    assert rows[2] == (7.0, "c")
    assert rows[3] == (None, None)
    # a left join onto a dropDuplicates frame failed set operations
    assert out.exceptAll(out).count() == 0
    multiview = queries()["pit_join_multiview"](spark, sf_dir)
    assert multiview.exceptAll(multiview).count() == 0


def test_view_keyed_on_an_earlier_views_feature(spark, tmp_path):
    # The second view's key `region` is not in the entity frame but a
    # feature of the first view, so its spine comes from the running
    # frame: each entity row is joined as of its own time, first to its
    # account's region, then to that region's score.
    ent = _entities(spark, [(1, T(2024, 1, 10)), (1, T(2024, 1, 3)),
                            (2, T(2024, 1, 10)), (3, T(2024, 1, 10))])
    accounts = spark.createDataFrame(
        [(1, T(2024, 1, 1), "r1"), (1, T(2024, 1, 5), "r2"),
         (2, T(2024, 1, 2), "r2")],
        "uid long, fts timestamp, region string",
    )
    regions = spark.createDataFrame(
        [("r1", T(2024, 1, 2), 1.0), ("r2", T(2024, 1, 4), 2.0),
         ("r2", T(2024, 1, 9), 3.0), ("r1", T(2024, 1, 11), 9.0)],
        "region string, rts timestamp, score double",
    )
    reg = _registry(tmp_path, {"accounts": accounts, "regions": regions}, [
        dict(name="acct", path="accounts", entities=("uid",),
             timestamp_col="fts", features=("region",)),
        dict(name="reg", path="regions", entities=("region",),
             timestamp_col="rts", features=("score",)),
    ])
    out = _materialize(ent, reg, ["acct:region", "reg:score"])
    assert out.columns == ["uid", "ts", "region", "score"]
    assert sorted(
        ((r.uid, r.ts, r.region, r.score) for r in out.collect()), key=str
    ) == sorted([
        (1, T(2024, 1, 10), "r2", 3.0),  # region r2 since Jan 5; score Jan 9
        (1, T(2024, 1, 3), "r1", 1.0),   # still r1; r1's Jan 11 score is future
        (2, T(2024, 1, 10), "r2", 3.0),
        (3, T(2024, 1, 10), None, None),  # no account: NULL key, no score
    ], key=str)


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


def test_feature_name_collisions_raise(spark, sf_dir):
    # Two sources of one output column fail by name instead of returning
    # duplicate columns (Feast's FeatureNameCollisionError).
    from tfx_addons_feast_examplegen_spark.operators.pit_join import (
        materialize_features,
    )
    from tfx_addons_feast_examplegen_spark.registry import (
        RegistryError,
        testdata_registry,
    )
    from tfx_addons_feast_examplegen_spark.session import register_tables

    register_tables(spark, sf_dir)
    spine = """
        SELECT c_custkey AS user_id, c_acctbal AS VALUE,
               TIMESTAMP '2024-01-20 00:00:00' AS event_timestamp
        FROM customer WHERE c_custkey < 20
    """
    run = lambda feats, **kw: materialize_features(  # noqa: E731
        spark, entity_query=spine, features=feats,
        registry=testdata_registry(), sf_dir=sf_dir, **kw,
    )
    two_views = ["user_events:event_type", "user_events_7d:event_type"]
    with pytest.raises(
        RegistryError,
        match=r"'event_type' of view 'user_events_7d' collides with column "
        r"'event_type' of view 'user_events'.*full_feature_names=True.*field_mapping",
    ):
        run(two_views)
    # the entity query's columns count too, case-insensitively
    with pytest.raises(
        RegistryError, match=r"'value' of view 'user_events' .* 'VALUE' of the entity query"
    ):
        run(["user_events:value"])
    df = run(two_views, full_feature_names=True)
    assert df.columns[-2:] == ["user_events__event_type", "user_events_7d__event_type"]


def test_time_bucketed_requires_ttl(spark):
    from tfx_addons_feast_examplegen_spark.registry import RegistryError

    ent = _entities(spark, [(1, T(2024, 1, 10))])
    feat = _features(spark, [(1, T(2024, 1, 5), 1, 1.0)])
    with pytest.raises(RegistryError, match="requires ttl_seconds"):
        _join(ent, feat, strategy="time_bucketed")


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


def test_spine_source_chain_is_linear_and_equivalent(spark, tmp_path):
    # materialize_features takes every view's spine from the entity frame,
    # so its analyzed logical tree grows linearly in the number of views.
    # Chaining point_in_time_join spines each view on the running frame,
    # which doubles the tree per view; results are identical either way.
    ent = _entities(spark, [(1, T(2024, 1, 10)), (2, T(2024, 1, 10))])
    feat = _features(spark, [(1, T(2024, 1, 5), 1, 5.0)])
    reg = _registry(tmp_path, {"feat": feat}, [
        dict(name=f"f{i}", path="feat", entities=("uid",),
             timestamp_col="fts", features=(f"v{i}",), created_col="created",
             field_mapping={"val": f"v{i}"})
        for i in range(4)
    ])

    def joins(df):
        return df._jdf.queryExecution().analyzed().toString().count("Join")

    flat = _materialize(ent, reg, [f"f{i}:v{i}" for i in range(4)])
    chained = ent
    for i in range(4):
        chained = _join(
            chained, feat.withColumnRenamed("val", f"v{i}"), features=[f"v{i}"]
        )
    assert joins(flat) == 4 * joins(_materialize(ent, reg, ["f0:v0"]))
    assert joins(flat) < joins(chained)  # logical tree no longer doubles
    key = lambda r: (r.uid, r.v0, r.v1, r.v2, r.v3)  # noqa: E731
    assert sorted(map(key, flat.collect())) == sorted(
        map(key, chained.collect())
    )


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
    return _join(ent, feat, strategy="union_window", **kw)


def test_union_window_edge_semantics(spark):
    # The mandated edge list in one fixture: inclusive as-of, future
    # leak, created tie-break, no-match NULL, per-entity independence,
    # and a NULL feature timestamp that never matches (as under `pair`).
    ent = _entities(
        spark,
        [(1, T(2024, 1, 10)), (1, T(2024, 1, 2)), (2, T(2024, 1, 10)),
         (3, T(2024, 1, 10)), (4, T(2024, 1, 10))],
    )
    feat = _features(
        spark,
        [
            (1, T(2024, 1, 1), 1, 10.0),
            (1, T(2024, 1, 10), 2, 20.0),   # exact ts: inclusive
            (1, T(2024, 1, 10), 9, 25.0),   # same ts: created wins
            (1, T(2024, 1, 11), 3, 30.0),   # future: must not leak
            (2, T(2024, 1, 4), 1, 40.0),
            (4, None, 1, 50.0),             # NULL ts: never as-of
        ],
    )
    got = {(r.uid, r.ts): r.val for r in _join_uw(ent, feat).collect()}
    assert got == {
        (1, T(2024, 1, 10)): 25.0,
        (1, T(2024, 1, 2)): 10.0,
        (2, T(2024, 1, 10)): 40.0,
        (3, T(2024, 1, 10)): None,
        (4, T(2024, 1, 10)): None,
    }
    assert got == {
        (r.uid, r.ts): r.val for r in _join(ent, feat).collect()
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


@pytest.mark.parametrize("strategy", ["time_bucketed", "union_window"])
def test_strategy_equivalence_on_fixture_tables(spark, sf_dir, strategy):
    # Strategy equivalence on real data: each strategy must agree with
    # pair+max_by row-for-row, with and without TTL (time_bucketed needs
    # one), with a prefix (SURVEY.md §4.2 scale techniques).
    from tfx_addons_feast_examplegen_spark.session import register_tables

    t = register_tables(spark, sf_dir)
    spine = spark.sql("""
        SELECT c_custkey AS user_id, event_timestamp
        FROM customer CROSS JOIN (VALUES (TIMESTAMP '2024-01-08 00:00:00'),
            (TIMESTAMP '2024-01-15 00:00:00'), (TIMESTAMP '2024-01-22 12:34:56'),
            (TIMESTAMP '2024-01-29 00:00:00')) AS v(event_timestamp)
    """)
    ttl = {"ttl_seconds": 7 * 24 * 3600}
    variants = [ttl, {**ttl, "output_prefix": "f_"}]
    if strategy != "time_bucketed":
        variants.append({})
    for kw in variants:
        base = dict(
            join_keys=["user_id"],
            entity_ts_col="event_timestamp",
            feature_ts_col="ts",
            features=["value", "event_type"],
            created_col="event_id",
            **kw,
        )
        p = kw.get("output_prefix", "")
        got = {}
        for strat in ("pair", strategy):
            df = point_in_time_join(spine, t["events"], strategy=strat, **base)
            got[strat] = sorted(
                ((r.user_id, r.event_timestamp, r[f"{p}value"], r[f"{p}event_type"])
                 for r in df.collect()),
                key=str,
            )
        assert got["pair"] == got[strategy]
        assert len(got["pair"]) == spine.count()
