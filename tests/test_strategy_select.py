"""Automatic as-of join strategy selection (VERDICT r9 item 4).

The three physical strategies (pair+max_by, time_bucketed, union_window)
are oracle-equivalent; ``materialize_features`` must pick per the
measured decision rule — pair for shallow history, time_bucketed for
deep history bounded by a TTL, union_window for deep/unbounded history —
with the probe cached off the query path and shared by every view over
one table. Each branch is asserted here on fixture tables, plus
equivalence across all three strategies and the strategy mix perfbench
expects of its generated inputs.
"""

import importlib.util
import os

import pytest

from tfx_addons_feast_examplegen_spark.operators import pit_join as pj
from tfx_addons_feast_examplegen_spark.operators.pit_join import (
    last_strategy_choices,
    materialize_features,
    point_in_time_join,
)
from tfx_addons_feast_examplegen_spark.registry import (
    FeatureView,
    Registry,
    RegistryError,
    testdata_registry as _testdata_registry,
)
from tfx_addons_feast_examplegen_spark.session import register_tables
from tfx_addons_feast_examplegen_spark.sources.examplegen import substitute_params

SPINE = """
    SELECT c_custkey AS user_id,
           TIMESTAMP '2024-01-20 00:00:00' AS event_timestamp
    FROM customer WHERE c_custkey < 50
"""


def _deep_view_path(spark, tmp_path, rows_per_key=200):
    """Parquet feature table whose per-key depth exceeds the auto
    threshold (200 > _AUTO_DEPTH_THRESHOLD=128)."""
    path = str(tmp_path / "deep_features.parquet")
    spark.sql(
        f"""
        SELECT CAST(user_id AS BIGINT) AS user_id,
               TIMESTAMP '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,n) AS ts,
               CAST(n AS DOUBLE) AS score
        FROM (SELECT explode(sequence(1, 5)) AS user_id),
             (SELECT explode(sequence(1, {rows_per_key})) AS n)
        """
    ).write.mode("overwrite").parquet(path)
    return path


def _view(path, *, ttl=None):
    return FeatureView(
        name="deep",
        path=path,
        entities=("user_id",),
        timestamp_col="ts",
        features=("score",),
        ttl_seconds=ttl,
    )


def _materialize(spark, reg, sf_dir, features=("deep:score",)):
    return materialize_features(
        spark,
        entity_query=SPINE,
        features=list(features),
        registry=reg,
        sf_dir=sf_dir,
    )


def test_auto_shallow_history_picks_pair(spark, sf_dir):
    # events fixture: <=100 rows/key at every SF, under the threshold.
    register_tables(spark, sf_dir)
    df = _materialize(
        spark, _testdata_registry(), sf_dir, ["user_events:value"]
    )
    df.count()
    assert last_strategy_choices() == {"user_events": "pair"}


def test_auto_deep_history_no_ttl_picks_union_window(spark, sf_dir, tmp_path):
    register_tables(spark, sf_dir)
    path = _deep_view_path(spark, tmp_path)
    reg = Registry(views={"deep": _view(path)})
    df = _materialize(spark, reg, sf_dir)
    assert last_strategy_choices() == {"deep": "union_window"}
    # and the plan really is the union-window shape: a running-frame
    # Window instead of the pair join's max_by aggregate
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "unboundedpreceding" in plan.lower()


def test_auto_deep_history_with_ttl_picks_time_bucketed(
    spark, sf_dir, tmp_path
):
    register_tables(spark, sf_dir)
    path = _deep_view_path(spark, tmp_path)
    reg = Registry(views={"deep": _view(path, ttl=7 * 86400)})
    df = _materialize(spark, reg, sf_dir)
    assert last_strategy_choices() == {"deep": "time_bucketed"}
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "__f_bucket" in plan or "floor" in plan.lower()


def test_all_strategies_equivalent_end_to_end(spark, sf_dir, tmp_path):
    register_tables(spark, sf_dir)
    path = _deep_view_path(spark, tmp_path)
    spine = spark.sql(SPINE)
    results = {}
    for strat in ("pair", "time_bucketed", "union_window"):
        rows = point_in_time_join(
            spine,
            spark.read.parquet(path),
            join_keys=["user_id"],
            entity_ts_col="event_timestamp",
            feature_ts_col="ts",
            features=["score"],
            ttl_seconds=30 * 86400,
            strategy=strat,
        ).collect()
        results[strat] = sorted(
            (r.user_id, r.event_timestamp, r.score) for r in rows
        )
    assert results["pair"] == results["time_bucketed"] == results["union_window"]


def test_probe_is_cached_per_view(spark, sf_dir, tmp_path):
    # The cache key is the table (resolved path) plus the entity columns
    # the probe groups on, so every view over one table shares it.
    register_tables(spark, sf_dir)
    path = _deep_view_path(spark, tmp_path)
    reg = Registry(views={"deep": _view(path)})
    _materialize(spark, reg, sf_dir).count()
    key = (path, ("user_id",))
    assert pj._DEPTH_CACHE[key] == 200
    # poison the cache: a second materialize must NOT re-probe
    pj._DEPTH_CACHE[key] = 1
    _materialize(spark, reg, sf_dir).count()
    assert pj._DEPTH_CACHE[key] == 1
    assert last_strategy_choices() == {"deep": "pair"}
    del pj._DEPTH_CACHE[key]


def _job_stages(spark, group, fn):
    """Run ``fn`` under a job group; the first stage name of each job."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    return [
        st.getStageInfo(min(st.getJobInfo(j).stageIds)).name
        for j in st.getJobIdsForGroup(group)
    ]


def test_views_over_one_table_share_read_and_probe(spark, sf_dir, tmp_path):
    # Two temporal views over one parquet file: one schema-inference job
    # and one depth probe on the cold call, one read job on the warm one.
    register_tables(spark, sf_dir)
    path = _deep_view_path(spark, tmp_path)
    deep_7d = FeatureView(
        name="deep_7d",
        path=path,
        entities=("user_id",),
        timestamp_col="ts",
        features=("score_7d",),
        ttl_seconds=7 * 86400,
        field_mapping={"score": "score_7d"},
    )
    reg = Registry(views={"deep": _view(path), "deep_7d": deep_7d})
    both = ["deep:score", "deep_7d:score_7d"]

    def plan(features):
        return lambda: _materialize(spark, reg, sf_dir, features)

    cold = _job_stages(spark, "pit-share-cold", plan(both))
    assert last_strategy_choices() == {
        "deep": "union_window", "deep_7d": "time_bucketed",
    }
    reads = [n for n in cold if n.startswith("parquet at")]
    probes = [n for n in cold if n.startswith("first at")]
    assert len(reads) == 1 and len(reads) + len(probes) == len(cold), cold
    # one probe: exactly the jobs a single view's cold call launches
    del pj._DEPTH_CACHE[(path, ("user_id",))]
    single = _job_stages(spark, "pit-share-single", plan(["deep:score"]))
    assert probes and len(probes) == len(single) - 1, (cold, single)

    warm = _job_stages(spark, "pit-share-warm", plan(both))
    assert len(warm) == 1 and warm[0].startswith("parquet at"), warm
    del pj._DEPTH_CACHE[(path, ("user_id",))]


def test_invalid_strategy_rejected(spark):
    feat = spark.createDataFrame(
        [(1, None, 1.0)], "user_id long, ts timestamp, score double"
    )
    join = lambda **kw: point_in_time_join(  # noqa: E731
        feat, feat, entity_ts_col="ts", feature_ts_col="ts",
        features=["score"], **{"join_keys": ["user_id"], **kw},
    )
    with pytest.raises(RegistryError, match="unknown join strategy 'sortmerge'"):
        join(strategy="sortmerge")
    # no keys returned NULL features under pair and raised a type error
    # under union_window
    for strategy in ("pair", "union_window"):
        with pytest.raises(RegistryError, match="empty join_keys"):
            join(join_keys=[], strategy=strategy)
    # a negative TTL returned all-NULL features; a fractional one divided
    # by zero under time_bucketed; a string or bool is no TTL at all
    for ttl in (-5, 0.5, "7d", True):
        for strategy in ("pair", "time_bucketed", "union_window"):
            with pytest.raises(RegistryError, match="ttl_seconds must be None or"):
                join(ttl_seconds=ttl, strategy=strategy)


def _perfbench_workloads():
    """perfbench/workloads.py, loaded from its file (not a package)."""
    path = os.path.join(
        os.path.dirname(__file__), os.pardir, "perfbench", "workloads.py"
    )
    spec = importlib.util.spec_from_file_location("perfbench_workloads", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# Operator counts of the initial executed plan of the frame
# materialize_features returns on perfbench's `tiny` seed-1 inputs (the
# same at 2 and 4 cores). Plan counts do not move with host load, so a
# change to the as-of layer that adds a scan, a shuffle or a join shows
# here. `scan:<file>` counts file scans per input table.
_COUNTED = (
    "ShuffleExchange", "BroadcastExchange", "SortMergeJoin",
    "BroadcastHashJoin", "SortAggregate", "HashAggregate", "Window",
    "Generate", "Union",
)
_EXPECTED_PLAN = {
    "examplegen_tfrecord": {
        "ShuffleExchange": 6, "BroadcastExchange": 3, "SortMergeJoin": 2,
        "BroadcastHashJoin": 3, "SortAggregate": 6, "HashAggregate": 4,
        "Window": 0, "Generate": 0, "Union": 0,
        "scan:orders": 3, "scan:events": 2, "scan:customer": 1,
    },
    "examplegen_parquet_hotkey": {
        "ShuffleExchange": 8, "BroadcastExchange": 4, "SortMergeJoin": 2,
        "BroadcastHashJoin": 4, "SortAggregate": 6, "HashAggregate": 6,
        "Window": 1, "Generate": 1, "Union": 1,
        "scan:orders": 4, "scan:events": 2, "scan:customer": 1,
        "scan:profiles": 1,
    },
}


def _plan_counts(df) -> dict[str, int]:
    """Counts of the ``_COUNTED`` operators, and of file scans per table,
    in ``df``'s initial executed plan (before adaptive re-planning)."""
    counts = dict.fromkeys(_COUNTED, 0)
    stack = [df._jdf.queryExecution().executedPlan().initialPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName().removesuffix("Exec")
        if name in counts:
            counts[name] += 1
        if name == "FileSourceScan":
            table = node.relation().location().rootPaths().head().getName()
            key = "scan:" + table.removesuffix(".parquet")
            counts[key] = counts.get(key, 0) + 1
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return counts


def test_perfbench_inputs_resolve_to_expected_strategies(spark, sf_dir, tmp_path):
    # perfbench fails every run whose strategy mix differs from the one
    # its workloads declare; a change to the rule or the probe shows here
    # first, on the generated inputs at their self-test size. The plan
    # counts guard the shape of the as-of layer on the same inputs.
    wl = _perfbench_workloads()
    sql = substitute_params(wl.ENTITY_SQL, wl.RANGE_PARAMS)
    try:
        for w in wl.WORKLOADS.values():
            inputs = wl.materialize(str(tmp_path), w.family, "tiny", 1)
            register_tables(spark, inputs)
            df = materialize_features(
                spark,
                entity_query=sql,
                features="training",
                registry=Registry.from_yaml(wl.registry_yaml(w.family)),
                sf_dir=inputs,
            )
            assert last_strategy_choices() == w.expected_strategies, w.name
            assert _plan_counts(df) == _EXPECTED_PLAN[w.name], w.name
    finally:
        register_tables(spark, sf_dir)
