"""Plan and work counts of one perfbench workload that do not move with
host load.

    python scripts/plan_counts.py [--workload examplegen_tfrecord] [--seed 1]

Generates (or reuses, from perfbench's input cache) the workload's inputs
with ``perfbench/workloads.py``, then makes two ``generate_examples``
calls in one fresh session, the same call a perfbench job makes, and
prints:

- ``shuffle_exchanges``: shuffle ``Exchange`` nodes in the initial
  executed plan (before adaptive re-planning) of the frame the sink
  writes, the frame ``_shard`` returns;
- ``cold`` / ``warm``: the Spark jobs of the first and of the second
  call, counted under a job group with ``statusTracker()``; the tasks of
  every stage those jobs list (``tasks_planned``); and the tasks they
  ran (``tasks_run``), which leaves out the stages a job skips because
  an earlier job already wrote their shuffle output.

The core count is ``get_spark``'s (``$SPARK_GRAFT_CPUS`` or the usable
cores). The script imports the program from the checkout it sits in.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workloads():
    """perfbench/workloads.py, loaded from its file (not a package)."""
    path = os.path.join(ROOT, "perfbench", "workloads.py")
    spec = importlib.util.spec_from_file_location("perfbench_workloads", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _shuffle_exchanges(df) -> int:
    stack = [df._jdf.queryExecution().executedPlan().initialPlan()]
    n = 0
    while stack:
        node = stack.pop()
        n += node.getClass().getSimpleName() == "ShuffleExchangeExec"
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return n


def _counted(sc, group: str, call) -> dict[str, int]:
    """Jobs ``call()`` launches, the tasks of every stage they list, and
    the tasks they ran."""
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    infos = [tracker.getStageInfo(s) for s in stages]
    return {
        "jobs": len(jobs),
        "tasks_planned": sum(i.numTasks for i in infos),
        "tasks_run": sum(i.numCompletedTasks + i.numFailedTasks for i in infos),
    }


def main(argv=None) -> int:
    wl = _workloads()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="examplegen_tfrecord",
                    choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--size", default="bench", choices=["bench", "tiny"])
    args = ap.parse_args(argv)

    # Python workers import the program from this checkout too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    from tfx_addons_feast_examplegen_spark.registry import Registry
    from tfx_addons_feast_examplegen_spark.session import (
        get_spark,
        register_tables,
    )
    from tfx_addons_feast_examplegen_spark.sources import examplegen

    w = wl.WORKLOADS[args.workload]
    inputs = wl.materialize(
        os.path.join(ROOT, ".bench_cache"), w.family, args.size, args.seed
    )
    written = []
    shard = examplegen._shard

    def _capture(*a, **k):
        written.append(shard(*a, **k))
        return written[-1]

    examplegen._shard = _capture
    spark = get_spark("plan_counts")
    out = tempfile.mkdtemp(prefix="plan_counts-")
    try:
        registry = Registry.from_yaml(wl.registry_yaml(w.family))
        register_tables(spark, inputs)

        def call():
            examplegen.generate_examples(
                spark, registry=registry, entity_query=wl.ENTITY_SQL,
                features="training", sf_dir=inputs, output_dir=out,
                params=wl.RANGE_PARAMS, output_format=w.output_format,
            )

        sc = spark.sparkContext
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "size": args.size,
            "cores": sc.defaultParallelism,
            "cold": _counted(sc, "plan_counts-cold", call),
            "warm": _counted(sc, "plan_counts-warm", call),
            "shuffle_exchanges": _shuffle_exchanges(written[-1]),
        }
    finally:
        examplegen._shard = shard
        shutil.rmtree(out, ignore_errors=True)
        spark.stop()
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
