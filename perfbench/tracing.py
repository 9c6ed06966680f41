"""Traced run: per-layer metrics for one workload.

Spans are recorded here, in the benchmark, around calls into each layer's
public functions (name, start, end, parent, job id), kept in memory and
written out at the end. Every Spark job submitted inside a span carries the
span id as a local property, so the event log (enabled for this run only)
attributes jobs, stages, tasks and SQL metrics to the span that caused them.

Each layer is staged on ``localCheckpoint``-ed inputs so its time is its
own. A metric of a layer that does not run on the workload reads 0.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import statistics
import time

import numpy as np

import oracle as orc
import workloads as wl

JOIN_NODES = {
    "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
}
MB = float(1 << 20)
_PY_SENT = "data sent to Python workers"

# name -> unit; every traced run prints all of them (BENCHMARK.json per_layer)
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.register_s": "s",
    "examplegen.plan_s": "s",
    "pit_join.probe_s": "s",
    "pit_join.exec_s": "s",
    "pit_join.candidate_rows_per_output_row": "ratio",
    "pit_join.shuffle_write_mb": "MB",
    "pit_join.spill_mb": "MB",
    "pit_join.task_skew": "ratio",
    "split.exec_s": "s",
    "encode.exec_s": "s",
    "encode.rows_encoded_per_example_written": "ratio",
    "encode.python_mb_in": "MB",
    "tfexample.encode_us": "us",
    "tfexample.decode_us": "us",
    "tfrecord.crc_mb_per_s": "MB/s",
    "tfrecord.write_s": "s",
    "tfrecord.write_jobs": "count",
    "tfrecord.files_written": "count",
    "tfrecord.read_s": "s",
    "tfrecord.read_tasks": "count",
    "spark.jobs_per_job": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "spark.core_busy_ratio": "ratio",
    "spark.driver_only_s": "s",
    "trace.overhead_ratio": "ratio",
    # end-to-end numbers too unsteady for a regression bound, taken from
    # the untraced baseline run (README.md records their spread)
    "examples_per_s": "examples/s",
    "first_job_s": "s",
    "peak_rss_mb": "MB",
}


class Tracer:
    """In-memory span recorder; tags Spark jobs with the innermost span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, job: int | None = None):
        rec = {
            "id": len(self.spans), "name": name, "job": job,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setLocalProperty("perfbench.span", str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "perfbench.span", str(self._stack[-1]) if self._stack else None
            )

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, roots: list[dict]) -> set[int]:
        ids = {s["id"] for s in roots}
        for s in self.spans:  # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (count, total seconds, self seconds). Children of one
        span run sequentially, so their durations add up to the covered
        part of the parent's interval."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            acc = out.setdefault(s["name"], [0, 0.0, 0.0])
            acc[0] += 1
            acc[1] += d
            acc[2] += d - child[s["id"]]
        return {k: tuple(v) for k, v in out.items()}


class EventLog:
    """Jobs, tasks and SQL metrics from a Spark JSON event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.acc_node: dict[int, tuple[str, str]] = {}  # acc id -> (node, metric)
        # A Python node's metrics are created together, so its output-row
        # counter sits at a fixed id offset from its bytes-sent counter. The
        # offset is learned from planned nodes and applied to tasks of jobs
        # that run outside any SQL execution (``DataFrame.foreachPartition``
        # in the TFRecord sink), whose plans the log does not record.
        self.py_rows_offset = 5
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, node: dict) -> None:
        ids = {}
        for m in node.get("metrics", []):
            self.acc_node[m["accumulatorId"]] = (node["nodeName"], m["name"])
            ids[m["name"]] = m["accumulatorId"]
        if _PY_SENT in ids and "number of output rows" in ids:
            self.py_rows_offset = ids["number of output rows"] - ids[_PY_SENT]
        for c in node.get("children", []):
            self._plan(c)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get("perfbench.span")
            self.jobs[e["Job ID"]] = {
                "span": int(span) if span not in (None, "") else None,
                "start": e["Submission Time"],
            }
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "launch": info["Launch Time"], "finish": info["Finish Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "accums": {
                    a["ID"]: (a.get("Name"), int(a["Update"]))
                    for a in info.get("Accumulables", [])
                    if str(a.get("Update", "")).lstrip("-").isdigit()
                },
            })
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            self._plan(e["sparkPlanInfo"])

    def jobs_in(self, span_ids: set[int]) -> list[int]:
        return [j for j, d in self.jobs.items() if d["span"] in span_ids]

    def tasks_in(self, span_ids: set[int]) -> list[dict]:
        jobs = set(self.jobs_in(span_ids))
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def sql_sum(self, tasks: list[dict], nodes: set[str], metric: str) -> int:
        total = 0
        for t in tasks:
            for acc, (_, v) in t["accums"].items():
                node = self.acc_node.get(acc)
                if node and node[1] == metric and node[0] in nodes:
                    total += v
        return total

    def python_totals(self, tasks: list[dict]) -> tuple[int, int]:
        """(rows returned, bytes sent) by Python nodes, planned or not."""
        rows = sent = 0
        for t in tasks:
            for acc, (name, v) in t["accums"].items():
                if name == _PY_SENT:
                    sent += v
                    r = t["accums"].get(acc + self.py_rows_offset)
                    if r and r[0] == "number of output rows":
                        rows += r[1]
        return rows, sent


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _codec_micro(bench, n: int = 2000) -> dict[str, float]:
    """tf.Example encode/decode per example and the CRC kernel, one core."""
    from tfx_addons_feast_examplegen_spark.functions.tfexample import (
        decode_example, encode_example,
    )
    from tfx_addons_feast_examplegen_spark.sources.tfrecord import crc32c

    rows = orc.oracle_table(bench.inputs, bench.family).slice(0, n).to_pylist()
    for r in rows:  # the encoder's input: naive UTC datetimes, like Spark's
        r["event_timestamp"] = r["event_timestamp"].astimezone(dt.timezone.utc).replace(tzinfo=None)
    recs = [encode_example(r) for r in rows]
    blob = np.random.default_rng(bench.args.seed).bytes(1 << 18)
    return {
        "tfexample.encode_us": _median_time(lambda: [encode_example(r) for r in rows]) / len(rows) * 1e6,
        "tfexample.decode_us": _median_time(lambda: [decode_example(b) for b in recs]) / len(recs) * 1e6,
        "tfrecord.crc_mb_per_s": len(blob) / MB / _median_time(lambda: crc32c(blob), 3),
    }


def _stage_layers(bench, spark, registry, tr: Tracer, out_dir: str) -> dict:
    """Time each layer on checkpointed inputs; returns span-derived facts."""
    from tfx_addons_feast_examplegen_spark.operators.pit_join import (
        last_strategy_choices, materialize_features,
    )
    from tfx_addons_feast_examplegen_spark.operators.split import hash_split
    from tfx_addons_feast_examplegen_spark.sources.examplegen import (
        encode_examples, generate_examples, substitute_params,
    )
    from tfx_addons_feast_examplegen_spark.sources.tfrecord import write_partitioned_tfrecords

    sql = substitute_params(wl.ENTITY_SQL, wl.RANGE_PARAMS)
    join = dict(features="training", registry=registry, sf_dir=bench.program_inputs)
    facts = {}
    # first call pays the auto-strategy depth probe; the second hits its cache
    with tr.span("pit_join.probe_first"):
        materialize_features(spark, entity_query=sql, **join)
    with tr.span("pit_join.probe_cached"):
        materialize_features(spark, entity_query=sql, **join)
    facts["strategies"] = last_strategy_choices()
    with tr.span("examplegen.plan"):
        generate_examples(
            spark, registry=registry, entity_query=wl.ENTITY_SQL, features="training",
            sf_dir=bench.program_inputs, params=wl.RANGE_PARAMS,
            output_format=bench.w.output_format,
        )._jdf.queryExecution().executedPlan()
    spine = spark.sql(sql).localCheckpoint()
    facts["spine_rows"] = spine.count()
    with tr.span("pit_join.exec"):
        _noop(materialize_features(spark, entity_query=spine, **join))
    feats = materialize_features(spark, entity_query=spine, **join).localCheckpoint()
    if not bench.tf:
        with tr.span("split.exec"):
            _noop(hash_split(feats, feats.columns))
        return facts
    with tr.span("encode.exec"):
        _noop(encode_examples(feats))
    encoded = encode_examples(feats).localCheckpoint()
    with tr.span("split.exec"):
        _noop(hash_split(encoded, ["example"]))
    split = hash_split(encoded, ["example"]).localCheckpoint()
    with tr.span("tfrecord.write"):
        write_partitioned_tfrecords(split, out_dir, bytes_col="example", split_col="split")
    facts["files_written"] = len(orc.data_files(out_dir))
    on_disk = {s: len(r) for s, r in orc.read_tfrecord_split_records(out_dir).items()}
    with tr.span("tfrecord.read"):
        per_split = bench.read_job(spark, out_dir, list(on_disk))
    facts["read_error"] = bench.check_read(per_split, on_disk)
    return facts


def _span_s(tr: Tracer, name: str) -> float:
    return sum(s["end"] - s["start"] for s in tr.named(name))


def _busy_ms(tasks: list[dict], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] during which at least one task ran."""
    covered, cur = 0.0, None
    for a, b in sorted((max(lo, t["launch"]), min(hi, t["finish"])) for t in tasks):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            covered += cur[1] - cur[0] if cur else 0.0
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return covered + (cur[1] - cur[0] if cur else 0.0)


def _pit_join_metrics(tr: Tracer, log: EventLog, spine_rows: int) -> dict[str, float]:
    tasks = log.tasks_in(tr.subtree(tr.named("pit_join.exec")))
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    heavy = max(by_stage.values(), key=sum) if by_stage else [0]
    return {
        "pit_join.candidate_rows_per_output_row": (
            log.sql_sum(tasks, JOIN_NODES, "number of output rows") / max(1, spine_rows)
        ),
        "pit_join.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / MB,
        "pit_join.spill_mb": sum(t["spill"] for t in tasks) / MB,
        "pit_join.task_skew": max(heavy) / max(1.0, statistics.median(heavy)),
    }


def _engine_metrics(tr: Tracer, log: EventLog, job_spans: list[dict], cores: int) -> dict[str, float]:
    """Spark-engine counts per full job, as a user runs it."""
    ids = tr.subtree(job_spans)
    tasks = log.tasks_in(ids)
    n = len(job_spans)
    wall_ms = sum(s["end"] - s["start"] for s in job_spans) * 1000
    idle_ms = sum(
        (s["end"] - s["start"]) * 1000
        - _busy_ms(log.tasks_in(tr.subtree([s])), s["start"] * 1000, s["end"] * 1000)
        for s in job_spans
    )
    return {
        "spark.jobs_per_job": len(log.jobs_in(ids)) / n,
        "spark.tasks": len(tasks) / n,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000 / n,
        "spark.core_busy_ratio": sum(t["run_ms"] for t in tasks) / (wall_ms * cores),
        "spark.driver_only_s": idle_ms / 1000 / n,
        "tfrecord.write_jobs": len(log.jobs_in(tr.subtree(tr.named("tfrecord.write")))),
        "tfrecord.read_tasks": len(log.tasks_in(tr.subtree(tr.named("tfrecord.read")))),
    }


def _encode_metrics(tr: Tracer, log: EventLog, writes: list[dict], examples: int) -> dict[str, float]:
    """Python-side encode work per full write job."""
    rows, sent = log.python_totals(log.tasks_in(tr.subtree(writes)))
    return {
        "encode.rows_encoded_per_example_written": rows / max(1, examples),
        "encode.python_mb_in": sent / MB / max(1, len(writes)),
    }


def traced_run(args, bench, work: str, baseline: dict[str, float]) -> dict:
    """``baseline``: the metrics an untraced run of the same arguments printed."""
    import run as rb

    spark, registry, times = rb.timed_setup(bench.family, bench.program_inputs)
    tr = Tracer(spark)
    cores = spark.sparkContext.defaultParallelism
    jobs: list[dict] = []
    try:
        with tr.span("stage"):
            facts = _stage_layers(bench, spark, registry, tr, os.path.join(work, "staged"))
        bench.check_strategies(facts["strategies"])
        with tr.span("micro"):
            micro = _codec_micro(bench)
        deadline = time.perf_counter() + args.seconds
        while len(tr.named("job")) < 2 or time.perf_counter() < deadline:
            jobs.append(bench.run_job(spark, registry, tracer=tr))
    finally:
        rb.stop_spark(spark)
    (log_name,) = os.listdir(os.path.join(work, "eventlog"))
    log = EventLog(os.path.join(work, "eventlog", log_name))

    job_spans = tr.named("job")
    writes, written = (
        (job_spans, sum(j["examples"] for j in jobs)) if bench.tf else ([], 0)
    )
    metrics = {
        "session.get_spark_s": times["get_spark_s"],
        "session.register_s": times["register_s"],
        "examplegen.plan_s": _span_s(tr, "examplegen.plan"),
        "pit_join.probe_s": _span_s(tr, "pit_join.probe_first") - _span_s(tr, "pit_join.probe_cached"),
        "tfrecord.files_written": facts.get("files_written", 0),
        **{f"{layer}_s": _span_s(tr, layer) for layer in (
            "pit_join.exec", "split.exec", "encode.exec", "tfrecord.write", "tfrecord.read")},
        **_pit_join_metrics(tr, log, facts["spine_rows"]),
        **_engine_metrics(tr, log, job_spans, cores),
        **_encode_metrics(tr, log, writes, written),
        **micro,
    }
    traced_eps = statistics.median(j["examples"] / j["s"] for j in jobs)
    metrics["trace.overhead_ratio"] = traced_eps / baseline["examples_per_s"]
    for name in ("examples_per_s", "first_job_s", "peak_rss_mb"):
        metrics[name] = baseline[name]

    trace_dir = os.path.join(rb.ROOT, ".bench_trace")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"), "w") as f:
        json.dump({"spans": tr.spans, "strategies": facts["strategies"]}, f)
    print("strategy_mix " + json.dumps(facts["strategies"], sort_keys=True))
    info = {f"self_s.{name}": (v[2], "s") for name, v in sorted(tr.self_times().items())}
    info["traced_examples_per_s"] = (traced_eps, "examples/s")
    failed = sum(1 for j in jobs if j["error"]) + bool(facts.get("read_error"))
    return {
        "metrics": {k: (metrics[k], unit) for k, unit in PER_LAYER.items()},
        "info": info,
        "attempted": len(jobs) + ("read_error" in facts),
        "failed": failed,
    }
