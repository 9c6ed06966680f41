"""End-to-end ExampleGen benchmark over ``sources.examplegen.generate_examples``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload examplegen_tfrecord --seed 1 \
        --seconds 15 --trace 0

One closed-loop client submits the next job when the previous one is done,
on ``local[<nproc>]``. Every job's output is checked against a DuckDB
oracle digest outside the timed region. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the lines before
it print every metric with its unit. ``--trace 1`` prints the per-layer
metrics instead (see ``tracing.py``). Workloads, metrics and the layer map
are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
# The JVM is still JIT-compiling for a few jobs after the first one (CPU per
# job falls by half over them), so the first WARMUP_JOBS jobs are not timed
# into examples_per_s. The window then takes at least MIN_WARM_JOBS jobs.
WARMUP_JOBS = 2
MIN_WARM_JOBS = 3
sys.path.insert(1, ROOT)  # the program package, imported from source

import oracle as orc  # noqa: E402
import workloads as wl  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    ap.add_argument(
        "--setup-samples", type=int, default=2,
        help="fresh-process set-ups whose median is setup_s",
    )
    ap.add_argument(
        "--inject-fault", action="store_true",
        help="give the program a customer table with one wrong balance "
        "(self-test: every job must then fail the oracle check)",
    )
    ap.add_argument("--setup-child", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


# --------------------------------------------------------------------------
# environment
# --------------------------------------------------------------------------


def prepare_env(work: str, event_log_dir: str | None = None) -> None:
    """Pin cores, keep every Spark/JVM/Python scratch file under ``work``
    and let Python workers import the program."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    java_opts = (
        f"-Djava.io.tmpdir={env['TMPDIR']} -Dderby.system.home={work}"
    )
    conf = ["--conf spark.ui.showConsoleProgress=false"]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{event_log_dir}",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" {" ".join(conf)} pyspark-shell'
    )
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssSampler:
    """Peak summed RSS of this process and all its descendants (/proc)."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, frontier = {root}, [root]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier += kids
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# --------------------------------------------------------------------------
# set-up, jobs and checks
# --------------------------------------------------------------------------


def timed_setup(family: str, sf_dir: str):
    """Fresh-process set-up: import, ``get_spark``, registry load, views.

    Returns (spark, registry, {"get_spark_s", "register_s", "setup_s"})."""
    t0 = time.perf_counter()
    from tfx_addons_feast_examplegen_spark.registry import Registry
    from tfx_addons_feast_examplegen_spark.session import get_spark, register_tables

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    registry = Registry.from_yaml(wl.registry_yaml(family))
    register_tables(spark, sf_dir)
    t2 = time.perf_counter()
    return spark, registry, {
        "get_spark_s": t1 - t0, "register_s": t2 - t1, "setup_s": t2 - t0,
    }


class Bench:
    """Inputs, oracle digest and the job/check pair of one workload run."""

    def __init__(self, args, work: str):
        self.args = args
        self.w = wl.WORKLOADS[args.workload]
        self.family = self.w.family
        self.tf = self.w.output_format == "tf_example"
        self.inputs = wl.materialize(CACHE, self.family, args.size, args.seed)
        self.base = os.path.dirname(self.inputs)
        self.program_inputs = (
            self._faulted_inputs() if args.inject_fault else self.inputs
        )
        self.expected = orc.digest(
            orc.oracle_table(self.inputs, self.family), self.family, self.tf
        )
        self.out_dir = os.path.join(work, "out")

    # -- inputs ------------------------------------------------------------
    def _faulted_inputs(self) -> str:
        """A copy of the inputs whose customer table has one wrong balance,
        on a customer the spine references (the oracle keeps the truth)."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        d = os.path.join(self.base, "inputs_fault")
        if os.path.exists(os.path.join(d, "customer.parquet")):
            return d
        os.makedirs(d, exist_ok=True)
        for f in os.listdir(self.inputs):
            if f.endswith(".parquet") and f != "customer.parquet":
                shutil.copy(os.path.join(self.inputs, f), d)
        orders = pq.read_table(os.path.join(self.inputs, "orders.parquet"))
        mid = orders.num_rows // 2  # inside the entity query's time span
        victim = orders.column("customer_id")[mid].as_py()
        cust = pq.read_table(os.path.join(self.inputs, "customer.parquet"))
        hit = pc.equal(cust.column("customer_id"), victim)
        bal = pc.if_else(hit, pc.add(cust.column("balance"), 1.0), cust.column("balance"))
        cust = cust.set_column(cust.schema.get_field_index("balance"), "balance", bal)
        pq.write_table(cust, os.path.join(d, "customer.parquet.tmp"))
        os.replace(os.path.join(d, "customer.parquet.tmp"), os.path.join(d, "customer.parquet"))
        return d

    # -- jobs --------------------------------------------------------------
    def write_job(self, spark, registry, out_dir: str):
        from tfx_addons_feast_examplegen_spark.sources.examplegen import generate_examples

        generate_examples(
            spark, registry=registry, entity_query=wl.ENTITY_SQL,
            features="training", sf_dir=self.program_inputs, output_dir=out_dir,
            params=wl.RANGE_PARAMS, output_format=self.w.output_format,
        )

    def read_job(self, spark, dataset: str, splits: list[str]) -> dict:
        """Typed read of every split, aggregated to a per-split digest."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType,
        )
        from tfx_addons_feast_examplegen_spark.sources.tfrecord import read_tfrecord_dataset

        types = {"int": LongType(), "float": DoubleType(), "ts": DoubleType(), "str": StringType()}
        schema = StructType([
            StructField(n, types[k]) for n, k in orc.COLUMNS[self.family].items()
        ])
        frames = [
            read_tfrecord_dataset(spark, os.path.join(dataset, f"Split-{s}"), schema)
            .withColumn("split", F.lit(s))
            for s in sorted(splits)
        ]
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        rows = df.groupBy("split").agg(*orc.spark_digest_columns(self.family)).collect()
        return {r["split"]: [int(r["n"]), int(r["s1"]), int(r["s2"])] for r in rows}

    # -- checks (outside the timed region) ---------------------------------
    def _splits_ok(self, counts: dict[str, int]) -> str | None:
        if set(counts) != {"train", "eval"} or min(counts.values()) == 0:
            return f"splits {counts} are not non-empty train/eval"
        if sum(counts.values()) != self.expected[0]:
            return f"train+eval={sum(counts.values())} != {self.expected[0]}"
        return None

    def check_write(self, out_dir: str) -> tuple[str | None, int, int]:
        """-> (error or None, examples on disk, data bytes on disk)."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        files = orc.data_files(out_dir)
        nbytes = sum(os.path.getsize(p) for p in files)
        if self.tf:
            recs = orc.read_tfrecord_split_records(out_dir)
            counts = {s: len(r) for s, r in recs.items()}
            n = sum(counts.values())
            err = self._splits_ok(counts)
            if err:
                return err, n, nbytes
            got = [0, 0, 0]
            for r in recs.values():
                got = orc.add_digests(got, orc.digest(
                    orc.records_to_table(r, self.family), self.family, True))
            if got != self.expected:
                return f"digest {got} != oracle {self.expected}", n, nbytes
            return None, n, nbytes
        table = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table()
        n = table.num_rows
        want = set(orc.COLUMNS[self.family]) | {"split"}
        if set(table.column_names) != want:
            return f"columns {sorted(table.column_names)} != {sorted(want)}", n, nbytes
        vc = pc.value_counts(table.column("split").cast("string")).to_pylist()
        err = self._splits_ok({d["values"]: d["counts"] for d in vc})
        if err:
            return err, n, nbytes
        got = orc.digest(table, self.family, False)
        if got != self.expected:
            return f"digest {got} != oracle {self.expected}", n, nbytes
        return None, n, nbytes

    def check_read(self, per_split: dict, on_disk: dict[str, int]) -> str | None:
        counts = {s: d[0] for s, d in per_split.items()}
        if counts != on_disk:
            return f"split rows {counts} != on disk {on_disk}"
        err = self._splits_ok(counts)
        if err:
            return err
        got = [0, 0, 0]
        for d in per_split.values():
            got = orc.add_digests(got, d)
        if got != self.expected:
            return f"digest {got} != oracle {self.expected}"
        return None

    def run_job(self, spark, registry, tracer=None) -> dict:
        """One timed job plus its (untimed) check."""
        timed = (
            (lambda: tracer.span("job", job=len(tracer.named("job"))))
            if tracer else contextlib.nullcontext
        )
        shutil.rmtree(self.out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        with timed():
            self.write_job(spark, registry, self.out_dir)
        dt_s = time.perf_counter() - t0
        err, n, nbytes = self.check_write(self.out_dir)
        return {"s": dt_s, "examples": n, "bytes": nbytes, "error": err}

    def check_strategies(self, got: dict) -> None:
        if got != self.w.expected_strategies:
            raise SystemExit(
                f"strategy mix {got} != expected {self.w.expected_strategies}: "
                "the generated inputs no longer exercise the intended join paths"
            )


# --------------------------------------------------------------------------
# modes
# --------------------------------------------------------------------------


def _child_cmd(args, *extra) -> list[str]:
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--size", args.size,
    ]
    if args.inject_fault:
        cmd.append("--inject-fault")
    return cmd + list(extra)


def run_child(cmd: list[str], timeout: float) -> list[str]:
    """Run a child benchmark process; return its stdout lines."""
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=timeout, cwd=ROOT)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-4000:])
        raise SystemExit(f"child failed ({res.returncode}): {' '.join(cmd[2:])}")
    return res.stdout.strip().splitlines()


def printed_metrics(lines: list[str]) -> dict[str, float]:
    """The ``name value unit`` lines that ``emit`` prints, as name -> value."""
    out = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) == 3:
            out[parts[0]] = float(parts[1])
    return out


def setup_child(args) -> None:
    """One fresh-process set-up sample."""
    w = wl.WORKLOADS[args.workload]
    inputs = wl.materialize(CACHE, w.family, args.size, args.seed)
    if args.inject_fault:
        inputs = os.path.join(os.path.dirname(inputs), "inputs_fault")
    spark, _, times = timed_setup(w.family, inputs)
    stop_spark(spark)
    print(json.dumps(times))


def measure(args, work: str) -> dict:
    """Untraced closed-loop run; returns the result object."""
    bench = Bench(args, work)
    child = _child_cmd(args, "--setup-child", "--seconds", "0")
    setup_samples = [  # fresh processes; the measuring process adds one more
        json.loads(run_child(child, 170)[-1])["setup_s"]
        for _ in range(args.setup_samples - 1)
    ]

    from tfx_addons_feast_examplegen_spark.operators.pit_join import last_strategy_choices

    jobs, warm = [], []
    with RssSampler() as rss:
        spark, registry, times = timed_setup(bench.family, bench.program_inputs)
        setup_samples.append(times["setup_s"])
        try:
            while len(jobs) < WARMUP_JOBS:
                jobs.append(bench.run_job(spark, registry))
                if len(jobs) == 1:
                    bench.check_strategies(last_strategy_choices())
            deadline = time.perf_counter() + args.seconds
            # stop when the next job would end past the measuring window
            while len(warm) < MIN_WARM_JOBS or (
                time.perf_counter() + statistics.median(j["s"] for j in warm) <= deadline
            ):
                warm.append(bench.run_job(spark, registry))
        finally:
            stop_spark(spark)
    jobs += warm
    failed = [j for j in jobs if j["error"]]
    for j in failed:
        print(f"FAILED job: {j['error']}", file=sys.stderr)
    metrics = {
        "setup_s": (statistics.median(setup_samples), "s"),
        "bytes_per_example": (
            statistics.median(j["bytes"] / max(1, j["examples"]) for j in jobs), "B"),
    }
    info = {  # printed, not in the JSON (see README.md for why)
        "examples_per_s": (statistics.median(j["examples"] / j["s"] for j in warm), "examples/s"),
        "failed_job_ratio": (len(failed) / len(jobs), "ratio"),
        "first_job_s": (jobs[0]["s"], "s"),
        "peak_rss_mb": (rss.peak_kb / 1024, "MB"),
        "warm_jobs": (len(warm), "count"),
        "warm_job_s_median": (statistics.median(j["s"] for j in warm), "s"),
        "warm_job_s_max": (max(j["s"] for j in warm), "s"),
        "examples_per_job": (jobs[0]["examples"], "examples"),
        "setup_samples": (len(setup_samples), "count"),
    }
    return {
        "metrics": metrics, "info": info, "jobs": jobs,
        "attempted": len(jobs), "failed": len(failed),
    }


def emit(result: dict) -> None:
    for name, (value, unit) in {**result["metrics"], **result.get("info", {})}.items():
        print(f"{name:<44} {value:>14.6g} {unit}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import tfx_addons_feast_examplegen_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.setup_child:
        prepare_env(os.path.join(WORK_ROOT, f"child-{os.getpid()}"))
        try:
            setup_child(args)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(os.path.join(WORK_ROOT, f"child-{os.getpid()}"), ignore_errors=True)
        return 0
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    try:
        if args.trace:
            import tracing

            baseline = printed_metrics(run_child(
                _child_cmd(args, "--trace", "0", "--setup-samples", "1",
                           "--seconds", str(args.seconds)), 170))
            prepare_env(work, event_log_dir=os.path.join(work, "eventlog"))
            result = tracing.traced_run(args, Bench(args, work), work, baseline)
        else:
            prepare_env(work)
            result = measure(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    emit(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
