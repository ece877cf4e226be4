"""Benchmark: full-output latency of the engine's registered queries.

Run from the repository root:

    python3 perfbench/run.py --workload lake_query --seed 1 --seconds 10 --trace 0

One process runs one workload (see ``workloads.py``). A single client
runs a closed loop on ``local[<nproc>]`` with the engine's own session
defaults. An op calls a registered query's ``fn(spark, dir)`` and writes
its full output to Spark's ``noop`` sink; both parts are timed. The
write-path queries run their pipeline or materializer cycle to
convergence inside ``fn``.

A run has four phases:

1. set-up (``setup_s``): start the session, then one priming pass that
   collects every query's full output, then the workload's untimed
   warm-up passes of ops; both passes go in the workload's listed order,
   so that the seed does not decide which query pays for the cold JVM;
2. the correctness gate (untimed, between the priming and warm-up
   passes): each collected output is compared with the query's DuckDB
   oracle;
3. the timed phase: whole passes over the workload in a seeded order
   until ``--seconds`` have elapsed, and at least ``MIN_PASSES``;
4. teardown: the JVM is stopped and waited for before the result is
   printed.

End-to-end metrics (``--trace 0``, see ``END_TO_END``): ``op_s_p50``,
the median op latency; ``ops_per_s``, ops per second of the timed phase;
``setup_s``. With ``--trace 1`` the timed passes alternate between
untraced and traced, and the run reports the per-layer metrics of
``PER_LAYER`` from the traced ones (see ``spans.py``) plus the tracing
overhead.

The last line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the run record: host and engine
environment, phase times, errors, ``fail_ratio``, the op sample count
with the highest percentile that has ten samples beyond it, and the
peak RSS of the JVM plus this process. Those last ones are recorded but
are not metrics: a passing run's fail ratio is 0, a run has too few ops
for a tail percentile, and the peak RSS of a JVM with the engine's 16g
heap swings by a quarter or more from run to run. Both lines, with every
op sample, are also written under ``.perfbench/results/``. The exit code
is 1 when any op raised or failed its oracle check.

Engine state goes under ``.perfbench/run-<pid>/`` in the current
directory (the engine's scratch base, artifact cache and ``TMPDIR``),
which is removed at the end, so every run starts cold. The input is the
engine's default scale-factor directory (``catalog.DEFAULT_SF_DIR``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from workloads import OPERATORS, WORKLOADS, Workload  # noqa: E402


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_record(seed: int) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    shm_free = None
    if os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        shm_free = st.f_bavail * st.f_frsize
    import pyspark

    return {
        "nproc": nproc(),
        "ram_bytes": mem_kb * 1024,
        "dev_shm_free_bytes": shm_free,
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        "seed": seed,
    }


#: Fewest timed passes in a run. A run whose passes straddle
#: ``--seconds`` would flip between two and three passes with the
#: host's speed; a floor of two keeps the count fixed while a pass takes
#: more than half of ``--seconds``.
MIN_PASSES = 2


class Run:
    """One benchmark run of one workload in this process."""

    def __init__(self, workload: Workload, seed: int, seconds: float, trace: bool,
                 queries: dict | None = None) -> None:
        from streaming_data_lake_spark.queries import all_queries

        self.seconds = seconds
        self.trace = trace
        self.warm_passes = workload.warm_passes
        registry = queries or all_queries()
        self.queries = {n: registry[n] for n in workload.queries}
        self.rng = random.Random(seed)
        self.attempted = 0
        self.errors: list[dict] = []
        self.samples: list[dict] = []
        self.tracer = None
        self.spark = None

    def _order(self) -> list[str]:
        return self.rng.sample(list(self.queries), len(self.queries))

    def _fail(self, name: str, phase: str, why: str) -> None:
        self.errors.append({"query": name, "phase": phase, "error": why})
        print(f"FAIL {name} ({phase}): {why}", file=sys.stderr)

    def start(self, input_dir: str) -> float:
        from streaming_data_lake_spark.session import get_spark

        self.input_dir = input_dir
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=str(nproc()))
        t1 = time.perf_counter()
        if self.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.add_span("session.start", t0, t1)
        return t1 - t0

    def prime(self) -> tuple[float, dict]:
        """One pass that collects every query's full output. A traced run
        traces it too, so that artifact builds are seen."""
        outputs = {}
        self.prime_times = {}
        if self.tracer is not None:
            self.tracer.install()
        t0 = time.perf_counter()
        for name in self.queries:
            self.attempted += 1
            t = time.perf_counter()
            try:
                df = self.queries[name].fn(self.spark, self.input_dir)
                outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:  # noqa: BLE001 - an op that raises is a counted failure
                self._fail(name, "prime", traceback.format_exc())
            self.prime_times[name] = time.perf_counter() - t
        prime_s = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.uninstall()
        return prime_s, outputs

    def check(self, outputs: dict) -> None:
        from oracle import Oracle

        oracle = Oracle(self.input_dir)
        try:
            for name, (cols, rows) in outputs.items():
                sql = self.queries[name].oracle
                try:
                    why = "no oracle registered" if sql is None else oracle.mismatch(sql, cols, rows)
                except Exception:  # noqa: BLE001 - an oracle error fails the query
                    why = traceback.format_exc()
                if why is not None:
                    self._fail(name, "oracle", why)
        finally:
            oracle.close()

    def _op(self, op_id: int, name: str, traced: bool, pass_no: int = 0) -> None:
        fn = self.queries[name].fn
        self.attempted += 1
        try:
            if traced:
                root = self.tracer.begin_op(op_id, name)
                try:
                    t0 = time.perf_counter()
                    df = self.tracer.span("queries.fn", fn, self.spark, self.input_dir)[0]
                    t1 = time.perf_counter()
                    self.tracer.span("exec.action", df.write.format("noop").mode("overwrite").save)
                    t2 = time.perf_counter()
                finally:
                    self.tracer.end_op(root)
            else:
                t0 = time.perf_counter()
                df = fn(self.spark, self.input_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
        except Exception:  # noqa: BLE001 - an op that raises is a counted failure
            self._fail(name, "timed", traceback.format_exc())
            return
        self.samples.append({"op": op_id, "pass": pass_no, "query": name, "traced": traced,
                             "fn_s": t1 - t0, "action_s": t2 - t1, "op_s": t2 - t0})

    def warm(self) -> float:
        """The workload's warm-up passes: ops kept out of the metrics."""
        t0 = time.perf_counter()
        for _ in range(self.warm_passes):
            for name in self.queries:
                self._op(-1, name, traced=False, pass_no=-1)
        return time.perf_counter() - t0

    def timed(self) -> float:
        """Whole passes until ``seconds`` have elapsed, and at least
        ``MIN_PASSES``; returns the untraced passes' wall time. A traced
        run measures both kinds that way, in untraced-traced-traced-
        untraced blocks so that warm-up drift largely cancels out of the
        tracing overhead."""
        kinds = [False, True, True, False] if self.trace else [False]
        elapsed = dict.fromkeys(kinds, 0.0)
        op_id = pass_no = 0
        while min(elapsed.values()) < self.seconds or pass_no < MIN_PASSES:
            for traced in kinds:
                if traced:
                    self.tracer.install()
                t0 = time.perf_counter()
                for name in self._order():
                    self._op(op_id, name, traced, pass_no)
                    op_id += 1
                elapsed[traced] += time.perf_counter() - t0
                pass_no += 1
                if traced:
                    self.tracer.uninstall()
        return elapsed[False]

    def gc_s(self) -> float:
        """Seconds the JVM has spent in garbage collection so far."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as fh:
            hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        if self.tracer is not None:
            self.tracer.uninstall()
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def percentile_tail(values: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 20:
        return None
    pct = (100 * (n - 10)) // n
    return {"pct": pct, "value": statistics.quantiles(values, n=100, method="inclusive")[pct - 1]}


MAT_PASSES = ("M1", "M2", "M3", "M4", "M5", "M6")
ALL_QUERIES = sorted({q for w in WORKLOADS.values() for q in w.queries})

#: End-to-end metrics (``--trace 0``) and their units.
END_TO_END = {"op_s_p50": "s", "ops_per_s": "1/s", "setup_s": "s"}

#: Per-layer metrics (``--trace 1``) and their units. Times and counts
#: are per traced op unless named otherwise: ``artifacts.*`` count the
#: whole run (builds happen while priming), ``streaming.state_rows`` and
#: ``streaming.state_mem_bytes`` are the largest values seen, ``q.*`` are
#: per-query medians, ``operators.*`` sum their family's ``q.*``.
PER_LAYER = {
    "session.start_s": "s",
    "queries.fn_s": "s", "queries.self_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.tasks": "count",
    "exec.scan_rows": "count", "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes",
    "catalog.load_table.calls": "count", "catalog.load_table.s": "s",
    **{f"operators.{f}.s": "s" for f in OPERATORS},
    "artifacts.hits": "count", "artifacts.misses": "count", "artifacts.build_s": "s",
    "streaming.batches": "count", "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes", "streaming.rows_dropped_by_watermark": "count",
    "upsert.merge_calls": "count", "upsert.merge_s": "s",
    "mat.run_s": "s", "mat.self_s": "s", **{f"mat.{p}_s": "s" for p in MAT_PASSES},
    "maint.compact_s": "s",
    "scratch.mb": "MB",
    "trace.overhead_ratio": "ratio",
    **{f"q.{q}.s": "s" for q in ALL_QUERIES},
}

# span name -> (count metric or None, time metric, self-time metric or None)
_SPAN_METRICS = {
    "queries.fn": (None, "queries.fn_s", "queries.self_s"),
    "exec.action": (None, "exec.action_s", None),
    "catalog.load_table": ("catalog.load_table.calls", "catalog.load_table.s", None),
    "upsert.merge_upsert": ("upsert.merge_calls", "upsert.merge_s", None),
    "maint.compact_parquet": (None, "maint.compact_s", None),
    "mat.run": (None, "mat.run_s", "mat.self_s"),
    **{f"mat.{p}": (None, f"mat.{p}_s", None) for p in MAT_PASSES},
}


def layer_metrics(run: Run, session_s: float, scratch_mb: float) -> dict:
    """The per-layer metrics of a traced run, from its spans."""
    from spans import self_times
    from streaming_data_lake_spark.plans import artifacts

    spans = run.tracer.spans
    selfs = self_times(spans)
    traced_ops = {s["op"] for s in run.samples if s["traced"]}
    out = dict.fromkeys(PER_LAYER, 0.0)
    per_op = dict.fromkeys(PER_LAYER, 0.0)
    for s, self_s in zip(spans, selfs):
        dur = s.end - s.start
        if s.name == "artifacts.ensure" and s.attrs.get("built"):
            out["artifacts.build_s"] += dur
        if s.op not in traced_ops:
            continue
        if s.name == "op":
            for k in ("jobs", "tasks", "scan_rows", "shuffle_bytes", "spill_bytes"):
                per_op[f"exec.{k}"] += s.attrs[k]
        elif s.name == "streaming.trigger":
            per_op["streaming.batches"] += 1
            for k in ("trigger_ms", "add_batch_ms", "state_commit_ms", "rows_dropped_by_watermark"):
                per_op[f"streaming.{k}"] += s.attrs[k]
            for k in ("state_rows", "state_mem_bytes"):
                out[f"streaming.{k}"] = max(out[f"streaming.{k}"], s.attrs[k])
        elif s.name in _SPAN_METRICS:
            count, total, own = _SPAN_METRICS[s.name]
            if count:
                per_op[count] += 1
            per_op[total] += dur
            if own:
                per_op[own] += self_s
    n = max(1, len(traced_ops))
    out.update({k: v / n for k, v in per_op.items() if v})
    out["artifacts.hits"] = artifacts.STATS["hits"]
    out["artifacts.misses"] = artifacts.STATS["misses"]
    out["session.start_s"] = session_s
    out["scratch.mb"] = scratch_mb

    by_query: dict[str, list[float]] = {}
    for s in run.samples:
        if s["traced"]:
            by_query.setdefault(s["query"], []).append(s["op_s"])
    for name, times in by_query.items():
        out[f"q.{name}.s"] = statistics.median(times)
    for fam, names in OPERATORS.items():
        out[f"operators.{fam}.s"] = sum(out.get(f"q.{q}.s", 0.0) for q in names)
    # The first timed pass is still warming up; it would bias the ratio.
    traced = [s["op_s"] for s in run.samples if s["traced"]]
    untraced = [s["op_s"] for s in run.samples if not s["traced"] and s["pass"] > 0]
    if traced and untraced:
        out["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)
    return out


def execute(workload: Workload, seed: int, seconds: float, trace: bool,
            queries: dict | None = None) -> dict:
    """Run one workload and return the run record."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from streaming_data_lake_spark.catalog import DEFAULT_SF_DIR
    from streaming_data_lake_spark.plans.maintenance import dir_bytes

    if not os.path.isdir(DEFAULT_SF_DIR):
        raise FileNotFoundError(f"input directory {DEFAULT_SF_DIR!r} not found")
    run_dir = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("scratch", "artifacts", "tmp", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_GRAFT_ARTIFACTS"] = os.path.join(run_dir, "artifacts")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    record = {"workload": workload.name, "queries": list(workload.queries),
              "seconds": seconds, "trace": trace, "host": host_record(seed)}
    run = Run(workload, seed, seconds, trace, queries)
    try:
        t0 = time.perf_counter()
        input_dir = workload.input_dir(DEFAULT_SF_DIR, os.path.join(run_dir, "data"), seed)
        record["input_s"] = time.perf_counter() - t0
        session_s = run.start(input_dir)
        record["host"]["driver_memory"] = run.spark.conf.get("spark.driver.memory")
        prime_s, outputs = run.prime()
        t0 = time.perf_counter()
        run.check(outputs)
        record["check_s"] = time.perf_counter() - t0
        del outputs
        warm_s = run.warm()
        gc0 = run.gc_s()
        timed_s = run.timed()
        record["timed_gc_s"] = run.gc_s() - gc0
        rss_mb = run.peak_rss_mb()
        scratch_mb = dir_bytes(os.path.join(run_dir, "scratch")) / 1e6
        layers = layer_metrics(run, session_s, scratch_mb) if trace else None
    finally:
        t0 = time.perf_counter()
        run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        record["stop_s"] = time.perf_counter() - t0

    ops = [s["op_s"] for s in run.samples if not s["traced"] and s["pass"] >= 0]
    failed = len(run.errors)
    record.update({
        "attempted": run.attempted,
        "failed": failed,
        "fail_ratio": failed / max(1, run.attempted),
        "errors": run.errors,
        "session_s": session_s,
        "prime_s": prime_s,
        "prime_times": run.prime_times,
        "warm_s": warm_s,
        "timed_s": timed_s,
        "peak_rss_mb": rss_mb,
        "samples": run.samples,
        "op_samples": len(ops),
        "op_s_tail": percentile_tail(ops),
    })
    if trace:
        metrics, units = layers, PER_LAYER
        run.tracer.write(os.path.join(results_dir(), f"spans-{workload.name}-seed{seed}.jsonl"))
    else:
        units = END_TO_END
        metrics = {
            "op_s_p50": statistics.median(ops) if ops else 0.0,
            "ops_per_s": len(ops) / timed_s if timed_s > 0 else 0.0,
            "setup_s": session_s + prime_s + warm_s,
        }
    record["metrics"] = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    return record


def results_dir() -> str:
    path = os.path.join(os.getcwd(), ".perfbench", "results")
    os.makedirs(path, exist_ok=True)
    return path


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    record = execute(workload, args.seed, args.seconds, bool(args.trace))
    name = f"{workload.name}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results_dir(), name), "w") as fh:
        json.dump(record, fh, indent=1)
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }
    print(json.dumps({k: v for k, v in record.items() if k not in ("samples", "metrics")}))
    print(json.dumps(result), flush=True)
    return 0 if record["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
