"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload queries|etl --seed N --seconds S --trace 0|1

Run from the repository root. Load is a closed loop from one client
thread: each operation starts when the previous one returns, on
``local[<cpus available>]``. A run:

1. generates the seeded inputs (not timed);
2. sets up ``SETUPS`` times, each in a process that has not yet imported
   the engine or launched a JVM: ``SETUPS - 1`` child processes that exit
   after it, then this process for the passes. Each set-up is timed from
   the engine imports until the session is built and warmed up (imports,
   JVM launch, session, warm-up); ``setup_s`` is their median;
3. runs passes over the workload's operation list: the first pass is the
   cold one, then warm passes until they have taken ``--seconds`` and at
   least ``min_warm_passes`` of them are done. The JIT keeps speeding
   passes up for several passes, so a fixed pass count, not a time, is
   what keeps runs comparable; ``--seconds`` is a floor;
4. checks every operation's output (not timed), after one more untimed
   pass where the workload has one, and prints one JSON line.

With ``--trace 1`` warm passes alternate untraced and traced; per-layer
metrics come from the traced passes, and the span trace, per-operation
reconciliation and per-pass engine counters go to
``perfbench/_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
SETUPS = 2
SETUP_MARK = "# setup done "

END_TO_END = {"setup_s": "s", "suite_s": "s", "op_p50_s": "s"}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    """One benchmark run: owns the session, the tracer and the records."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, run_dir: str,
                 star_scale: float = 1.0, corrupt: bool = False) -> None:
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        self.seconds = seconds
        self.trace = trace
        self.corrupt = corrupt
        self.tracer = Tracer()
        self.wl = WORKLOADS[workload](WORK, run_dir, seed, self.tracer, star_scale)
        self.setups: list[float] = []
        self.session_start: list[float] = []
        self.session_warm: list[float] = []
        self.passes: list[dict] = []
        self.failed_ops: set[str] = set()
        self.spark = None

    # -- set-up -----------------------------------------------------------

    def setup_here(self) -> tuple[float, float]:
        """Build the session and warm it up in this process; returns the
        time in ``get_spark`` (with the engine imports) and in warm-up."""
        t0 = time.perf_counter()
        from praw_etl_student_dropout_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.wl.warm(self.spark)
        return t1 - t0, time.perf_counter() - t1

    def setup(self, argv: list[str]) -> None:
        """Set up in ``SETUPS - 1`` fresh child processes, then here;
        record each set-up's times."""
        timings = []
        for _ in range(SETUPS - 1):
            with subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv, "--setup-only"],
                                  cwd=ROOT, stdout=subprocess.PIPE, text=True) as proc:
                line = next((ln for ln in proc.stdout if ln.startswith(SETUP_MARK)), None)
                proc.stdout.read()
            if proc.returncode != 0 or line is None:
                raise RuntimeError(f"set-up process failed with code {proc.returncode}")
            timings.append(json.loads(line[len(SETUP_MARK):]))
        timings.append(self.setup_here())
        for start_s, warm_s in timings:
            self.session_start.append(start_s)
            self.session_warm.append(warm_s)
            self.setups.append(start_s + warm_s)

    # -- passes -----------------------------------------------------------

    def _run_pass(self, n: int, kind: str, counters) -> dict:
        wl, tracer = self.wl, self.tracer
        wl.before_pass(self.spark, n)
        if counters is not None:
            counters.mark()
        first_span = len(tracer.spans)
        tracer.py4j_calls.clear()
        tracer.enabled = kind == "traced"
        ops = []
        t0 = time.perf_counter()
        for op in wl.ops(n, kind):
            tracer.op = f"{n}:{op.name}"
            start = time.perf_counter()
            try:
                with tracer.span(op.name, "bench"):
                    op.fn(self.spark)
                ok = True
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            ops.append({"name": op.name, "s": time.perf_counter() - start, "ok": ok})
        wall = time.perf_counter() - t0
        tracer.enabled = False
        tracer.op = None
        rec = {"n": n, "kind": kind, "wall": wall, "ops": ops,
               "py4j": dict(tracer.py4j_calls), "spans": (first_span, len(tracer.spans))}
        if counters is not None:
            # read before the checks, so the counters cover only the
            # workload's own operations
            streams = sum(1 for s in tracer.spans[first_span:] if s.name == "incremental_reference_stream")
            rec["counters"] = counters.read(streams)
        for name, good in wl.after_pass(self.spark, n).items():
            if not good:
                self.failed_ops.add(name)
        return rec

    def measure(self) -> None:
        """Cold pass, untimed warm-up passes, measured warm passes
        (alternating untraced and traced in a traced run), then the
        untimed check pass where the workload has one."""
        from contextlib import nullcontext

        from perfbench.trace import EngineCounters

        counters = None
        if self.trace:
            self.tracer.bind(self.spark)
            counters = EngineCounters(self.spark, self.tracer)
        with self.tracer.patched() if self.trace else nullcontext():
            self.passes.append(self._run_pass(0, "cold", counters))
            n = 1
            for _ in range(self.wl.warmup_passes):
                self.passes.append(self._run_pass(n, "warmup", counters))
                n += 1
            t0 = time.perf_counter()
            while True:
                traced = self.trace and len(self._passes("warm")) > len(self._passes("traced"))
                self.passes.append(self._run_pass(n, "traced" if traced else "warm", counters))
                n += 1
                # a traced run needs one untraced warm pass for the overhead
                enough = (self._passes("traced") if self.trace
                          else len(self._passes("warm")) >= self.wl.min_warm_passes)
                if time.perf_counter() - t0 >= self.seconds and enough:
                    break
            if self.wl.check_pass:
                self.passes.append(self._run_pass(n, "check", counters))
        if counters is not None:
            counters.detach()
        for name, good in self.wl.check(self.spark, corrupt=self.corrupt).items():
            if not good:
                self.failed_ops.add(name)

    def _passes(self, kind: str) -> list[dict]:
        return [p for p in self.passes if p["kind"] == kind]

    # -- results ----------------------------------------------------------

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        return (_vm_hwm_kb(jvm) + _vm_hwm_kb("self")) / 1024.0

    def counts(self) -> tuple[int, int]:
        ops = [o for p in self.passes for o in p["ops"]]
        failed = sum(1 for o in ops if not o["ok"] or o["name"] in self.failed_ops)
        return len(ops), failed

    def end_to_end(self) -> dict[str, float]:
        warm = self._passes("warm")
        per_op: dict[str, list[float]] = {}
        for p in warm:
            for o in p["ops"]:
                per_op.setdefault(o["name"], []).append(o["s"])
        return {
            "setup_s": _median(self.setups),
            "suite_s": _median([p["wall"] for p in warm]),
            "op_p50_s": _median([_median(v) for v in per_op.values()]),
        }

    def per_layer(self) -> dict[str, float]:
        from perfbench.trace import self_times

        traced = self._passes("traced")
        untraced = self._passes("warm")
        spans = self.tracer.spans
        selfs = self_times(spans)
        rows: list[dict] = []
        for p in traced:
            lo, hi = p["spans"]
            ps = spans[lo:hi]
            by_layer: dict[str, float] = {}
            for s in ps:
                by_layer[s.layer] = by_layer.get(s.layer, 0.0) + selfs[s.id]
            # job-running calls, outermost only: actions, writes, drains
            runs_jobs = {s.id for s in ps if s.layer in ("spark", "streaming")
                         or (s.layer == "sources" and s.name in ("parquet", "csv"))}
            parent_of = {s.id: s.parent for s in ps}

            def outermost(sid: int) -> bool:
                q = parent_of.get(sid)
                while q is not None:
                    if q in runs_jobs:
                        return False
                    q = parent_of.get(q)
                return True

            action_s = sum(s.end - s.start for s in ps if s.id in runs_jobs and outermost(s.id))
            row = dict(p["counters"])
            row.pop("task_run_s_by_group")
            row.update({
                "plans.build_s": by_layer.get("plans", 0.0),
                "plans.py4j_calls": float(p["py4j"].get("plans", 0)),
                "plans.build_share": by_layer.get("plans", 0.0) / p["wall"],
                "spark.action_s": action_s,
                "spark.core_busy": row["spark.task_run_s"] / (action_s * cpus()) if action_s else 0.0,
                # one pass of the etl workload is one tick
                "sources.api_scans_per_tick": row.pop("sources.api_scans"),
                "sources.snapshot_s": sum((s.end - s.start for s in ps if s.name == "csv_snapshot"), 0.0),
                "sources.write_amp": (row["sources.bytes_written"] / self.wl.generated_bytes
                                      if self.wl.generated_bytes else 0.0),
                "sources.self_s": by_layer.get("sources", 0.0),
                "spark.self_s": by_layer.get("spark", 0.0),
                "streaming.self_s": by_layer.get("streaming", 0.0),
                "trace.residual_s": by_layer.get("bench", 0.0),
            })
            rows.append(row)
        out = {k: _median([r[k] for r in rows]) for k in rows[0]} if rows else {}
        out["run.first_pass_s"] = self.passes[0]["wall"]
        out["run.peak_rss_mb"] = self.peak_rss_mb()
        out["session.start_s"] = _median(self.session_start)
        out["session.warm_s"] = _median(self.session_warm)
        out["trace.overhead_s"] = (_median([p["wall"] for p in traced])
                                   - _median([p["wall"] for p in untraced]))
        return out

    def reconciliation(self) -> list[dict]:
        """Per traced operation: wall time, layer self-times, residual,
        and the executor task time of the jobs its spans submitted."""
        from perfbench.trace import self_times

        spans = self.tracer.spans
        selfs = self_times(spans)
        task_s: dict[str, float] = {}
        for p in self._passes("traced"):
            for gid, v in p["counters"]["task_run_s_by_group"].items():
                task_s[gid] = task_s.get(gid, 0.0) + v
        lines = []
        for s in spans:
            if s.layer != "bench":
                continue
            layers: dict[str, float] = {}
            tasks = 0.0
            for t in spans:
                if t.op == s.op:
                    tasks += task_s.get(str(t.id), 0.0)
                    if t.id != s.id:
                        layers[t.layer] = layers.get(t.layer, 0.0) + selfs[t.id]
            lines.append({"op": s.op, "wall_s": s.end - s.start, "self_s": layers,
                          "residual_s": selfs[s.id], "task_run_s": tasks})
        return lines

    def regimes(self) -> dict[str, dict[str, float]]:
        """Build share and core use per operation group (the queries
        workload's floor and text slots)."""
        groups = getattr(self.wl, "group", {})
        acc: dict[str, dict[str, float]] = {}
        for line in self.reconciliation():
            g = groups.get(line["op"].split(":", 1)[1], self.wl.name)
            a = acc.setdefault(g, {"wall_s": 0.0, "plans_s": 0.0, "spark_s": 0.0, "task_run_s": 0.0})
            a["wall_s"] += line["wall_s"]
            a["plans_s"] += line["self_s"].get("plans", 0.0)
            a["spark_s"] += line["self_s"].get("spark", 0.0)
            a["task_run_s"] += line["task_run_s"]
        return {
            g: {"build_share": a["plans_s"] / a["wall_s"],
                "core_busy": a["task_run_s"] / (a["spark_s"] * cpus()) if a["spark_s"] else 0.0}
            for g, a in acc.items()
        }


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def configure_env(seed: int) -> str:
    """Keep every file the run writes inside the checkout, and pass the
    seed and core count to the engine before the JVM starts."""
    from perfbench.posts import CLOCK_ENV, SEED_ENV

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ[SEED_ENV] = str(seed)
    os.environ[CLOCK_ENV] = os.path.join(run_dir, "clock")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} pyspark-shell"
    )
    return run_dir


def execute(workload: str, seed: int, seconds: float, trace: bool,
            star_scale: float = 1.0, corrupt: bool = False) -> dict:
    """One run; returns the result object the CLI prints."""
    run_dir = configure_env(seed)
    run = None
    try:
        run = Run(workload, seed, seconds, trace, run_dir, star_scale, corrupt)
        run.setup(["--workload", workload, "--seed", str(seed), "--seconds", "0", "--star-scale", f"{star_scale:g}"])
        run.measure()
        attempted, failed = run.counts()
        if trace:
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in run.per_layer().items()}
            write_trace(workload, seed, run)
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in run.end_to_end().items()}
        report(run)
    finally:
        shutdown(run.spark if run is not None else None)
        shutil.rmtree(run_dir, ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def setup_only(workload: str, seed: int, star_scale: float) -> None:
    """The child side of one timed set-up: set up, report, shut down."""
    run_dir = configure_env(seed)
    run = None
    try:
        run = Run(workload, seed, 0, False, run_dir, star_scale)
        print(SETUP_MARK + json.dumps(run.setup_here()), flush=True)
    finally:
        shutdown(run.spark if run is not None else None)
        shutil.rmtree(run_dir, ignore_errors=True)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name.endswith("bytes_read") or name.endswith("bytes_written") \
            or name.endswith("bytes_sent"):
        return "bytes"
    if name.endswith("_share") or name.endswith("core_busy") or name.endswith("write_amp"):
        return "ratio"
    return "count"


def write_trace(workload: str, seed: int, run: Run) -> None:
    path = os.path.join(WORK, f"trace-{workload}-{seed}.json")
    with open(path, "w") as fh:
        json.dump({
            "spans": [s.as_dict() for s in run.tracer.spans],
            "passes": [{k: v for k, v in p.items() if k != "spans"} for p in run.passes],
            "reconciliation": run.reconciliation(),
            "regimes": run.regimes(),
        }, fh)
    print(f"# trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


def report(run: Run) -> None:
    """Human-readable detail on stderr; stdout carries only the result."""
    err = sys.stderr
    print(f"# setups: {[round(s, 3) for s in run.setups]}", file=err)
    for p in run.passes:
        ops = " ".join(f"{o['name']}={o['s']:.3f}" for o in p["ops"])
        print(f"# pass {p['n']} {p['kind']} {p['wall']:.3f}s: {ops}", file=err)
    if not run.trace:
        return
    for line in run.reconciliation():
        parts = " ".join(f"{k}={v:.3f}" for k, v in sorted(line["self_s"].items()))
        print(f"# op {line['op']} wall={line['wall_s']:.3f} = {parts} + residual={line['residual_s']:.3f}"
              f" | task_run={line['task_run_s']:.3f}", file=err)
    for g, v in run.regimes().items():
        print(f"# regime {g}: build_share={v['build_share']:.3f} core_busy={v['core_busy']:.3f}", file=err)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    # etl_rotating_keys is the self-test's known-failure probe
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # internal: input size for the self-test, and the timed set-up child
    ap.add_argument("--star-scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.setup_only:
        setup_only(args.workload, args.seed, args.star_scale)
        return 0
    result = execute(args.workload, args.seed, args.seconds, bool(args.trace), args.star_scale)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
