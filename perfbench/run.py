"""Migration benchmark for hummingbird_spark.

    python3 perfbench/run.py --workload full_load --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload cdc_hot_keys --steady 10

Run from the root of a checkout. One run generates the workload's inputs
from `--seed`, sets up through the program (session start and target
seeding; repeated and reported as the median `setup_s`), warms the plans up
once untimed, runs operations for `--seconds`, checks every output against
an independent oracle, and prints as its last stdout line one JSON object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics; `--trace 1` adds a traced pass (spans, Spark job groups,
event log) and reports the per-layer metrics instead. `--steady N` runs N
seeds as separate processes and prints each end-to-end metric's median,
quartiles and spread against its bound in BENCHMARK.json.

Everything the run writes stays under `.perfbench_work/` in the checkout,
which is removed at the end; a traced run also leaves its spans in
`.perfbench_out/spans-<workload>-<seed>.jsonl`.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 2
T0 = time.perf_counter()


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and all its descendants, from /proc,
    and the host's CPU steal share over the same interval."""

    def __init__(self, pid: int, every: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.every = pid, every
        self.peak_kb = 0
        self._stop_ev = threading.Event()
        self._cpu0 = self._cpu()

    @staticmethod
    def _cpu() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    @staticmethod
    def _tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            for kids in glob.glob(f"/proc/{p}/task/*/children"):
                try:
                    with open(kids) as f:
                        todo.extend(int(k) for k in f.read().split())
                except OSError:
                    pass
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self):
        while not self._stop_ev.is_set():
            self.peak_kb = max(self.peak_kb, sum(
                self._rss_kb(p) for p in self._tree(self.pid)))
            self._stop_ev.wait(self.every)

    def stop(self) -> tuple[float, float]:
        """Stop sampling; returns (peak RSS in MB, steal share in %)."""
        self._stop_ev.set()
        self.join()
        d = [b - a for a, b in zip(self._cpu0, self._cpu())]
        steal = 100 * d[7] / max(sum(d), 1) if len(d) > 7 else 0.0
        return self.peak_kb / 1024, steal


class Bench:
    """One run's session, work directory and log."""

    def __init__(self, args, work: str):
        self.seed, self.traced = args.seed, bool(args.trace)
        self.work = work
        self.spark = None
        self.gateway_proc = None
        self.event_dir = os.path.join(work, "eventlog")

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}",
              file=sys.stderr, flush=True)

    @staticmethod
    def maybe_span(tracer, name):
        return tracer.span(name) if tracer is not None else nullcontext()

    def start_session(self) -> float:
        from hummingbird_spark.session import get_spark

        # C1 only: a run's JVM lives about a minute, and C2's warm-up curve
        # spans about that long, so with C2 a run measures how far warm-up
        # got; C1 reaches its plateau within the warm-up pass
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                "-XX:TieredStopAtLevel=1",
        }
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        gw = self.spark.sparkContext._gateway
        self.gateway_proc = getattr(gw, "proc", None) or self.gateway_proc
        return dt

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 -- already gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self.gateway_proc
        if proc is not None and proc.poll() is None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def run_workload(args, work: str) -> dict:
    import workloads

    wl = workloads.WORKLOADS[args.workload]()
    if args.tiny:
        for k, v in wl.tiny.items():
            setattr(wl, k, v)
    b = Bench(args, work)
    try:
        t0 = time.perf_counter()
        wl.generate(b)
        gen_s = time.perf_counter() - t0
        b.log(f"{wl.name}: inputs generated in {gen_s:.2f} s")

        setups, sessions = [], []
        for i in range(SETUP_REPEATS):
            if i:
                b.stop_session()
            t0 = time.perf_counter()
            sessions.append(b.start_session())
            wl.prepare(b)
            setups.append(time.perf_counter() - t0)
        b.log("setup runs: " + ", ".join(f"{s:.2f}" for s in setups) + " s")
        t0 = time.perf_counter()
        wl.warm_up(b)
        b.log(f"warm-up {time.perf_counter() - t0:.2f} s (not in setup_s)")

        sampler = RssSampler(b.gateway_proc.pid)
        sampler.start()
        t0 = time.perf_counter()
        ops = wl.run(b, t0 + args.seconds)
        measured = time.perf_counter() - t0
        peak_mb, steal = sampler.stop()
        b.log(f"timed phase {measured:.1f} s, host CPU steal {steal:.1f}%")

        p50 = statistics.median(ops.lat)
        tail_v, tail_label = workloads.tail(ops.lat)
        result = {
            "workload": wl.name,
            "gen_s": gen_s,
            "measured_s": measured,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "tail_label": tail_label,
            "end_to_end": {
                "setup_s": (statistics.median(setups), "s"),
                "throughput": (statistics.median(ops.rates), "1/s"),
                "op_p50_s": (p50, "s"),
                "op_tail_s": (tail_v, "s"),
            },
            "detail": {**wl.report(), "peak_rss_mb": (peak_mb, "MB")},
        }
        if b.traced:
            result["per_layer"] = trace_workload(b, wl, sessions)
            result["per_layer"]["peak_rss_mb"] = peak_mb
        return result
    finally:
        b.shutdown()


def trace_workload(b: Bench, wl, sessions: list[float]) -> dict:
    from spans import EventLog, Tracer

    tracer = Tracer(b.spark.sparkContext)
    app_id = b.spark.sparkContext.applicationId
    layer: dict = {}
    with tracer.span("trace"):
        traced_s = wl.trace(b, tracer, layer)
    layer["trace.overhead_s"] = traced_s - wl.untraced_unit_s()
    b.stop_session()
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"spans-{wl.name}-{b.seed}.jsonl"))
    log = EventLog(b.event_dir, app_id)
    wl.trace_from_log(tracer, log, layer)
    every = log.totals(tracer.groups_of("trace"))
    layer["spark.jobs"] = every.jobs
    layer["spark.tasks"] = every.tasks
    layer["spark.gc_s"] = every.gc_ms / 1000
    layer["spark.shuffle_bytes"] = every.shuffle_write
    layer["spark.spill_bytes"] = every.spill
    layer["spark.executor_run_s"] = every.run_ms / 1000
    layer["session.get_spark_s"] = sessions[0]
    return layer


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def per_layer_units() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in load_spec()["per_layer"]}


def emit(result: dict, traced: bool) -> None:
    """Human-readable lines, then the one-line JSON result: end-to-end
    metrics untraced, per-layer metrics traced."""
    print(f"workload {result['workload']}: {result['attempted']} operations "
          f"in {result['measured_s']:.1f} s, {result['failed']} failed "
          f"(failed_ratio {result['failed'] / result['attempted']:.4f}); "
          f"inputs generated in {result['gen_s']:.2f} s (not in setup_s)")
    label = result["tail_label"]
    print(f"  op_tail_s is the {label} operations" if label[0] == "p"
          else f"  op_tail_s is {label}")
    if traced:
        shown = {name: (result["per_layer"].get(name, 0), unit)
                 for name, unit in per_layer_units().items()}
    else:
        shown = result["end_to_end"]
        for name, (v, unit) in result["detail"].items():
            print(f"  {name:32s} {v:14.6g} {unit}")
    for name, (v, unit) in shown.items():
        print(f"  {name:32s} {v:14.6g} {unit}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))


def steady(args) -> int:
    """Run `--steady N` seeds and report each metric's median, quartiles
    and spread (IQR over median) against its bound."""
    spec = load_spec()
    runs = []
    for seed in range(args.seed, args.seed + args.steady):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               args.workload, "--seed", str(seed), "--seconds",
               str(args.seconds), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                             timeout=600)
        last = out.stdout.strip().splitlines()[-1] if out.stdout else ""
        try:
            res = json.loads(last)
        except json.JSONDecodeError:
            print(f"seed {seed}: no result (exit {out.returncode})\n"
                  f"{out.stderr[-2000:]}")
            return 1
        runs.append(res)
        print(f"seed {seed}: {res['attempted']} operations, " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
            flush=True)
    ok = all(r["correct"] for r in runs)
    print(f"{args.workload}: {len(runs)} runs, all correct: {ok}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        print(f"  {m['name']:14s} median {med:10.4g} q1 {q1:10.4g} "
              f"q3 {q3:10.4g} spread {spread:6.3f} bound {m['bound']} "
              f"{'ok' if spread < m['bound'] / 3 else 'WIDE'}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="run this many seeds and report their spread")
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's own smoke test")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "hummingbird_spark",
                                       "__init__.py")):
        print("perfbench: no hummingbird_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    import workloads  # noqa: F401 -- fail fast on a bad install

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    if args.steady:
        return steady(args)

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, ROOT)
    try:
        result = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    Bench.log("done")
    emit(result, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
