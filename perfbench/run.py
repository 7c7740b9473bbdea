#!/usr/bin/env python3
"""Benchmark for the dedup engine on local[4].

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 5 --trace 0

Run from the repository root. One run starts one Spark session, builds the
workload's inputs from `--seed`, warms the session up with one untimed
operation, then repeats the workload's operation until `--seconds` seconds
have passed (at least `MIN_OPS` times) and checks every operation's outputs.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end ones (see README.md); with `--trace 1` untraced and traced
operations alternate, the traced ones record one span per layer with Spark's
task counters, and the metrics are the per-layer ones. Spans are written to
`perfbench/.out/` when the run ends.

`--record SEED...` instead runs every distinct operation of the workload
once per seed in one session and stores the outputs as the golden values in
`expected.json`:

    python3 perfbench/run.py --workload delta_update --record 0 1 2 3
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "3g"
#: One timed operation per run: set-up (session start, input builds, the
#: cold warm-up operation) already takes ~35 s of a run, and the benchmark's
#: runs must fit a fixed time budget. The gated time is CPU seconds, which
#: host CPU steal does not inflate, so one operation gives a steady figure.
MIN_OPS = 1
SETUP_REPS = 3
#: A traced delta_update run starts the query-roster sweep (~60 s) only this
#: many seconds into the run, so a run slowed by a busy host still ends
#: within its 180 s limit.
SWEEP_START_LIMIT_S = 80


def host_probe_s() -> float:
    """Wall of a fixed single-threaded numpy loop: how fast the host runs
    plain CPU work right now. Reported, never gated."""
    import numpy as np

    x = np.arange(100_000, dtype=np.uint64)
    t0 = time.monotonic()
    s = 0
    for _ in range(300):
        s += int(((x * 2862933555777941757 + 3037000493) % 1234567891).sum())
    return time.monotonic() - t0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


class RssSampler:
    """Peak resident set of one process, sampled every 20 ms while active."""

    def __init__(self, pid: int):
        self.path = f"/proc/{pid}/status"
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _read_kb(self) -> int:
        with open(self.path) as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._read_kb())
            self._stop.wait(0.02)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, self._read_kb())


def start_spark():
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    from lsh_for_source_code_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stops the session, if one started, then the JVM that pyspark launched
    for it and every process under that JVM (the Python workers), and waits
    until each of them has ended."""
    from pyspark import SparkContext
    from spans import descendants, read_proc

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    tree = descendants(read_proc()[0], proc.pid)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin reaches EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    wait_ended(tree)


def running(pid: int) -> bool:
    """Whether process `pid` exists and has not ended (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_ended(pids: list[int], grace_s: float = 30.0) -> None:
    """Waits until none of `pids` runs; those still running after `grace_s`
    seconds get SIGTERM, and after 10 more seconds SIGKILL."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in pids if sig is not None else []:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            pids = [pid for pid in pids if running(pid)]
            if not pids:
                return
            time.sleep(0.05)
    raise RuntimeError(f"processes {pids} still run after SIGKILL")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, nargs="+", metavar="SEED")
    args = ap.parse_args(argv)
    if (args.seed is None) == (args.record is None):
        ap.error("give exactly one of --seed and --record")

    probe = median([host_probe_s() for _ in range(3)])
    steal0 = cpu_times()

    t_setup = time.monotonic()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    # keep every scratch file inside the checkout: Python's and the JVM's
    # temp dirs, and no JVM perf-data file under /tmp
    os.environ["TMPDIR"] = tempfile.tempdir = WORK
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}"
    spark = None
    try:
        spark = start_spark()
        if args.record:
            return record(spark, WORKLOADS[args.workload], args)
        run = Run(spark, args, t_setup)
        run.measure(WORKLOADS[args.workload], time.monotonic() - t_setup)
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    steal1 = cpu_times()
    run.report(probe, (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1))
    return 0


class Run:
    """One benchmark run: set-up, the measured loop, checks and the report."""

    def __init__(self, spark, args, t_start: float):
        import checks
        from spans import Tracer

        self.spark, self.args, self.t_start = spark, args, t_start
        self.expected = checks.load_expected()
        self.tracer = Tracer(spark)
        #: times untraced operations: one span per operation, no layer spans
        self.clock = Tracer(spark)
        self.outputs: dict[str, dict] = {}
        self.problems: list[str] = []
        self.attempted = self.failed = 0
        self.walls: list[float] = []
        self.cpus: list[float] = []
        #: the Python workers' part of each entry of `cpus`
        self.worker_cpus: list[float] = []
        self.traced: list[float] = []
        self.layer_runs: list[dict] = []
        self.notes: list[str] = []
        self.roster_skipped = False

    def build(self, workload_cls, tag: str, reps: int):
        """`reps` input builds (the last one is kept), the once-only
        preparation and the warm-up operation, which is checked like any
        other. Returns (workload, build walls, preparation + warm-up wall)."""
        builds = []
        for rep in range(reps):
            work = os.path.join(WORK, f"{tag}{rep}")
            os.makedirs(work)
            wl = workload_cls(self.spark, self.args.seed, work)
            t0 = time.monotonic()
            wl.generate()
            builds.append(time.monotonic() - t0)
        t0 = time.monotonic()
        wl.prepare()
        prepare_s = time.monotonic() - t0
        got = self.attempt(wl, 0, traced=False)
        return wl, builds, prepare_s + (got[0] if got else 0.0)

    def account(self, wl, i: int, res: dict) -> None:
        """Counts one operation and checks its outputs: the workload's own
        checks, agreement with earlier operations of this run on the same
        input, and the golden values recorded for this seed."""
        import checks

        self.attempted += 1
        bad = wl.check(i, res)
        key = wl.golden_key(i)
        seen = self.outputs.setdefault(wl.name, {}).setdefault(key, {})
        for name, value in res.items():
            first = seen.setdefault(name, value)
            if first != value:
                bad.append(f"{key}/{name}: {value} differs from {first} earlier in this run")
        golden = self.expected.get(wl.name, {}).get(str(self.args.seed))
        if golden is not None:
            bad += checks.compare(res, golden.get(key))
        if bad:
            self.failed += 1
            self.problems.extend(f"{wl.name} {b}" for b in bad)

    def attempt(self, wl, i: int, traced: bool):
        """Runs and checks one operation; returns (wall, (CPU seconds, their
        Python-worker part), layer totals) -- CPU is None for a traced
        operation, layers for an untraced one -- or None when the operation
        raised."""
        try:
            if traced:
                self.tracer.new_op()
                wall, res, layers = wl.traced_op(i, self.tracer)
                cpu = None
            else:
                (sp, res), layers = wl.op(i, lambda: self.clock.span(wl.name)), None
                wall, cpu = sp.wall, (sp.counts["cpu_s"], sp.worker_cpu_s)
        except Exception as e:  # an operation that raises counts as failed
            self.attempted += 1
            self.failed += 1
            self.problems.append(f"{wl.name} op {i}: {type(e).__name__}: {e}")
            return None
        self.account(wl, i, res)
        return wall, cpu, layers

    def measure(self, workload_cls, session_s: float) -> None:
        args = self.args
        # The input build is repeated SETUP_REPS times and its median is
        # counted; session start, preparation (the base build of
        # delta_update) and the warm-up operation happen once per process.
        # A traced run does not report setup_s and builds once.
        wl, builds, once_s = self.build(workload_cls, "inputs", 1 if args.trace else SETUP_REPS)
        self.setup_s = session_s + median(builds) + once_s
        self.wl, self.session_s, self.builds, self.once_s = wl, session_s, builds, once_s

        deadline = time.monotonic() + args.seconds
        min_ops = 2 if args.trace else MIN_OPS  # one untraced, one traced
        i = 0
        with RssSampler(self.clock.jvm) as rss:
            while i < min_ops or time.monotonic() < deadline:
                traced = bool(args.trace and i % 2)
                got = self.attempt(wl, 1 + (i // 2 if args.trace else i), traced)
                if got is not None:
                    wall, cpu, layers = got
                    if traced:
                        self.traced.append(wall)
                        layers.setdefault("extra", {})["trace.read_s"] = self.tracer.read_s(
                            self.tracer.current_op
                        )
                        self.layer_runs.append(layers)
                    else:
                        self.walls.append(wall)
                        self.cpus.append(cpu[0])
                        self.worker_cpus.append(cpu[1])
                i += 1
        self.peak_rss_mb = rss.peak_kb / 1024
        self.finish_problems = wl.finish()
        self.quality = dict(wl.quality)
        if args.trace and wl.name == "delta_update":
            self.roster_sweep()
        if self.tracer.spans:
            os.makedirs(OUT, exist_ok=True)
            self.tracer.dump(os.path.join(OUT, f"spans-{wl.name}-{args.seed}.jsonl"))

    def roster_sweep(self) -> None:
        """The query roster's layers, measured inside the traced delta run
        (the shorter of the two): a cold pass (the roster's warm-up) and
        then a traced pass. Skipped, and its `query.*` metrics left out,
        when the run is already so old that the sweep could push it past
        its time limit."""
        from workloads import QueryRoster

        if time.monotonic() - self.t_start > SWEEP_START_LIMIT_S:
            self.notes.append("query_roster sweep skipped: run too slow")
            self.roster_skipped = True
            return
        roster, _, _ = self.build(QueryRoster, QueryRoster.name, 1)
        got = self.attempt(roster, 1, traced=True)
        if got is not None:
            self.layer_runs.append(got[2])
        self.finish_problems += roster.finish()

    def report(self, probe: float, steal_share: float) -> None:
        from workloads import per_layer_names

        args, wl = self.args, self.wl
        golden = self.expected.get(wl.name, {}).get(str(args.seed))
        op_s = median(self.walls)
        summary = {
            "workload": wl.name,
            "seed": args.seed,
            "golden": "checked" if golden else "none for this seed",
            "op_walls_s": [round(w, 3) for w in self.walls],
            "op_cpu_s": [round(c, 2) for c in self.cpus],
            "op_worker_cpu_s": [round(c, 2) for c in self.worker_cpus],
            "traced_walls_s": [round(w, 3) for w in self.traced],
            "session_s": round(self.session_s, 3),
            "input_build_s": [round(b, 3) for b in self.builds],
            "prepare_and_warm_s": round(self.once_s, 3),
            "host.probe_s": round(probe, 4),
            "host.steal_share": round(steal_share, 5),
            **{k: v for k, v in self.quality.items() if isinstance(v, float)},
            "notes": self.notes,
        }
        print(json.dumps(summary))
        for p in self.problems + self.finish_problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)

        if args.trace:
            names = per_layer_names()
            if self.roster_skipped:
                names = [n for n in names if not n.startswith("query.")]
            metrics = trace_metrics(self.layer_runs, names)
            metrics["host.probe_s"] = probe
            metrics["host.steal_share"] = steal_share
            metrics["trace.untraced_s"] = op_s
            metrics["trace.overhead_s"] = median(self.traced) - op_s
            metrics["truth.recall"] = self.quality.get("truth_recall", 0.0)
            metrics["incremental.copy_recall"] = self.quality.get("copy_recall", 0.0)
        else:
            metrics = {
                "op_cpu_s": median(self.cpus),
                "peak_rss_mb": self.peak_rss_mb,
                "setup_s": self.setup_s,
            }
        result = {
            "correct": self.failed == 0 and not self.finish_problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()
            },
        }
        print(json.dumps(result))


def record(spark, workload_cls, args) -> int:
    """Golden outputs for each seed in `args.record`, one session for all."""
    import checks

    table = checks.load_expected()
    for seed in args.record:
        run = Run(spark, argparse.Namespace(seed=seed), time.monotonic())
        run.expected = {}
        wl, _, _ = run.build(workload_cls, f"seed{seed}-", 1)
        for i in range(1, wl.distinct_ops):
            run.attempt(wl, i, traced=False)
        problems = run.problems + wl.finish()
        if problems:
            print(f"seed {seed}: not recorded: {problems}", file=sys.stderr)
            return 1
        table.setdefault(wl.name, {})[str(seed)] = run.outputs[wl.name]
        checks.save_expected(table)
        print(f"seed {seed}: recorded {run.outputs[wl.name]}")
        shutil.rmtree(wl.work)
    return 0


def unit_of(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    return {
        "wall_s": "s", "cpu_s": "s", "task_s": "s", "task_max_s": "s", "gc_s": "s", "probe_s": "s",
        "untraced_s": "s", "overhead_s": "s", "read_s": "s", "op_cpu_s": "s", "setup_s": "s",
        "shuffle_write_mb": "MB", "spill_mb": "MB", "peak_rss_mb": "MB",
    }.get(suffix, "count" if suffix in ("tasks", "rows_out", "failed_tasks", "edges") else "ratio")


def trace_metrics(layer_runs: list[dict], names: list[str]) -> dict[str, float]:
    """Per metric, the median over the traced operations that report it; a
    layer the workload does not call reads 0."""
    per_run = []
    for layers in layer_runs:
        flat = dict(layers.pop("extra", {}))
        for layer, vals in layers.items():
            for k, v in vals.items():
                flat[f"{layer}.{k}"] = v
        if "pipeline.wall_s" in flat:
            flat["pipeline.self.wall_s"] = flat["pipeline.wall_s"]
        per_run.append(flat)
    return {n: median([r[n] for r in per_run if n in r]) for n in names}


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    sys.exit(main())
