#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lambda_lake --seed 1 --seconds 15 --trace 0

Workloads: ``lambda_lake`` and ``ann_corpus`` (see
``perfbench/README.md``). One closed-loop client runs a fixed, seeded
sequence of cycles in one warmed session: warm cycles first, then as many
timed cycles as fit ``--seconds`` at the workload's mean cycle time. Inputs
are generated before the session sees them, and every output is checked
outside the timed window.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``; the
per-layer metrics with ``--trace 1``, which runs the sequence with the Spark
event log on, then the same run untraced in a fresh process, to measure the
tracing overhead. The line before it is a JSON ``detail`` record: every
metric including those that apply to one workload only, the environment,
the cycle latencies and every check. The exit code is 1 if any check
failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CALLER_ENV = dict(os.environ)

# workload -> (module, class, warm cycles, mean timed-cycle seconds); a run
# times --seconds / mean cycles, at least two: 5 lambda_lake cycles or 2
# ann_corpus cycles (one with an index compaction, one without) at 15 s
WORKLOADS = {
    "lambda_lake": ("lake", "LambdaLake", 5, 3.0),
    "ann_corpus": ("ann_corpus", "AnnCorpus", 1, 11.0),
}
SMOKE_WARM, SMOKE_TIMED = 1, 2
# a traced run, untraced pass included, ends within this many seconds
RUN_DEADLINE_S = 175.0

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s",
             "cycle_p50_s": "s", "cycle_tail_s": "s", "search_p50_s": "s",
             "write_amp": "ratio", "space_amp": "ratio", "failed_frac": "ratio"}
# the end-to-end metrics every workload has, and so the ones gated
E2E_COMMON = ("setup_s", "wall_s", "rows_per_s", "cycle_p50_s", "cycle_tail_s")

COMMON_LAYER_METRICS = ("session.start_s", "warmup_s")
TRACE_METRICS = ("tracing_overhead", "span_coverage_min")
# stderr prefix of the line each cycle prints with its latency as it ends
CYCLE_LOG = "perfbench-cycle"


def workload_class(name: str):
    mod_name, cls_name, *_ = WORKLOADS[name]
    return getattr(importlib.import_module(mod_name), cls_name)


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("yield", "overhead", "coverage_min")):
        return "ratio"
    return "count"


def layer_metric_names() -> list[str]:
    """Per-layer metric names, the same for every workload (zero where a
    workload does not run the layer): the layer timings and counts, then the
    traced split of every span, less Python-worker time in spans that start
    no worker."""
    from spans import SPAN_FIELDS
    classes = [workload_class(w) for w in WORKLOADS]
    names = list(COMMON_LAYER_METRICS)
    spans = ["warmup"]
    for cls in classes:
        names += cls.layer_metrics
        spans += cls.spans
    no_python = {s for cls in classes for s in cls.no_python_spans}
    names += [f"{s}.{f}" for s in spans for f in SPAN_FIELDS
              if not (f == "python_s" and s in no_python)]
    return names + list(TRACE_METRICS)


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten cycles beyond it, and its
    value; below eleven cycles, the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    rank = n - 10 if n > 10 else n
    return 100.0 * rank / n, xs[rank - 1]


def host_memory_gib() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 4.0


def prepare_env(run_dir: Path) -> dict[str, str]:
    """Confine every file the run writes to ``run_dir`` and size the
    session to the host, before pyspark or the engine is imported."""
    for d in ("tmp", "local"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    env = {
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": f"{int(min(4, max(1, host_memory_gib() // 4)))}g",
        # half the cores run tasks, half are left to the driver's JVM and
        # Python threads: measured faster and steadier than nproc - 1
        "SPARK_GRAFT_CPUS": str(max(1, min(4, nproc // 2))),
    }
    os.environ.update(env)
    import tempfile
    tempfile.tempdir = env["TMPDIR"]
    env["nproc"] = str(nproc)
    return env


def start_session(run_dir: Path, traced: bool):
    from bda_spadochrony_spark.session import get_session
    tmp = run_dir / "tmp"
    conf = {
        # one shuffle (and state-store) partition per task slot
        "spark.sql.shuffle.partitions": os.environ["SPARK_GRAFT_CPUS"],
        "spark.default.parallelism": os.environ["SPARK_GRAFT_CPUS"],
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp}",
    }
    if traced:
        (run_dir / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_dir_of(args, pid: int) -> Path:
    """Where the run in process ``pid`` keeps everything it writes."""
    return ROOT / ".perfbench-runs" / f"{args.workload}-{args.seed}-{pid}"


def stop_jvm(spark) -> None:
    """Stop the session and the JVM py4j started for it, and wait until
    the JVM has exited (it exits when its stdin closes)."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def untraced_latencies(args) -> list[float] | None:
    """Cycle latencies of the same run without tracing, in a fresh process,
    so that neither pass inherits the other's warm JVM: every cycle, warm
    ones first. A pass that would end past ``RUN_DEADLINE_S`` is stopped
    there and yields the cycles it finished; None if it failed or finished
    none."""
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        + (["--smoke"] if args.smoke else []),
        cwd=ROOT, env=CALLER_ENV, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, start_new_session=True)
    left = RUN_DEADLINE_S - (time.perf_counter() - T_START)
    try:
        out, err = proc.communicate(timeout=max(1.0, left))
        stopped = False
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)  # the run and its JVM
        out, err = proc.communicate()
        stopped = True
        for _ in range(100):  # until the JVM has gone too
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        shutil.rmtree(run_dir_of(args, proc.pid), ignore_errors=True)
        sys.stderr.write(f"untraced run stopped at the {RUN_DEADLINE_S:.0f} s deadline\n")
    latencies = [float(line.split()[2]) for line in err.splitlines()
                 if line.startswith(CYCLE_LOG)]
    if not stopped:
        try:
            result = json.loads(out.strip().splitlines()[-1])
        except (IndexError, ValueError):
            result = {}
        if proc.returncode != 0 or not result.get("correct"):
            sys.stderr.write(err[-3000:])
            return None
    return latencies or None


def tracing_overhead(traced: list[float], plain: list[float],
                     n_warm: int) -> tuple[float, list[int]]:
    """Traced over untraced time of the same cycles, less one: the timed
    cycles both passes finished (all of them, i.e. the ``wall_s`` ratio,
    unless the untraced pass was stopped), else the warm cycles it
    finished; and the cycles compared."""
    done = range(min(len(traced), len(plain)))
    cycles = [c for c in done if c >= n_warm] or list(done)
    return (sum(traced[c] for c in cycles) / sum(plain[c] for c in cycles) - 1,
            cycles)


class Phase:
    """One pass over the warm and timed cycles in one session."""

    def __init__(self, wl, n_warm: int, n_timed: int, traced: bool):
        self.wl, self.n_warm, self.n_timed = wl, n_warm, n_timed
        self.traced = traced
        self.warm_latencies: list[float] = []
        self.latencies: list[float] = []
        self.coverage: list[float] = []
        self.checks: list[tuple[int, str, str, bool]] = []
        self.failed_ops: set[tuple[int, str]] = set()
        self.attempted = 0
        self.rows = 0
        self.first_timed_at = 0.0

    def run(self, spark, out: Path) -> "Phase":
        from spans import Spans
        wl = self.wl
        wl.spark = spark
        wl.reset(out)
        self.spans = spans = Spans(spark.sparkContext)
        spans.alias = "warmup"
        c = -1
        try:
            for c in range(self.n_warm + self.n_timed):
                timed = c >= self.n_warm
                if c == self.n_warm:
                    spans.alias = None
                    self.first_timed_at = time.perf_counter()
                spans.reset_cycle()
                t0 = time.perf_counter()
                rows = wl.cycle(c, spans)
                dt = time.perf_counter() - t0
                print(CYCLE_LOG, c, repr(dt), file=sys.stderr, flush=True)
                wl.account()
                if not timed:
                    self.warm_latencies.append(dt)
                    continue
                self.latencies.append(dt)
                self.coverage.append(spans.covered_s() / dt)
                self.rows += rows
                self.attempted += len(spans.cycle_total)
                if self.traced:
                    wl.traced_extras(c)
                self.add_checks(c, wl.check(c))
            self.add_checks(c, wl.final_check(c))
        except Exception:  # a raising operation fails the run, with its trace
            traceback.print_exc()
            self.attempted += 1
            self.failed_ops.add((c, "raised"))
        self.checks.append((-1, "spans", "spans_cover_90pct_of_each_cycle",
                            min(self.coverage, default=0.0) >= 0.9))
        return self

    def add_checks(self, c: int, results) -> None:
        for leg, name, ok in results:
            self.checks.append((c, leg, name, bool(ok)))
            if not ok:
                self.failed_ops.add((c, leg))

    @property
    def correct(self) -> bool:
        return not self.failed_ops and all(ok for *_, ok in self.checks)

    def e2e(self, setup_s: float) -> dict[str, float]:
        lat = self.latencies
        wall = sum(lat)
        _, tail_s = tail(lat)
        return {"setup_s": setup_s, "wall_s": wall,
                "rows_per_s": self.rows / wall, "cycle_p50_s": statistics.median(lat),
                "cycle_tail_s": tail_s,
                "failed_frac": len(self.failed_ops) / max(self.attempted, 1),
                **self.wl.extra_e2e(self.n_warm)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="small inputs, 1 warm and 2 timed cycles")
    args = ap.parse_args()

    *_, n_warm, cycle_s = WORKLOADS[args.workload]
    n_timed = max(2, round(args.seconds / cycle_s))
    size = "full"
    if args.smoke:
        n_warm, n_timed, size = SMOKE_WARM, SMOKE_TIMED, "smoke"

    run_dir = run_dir_of(args, os.getpid())
    spark = None
    try:
        env = prepare_env(run_dir)
        load_start = os.getloadavg()
        sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
        gen_mod = importlib.import_module("gen_scale_data")
        wl_cls = workload_class(args.workload)

        t0 = time.perf_counter()
        spark = start_session(run_dir, traced=bool(args.trace))
        session_start_s = time.perf_counter() - t0
        sc = spark.sparkContext
        env_rec = {"master": sc.master, "defaultParallelism": sc.defaultParallelism,
                   "spark_version": spark.version, "nproc": int(env["nproc"]),
                   "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"],
                   "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                   "seed": args.seed, "load_avg_start": load_start}

        wl = wl_cls(spark, gen_mod, size, args.seed)
        (run_dir / "gen").mkdir()
        wl.generate(run_dir / "gen", n_warm + n_timed)
        ph = Phase(wl, n_warm, n_timed, bool(args.trace)).run(spark, run_dir / "out")
        if not ph.latencies:
            return 1  # the first cycles raised; the trace is on stderr
        e2e = ph.e2e(ph.first_timed_at - T_START)
        layer = wl.layer_medians(n_warm)
        layer.update({"session.start_s": session_start_s,
                      "warmup_s": sum(ph.warm_latencies),
                      "span_coverage_min": min(ph.coverage)})

        if args.trace:
            from spans import fold_event_log
            stop_jvm(spark)
            spark = None
            folded = fold_event_log(run_dir / "eventlog", ph.spans.windows,
                                    {"warmup", *wl_cls.spans})
            for span, fields in folded.items():
                layer.update({f"{span}.{f}": v for f, v in fields.items()})
            plain = untraced_latencies(args)
            if plain is None:
                ph.attempted += 1
                ph.failed_ops.add((-1, "untraced run"))
            else:
                layer["tracing_overhead"], env_rec["overhead_cycles"] = \
                    tracing_overhead(ph.warm_latencies + ph.latencies, plain, n_warm)
        env_rec["load_avg_end"] = os.getloadavg()

        per_layer = {m: layer.get(m, 0.0) for m in layer_metric_names()}
        pct, tail_s = tail(ph.latencies)
        correct = ph.correct
        detail = {
            "workload": args.workload, "trace": args.trace, "size": size,
            "env": env_rec,
            "cycles": {"warm": n_warm, "timed": n_timed,
                       "warm_latencies_s": ph.warm_latencies,
                       "latencies_s": ph.latencies, "tail_percentile": pct,
                       "tail_samples": len(ph.latencies),
                       "first_timed_le_tail": ph.latencies[0] <= tail_s},
            "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
            "layers": {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer.items()},
            "checks": [{"cycle": c, "leg": leg, "name": n, "ok": ok}
                       for c, leg, n, ok in ph.checks],
        }
        print(json.dumps({"detail": detail}))
        if args.trace:
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in E2E_COMMON}
        print(json.dumps({"correct": correct, "attempted": ph.attempted,
                          "failed": len(ph.failed_ops), "metrics": metrics}))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
