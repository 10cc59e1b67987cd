"""Seeded benchmark of the tweet-analytics engine.

    python3 perfbench/run.py --workload tweet_analytics --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates every input from ``--seed``
under ``.perfbench_work/`` in the root, starts the engine through its
public ``session.get_spark`` with host-fitted settings, runs the named
workload (see workloads.py) -- a cold pass, then warm passes until
``--seconds`` have elapsed, at least two -- checks every result, and
prints each metric by name with its unit and sample count.  Spark gets
half the host's cores, so its task threads, the JVM's JIT and GC threads
and the Python workers fit the cores of a shared host.  The last stdout
line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end
metrics with ``--trace 0``; with ``--trace 1`` a run that alternates
untraced and traced passes reports the per-layer metrics instead.

Set-up (process start through ``get_spark``, ``load_all`` and input
staging) is timed three times: once in this process, then, after the
workload, in two more processes started with ``--setup-only``;
``setup_s`` is the median.  A traced run times it once.

``--tiny`` shrinks the lakehouse and stream inputs (used by
selfcheck.py); ``--inject-wrong`` corrupts the first op's result, which
must count as a failure.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "sparkstreamingtwitter_presidential_spark"
sys.path[:0] = [HERE, ROOT]
import procfs  # noqa: E402
WORKLOAD_NAMES = ("tweet_analytics", "collect_store")
SETUPS = 3


def _since_process_start() -> float:
    """Seconds since this process started (both clocks count from boot)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    return kb / 1024 / 1024


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree, sampled every 500 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        self.peak = max(self.peak, procfs.tree_rss_bytes(procfs.tree_pids()))

    def run(self):
        while not self._halt.wait(0.5):
            self.sample()

    def stop(self):
        self._halt.set()
        self.join()
        self.sample()


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


def configure_env(work: str) -> dict:
    """Host-fit launch through the engine's own environment variables,
    with every scratch path inside the work dir."""
    host_cpus = len(os.sched_getaffinity(0))
    cpus = max(1, host_cpus // 2)
    mem_gb = _mem_total_gb()
    driver_gb = max(1, min(4, int(mem_gb // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        # Python workers import the package from the repository root
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    time.tzset()
    return {"cores": host_cpus, "spark_cores": cpus, "ram_gb": round(mem_gb, 1),
            "driver_mem": f"{driver_gb}g"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_NAMES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--inject-wrong", action="store_true")
    ap.add_argument("--setup-only", action="store_true",
                    help="time one set-up, print it as JSON and exit")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: package {PKG} not found under {ROOT}; run from a checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    os.chdir(work)
    host = configure_env(work)
    rss = RssSampler()
    rss.start()
    engine: dict = {}
    try:
        result = setup_only(a, work, engine) if a.setup_only else run(a, work, host, rss, engine)
    finally:
        if "spark" in engine:
            stop_engine(engine["spark"], graceful=not a.setup_only)
        if rss.is_alive():
            rss.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".perfbench_work"))
        except OSError:
            pass
    if not a.setup_only:
        setups = [result.pop("setup_s")]
        if not a.trace:
            setups += [setup_in_child(a) for _ in range(SETUPS - 1)]
            result["metrics"] = {"setup_s": {"value": statistics.median(setups), "unit": "s"},
                                 **result["metrics"]}
        print(f"set-ups: {', '.join(f'{x:.3f} s' for x in setups)}")
        print(f"metric setup_s = {statistics.median(setups):.6g} s (n={len(setups)})")
    print(json.dumps(result))
    return 0


def setup(a, work: str, engine: dict) -> tuple[dict, dict, float, float]:
    """Engine and inputs, ready for the first op: (registry, input info,
    get_spark seconds, load_all seconds)."""
    import workloads as W

    t0 = time.perf_counter()
    from sparkstreamingtwitter_presidential_spark.session import get_spark

    spark = engine["spark"] = get_spark("perfbench")
    t1 = time.perf_counter()
    from sparkstreamingtwitter_presidential_spark.queries import load_all

    reg = load_all()
    t2 = time.perf_counter()
    info = W.stage_inputs(work, a.seed, a.workload, a.tiny)
    return reg, info, t1 - t0, t2 - t1


def setup_only(a, work: str, engine: dict) -> dict:
    setup(a, work, engine)
    return {"setup_s": _since_process_start()}


def setup_in_child(a) -> float:
    """Seconds one more process takes to set up the same workload."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", "0", "--setup-only"] + (["--tiny"] if a.tiny else [])
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=170)
    if p.returncode != 0:
        raise RuntimeError(f"set-up process exited {p.returncode}")
    return float(json.loads(p.stdout.strip().splitlines()[-1])["setup_s"])


def stop_engine(spark, graceful: bool = True) -> None:
    """Stop the session, then the JVM, and wait for it to exit.  Without
    ``graceful`` (a set-up that ran no job) the JVM is killed at once."""
    from pyspark import SparkContext

    if graceful:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if not graceful:
                proc.kill()
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(a, work: str, host: dict, rss: RssSampler, engine: dict) -> dict:
    import pyspark

    import workloads as W
    from layers import Tracer, make_listener

    reg, info, get_spark_s, load_all_s = setup(a, work, engine)
    setup_s = _since_process_start()
    spark = engine["spark"]
    spark.sparkContext.setLogLevel("ERROR")
    host["pyspark"] = pyspark.__version__
    print(f"host cores={host['cores']} spark_cores={host['spark_cores']} ram_gb={host['ram_gb']} "
          f"driver_mem={host['driver_mem']} pyspark={host['pyspark']} python={sys.version.split()[0]}")
    print(f"inputs seed={a.seed} fixture=sf0.01 "
          f"rows={json.dumps(info['rows'])} hash={info['input_hash']}")

    tracer = Tracer()
    progress: list[dict] = []
    plock = threading.Lock()
    if a.trace:
        n = tracer.install(spark)
        print(f"trace wrapped_functions={n}")
        if a.workload == "collect_store":
            spark.streams.addListener(make_listener(progress, plock))
    ctx = W.Ctx(spark=spark, tracer=tracer, reg=reg, work=work, sf_dir=info["sf_dir"],
                seed=a.seed, seconds=a.seconds, tiny=a.tiny, trace=bool(a.trace),
                inject=a.inject_wrong)
    if "backlog" in info:
        ctx.extra["backlog"] = info["backlog"]
    W.WORKLOADS[a.workload](ctx)
    rss.stop()

    lines: list[tuple[str, float, str, int]] = []
    e2e = end_to_end(ctx, rss.peak, lines)
    error_rate = ctx.failed / max(1, ctx.attempted)
    lines.append(("error_rate", error_rate, "ratio", ctx.attempted))
    for name, v, unit, n in lines:
        print(f"metric {name} = {v:.6g} {unit} (n={n})")
    correct = ctx.failed == 0
    print(f"correct: {str(correct).lower()} attempted={ctx.attempted} failed={ctx.failed}")
    metrics = e2e
    if a.trace:
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        with plock:
            prog = list(progress)
        metrics = per_layer(ctx, tracer, prog, get_spark_s, load_all_s, rss.peak)
        for k, (v, unit) in metrics.items():
            print(f"layer {k} = {v:.6g} {unit}")
    # setup_s (an end-to-end metric) joins the other set-ups in main()
    return {"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed, "setup_s": setup_s,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def _geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(max(v, 1e-3)) for v in values))


def end_to_end(ctx, peak_rss: int, lines: list) -> dict:
    """End-to-end metrics but setup_s, from the cold pass and the
    untraced warm passes.  The returned (bounded) ones are CPU seconds of
    the whole process tree per pass: unlike wall time, they do not grow
    when the hypervisor of a shared host gives the CPUs to other guests.
    Wall times are printed with their sample counts.  An op is a query, a
    commit, a read or a backlog drain; its latency is its median over the
    warm passes, and pass_s is the sum of those medians.  Events of the
    open loop are timed from their creation to the commit of the
    collector batch that emitted them, one sample per generated file."""
    cold = ctx.passes[0]
    warm_passes = [p for p in ctx.passes if p.idx > 0 and not p.traced]
    warm = [s for s in ctx.samples if s.idx > 0 and not s.traced]
    by_op: dict[str, list[float]] = {}
    for s in warm:
        by_op.setdefault(s.name, []).append(s.ms)
    op_ms = [statistics.median(v) for v in by_op.values()]
    pass_s = sum(op_ms) / 1000.0
    # the JIT still compiles through the first warm passes and moves CPU
    # time between them; the mean over the first two holds that fixed
    first = warm_passes[:2]
    m = {
        "cold_pass_cpu_s": (cold.cpu, "s", 1),
        "pass_cpu_s": (statistics.fmean(p.cpu for p in first), "s", len(first)),
    }
    lines += [(k, v, u, n) for k, (v, u, n) in m.items()]
    lines += [
        ("cold_pass_s", cold.wall, "s", 1),
        ("pass_s", pass_s, "s", len(warm_passes)),
        ("ops_per_s", len(op_ms) / pass_s, "1/s", len(warm)),
        ("op_geomean_ms", _geomean(op_ms), "ms", len(warm)),
    ]
    lat = [s.ms for s in warm]
    lines.append(("op_p50_ms", statistics.median(lat), "ms", len(lat)))
    if len(lat) >= 100:  # at least ten samples beyond the 90th percentile
        lines.append(("op_p90_ms", _pct(lat, 0.9), "ms", len(lat)))
    for kind in ("commit", "read"):
        v = [s.ms for s in ctx.samples if s.idx > 0 and not s.traced and s.kind == kind]
        if v:
            lines.append((f"{kind}_p50_ms", statistics.median(v), "ms", len(v)))
    drains = [s.ms for s in ctx.samples if s.idx > 0 and not s.traced and s.kind == "drain"]
    if drains:
        lines.append(("events_per_s", ctx.extra["drain_events"] * len(drains) / (sum(drains) / 1000.0),
                      "1/s", len(drains)))
    ev = ctx.extra.get("event_latency_ms")
    if ev:
        lines.append(("event_latency_p50_ms", statistics.median(ev), "ms", len(ev)))
        if len(ev) >= 100:
            lines.append(("event_latency_p90_ms", _pct(ev, 0.9), "ms", len(ev)))
        lines.append(("open_loop_collector_runs", ctx.extra["collector_runs"], "count", 1))
    # peak memory moves with JVM heap growth from run to run, too much to
    # bound; it is also a per-layer metric
    lines.append(("peak_rss_mb", peak_rss / 2**20, "MB", 1))
    return {k: (v, u) for k, (v, u, _) in m.items()}


UNITS = {"jobs": "count", "tasks": "count", "calls": "count", "bytes": "bytes",
         "hit_ratio": "ratio", "batches": "count", "input_rows": "count", "state_rows": "count",
         "files": "count", "backlog_files": "count", "overhead_pct": "%", "rss_mb": "MB"}


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in UNITS.items():
        if last == suffix or last.endswith("_" + suffix):
            return unit
    return "ms"


def per_layer(ctx, tracer, progress: list[dict], get_spark_s: float, load_all_s: float,
              peak_rss: int) -> dict:
    import workloads as W

    traced = [p.wall for p in ctx.passes if p.traced]
    untraced = [p.wall for p in ctx.passes if p.idx > 0 and not p.traced]
    n = max(1, len(traced))
    m: dict[str, float] = {"session.get_spark_ms": get_spark_s * 1000.0,
                           "queries.load_all_ms": load_all_s * 1000.0,
                           "process.peak_rss_mb": peak_rss / 2**20}
    for k, v in tracer.layer_metrics().items():
        m[k] = v if k.endswith("hit_ratio") else v / n
    m["queries.build_ms"] = tracer.group_ms.get("queries.build", 0.0) / n
    m["queries.action_ms"] = tracer.group_ms.get("queries.action", 0.0) / n
    for k in ("sources.table_files", "sources.metadata_files", "sources.table_bytes",
              "gen.lag_ms", "gen.backlog_files"):
        m[k] = float(ctx.layer.get(k, 0.0))
    # progress of the traced drains only, averaged per drain
    spans = [(s, s + w) for (s, w) in ctx.extra.get("traced_spans", [])]
    mine = [p for p in progress if any(a <= _epoch(p["timestamp"]) <= b for a, b in spans)]
    drains = [s.ms / 1000.0 for s in ctx.samples if s.traced and s.kind == "drain"]
    for k, v in W.streaming_progress_metrics(mine, drains).items():
        m[k] = v / n if not k.endswith(("state_rows", "state_bytes")) else v
    commits = [s.ms for s in ctx.samples if s.idx > 0 and not s.traced and s.kind == "commit"]
    reads = [s.ms for s in ctx.samples if s.idx > 0 and not s.traced and s.kind == "read"]
    m["sources.commit_p50_ms"] = statistics.median(commits) if commits else 0.0
    m["sources.read_p50_ms"] = statistics.median(reads) if reads else 0.0
    m["trace.overhead_pct"] = ((statistics.median(traced) / statistics.median(untraced) - 1) * 100.0
                               if traced and untraced else 0.0)
    return {k: (float(v), _unit(k)) for k, v in sorted(m.items())}


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


if __name__ == "__main__":
    sys.exit(main())
