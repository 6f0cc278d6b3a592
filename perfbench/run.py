#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the harness against the repository's sources (sbt, offline) on
first use, generates the workload's inputs from the seed, runs the workload
on local[nproc] for the given time, checks every result against an
independent DuckDB oracle and prints each metric with its unit and sample
count. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

# The harness must end within this many seconds (first build excluded), so
# that a run with its checks stays under three minutes.
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 840
HEAP = "3g"  # also the initial heap, so the heap never resizes mid-run

WORKLOADS = {
    "curate_board": {"batch": True, "topk": 300},
    "stream_asof": {"batch": False, "rate": 18000, "keys": 257, "latency_limit_ms": 10000},
}

# Gated in BENCHMARK.json. first_result_s (one cold-JVM sample per run) is
# printed too but spreads too much between runs to carry a bound.
END_TO_END = [("setup_s", "s"), ("result_s", "s"), ("peak_heap_mb", "MB")]
PRINTED = END_TO_END + [("first_result_s", "s")]
EXTRA_UNITS = {"capacity_rows_per_s": "1/s", "latency_p50_ms": "ms", "latency_p99_ms": "ms",
               "latency_tail_pct": "%", "trace_overhead_s": "s", "unattributed_jobs": "count",
               "peak_heap_run_mb": "MB"}

CURATE_SPANS = ["dsir", "mixture", "sample_stratified", "analyze", "dedup_exact",
                "dedup_minhash", "decontaminate", "sample_split", "pack"]
ROW_SPANS = ["core.groupby_reduce", "functions.reduce_min_max"]
SPARK_MEASURES = [("jobs", "count"), ("tasks", "count"), ("task_cpu_s", "s"),
                  ("task_run_s", "s"), ("idle_s", "s"), ("gc_s", "s"),
                  ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("cpu_per_wall", "ratio")]
SPAN_MEASURES = [("wall_s", "s"), ("jobs", "count"), ("task_cpu_s", "s"), ("idle_s", "s")]
STREAM_MEASURES = [
    ("streaming.batches", "count"), ("streaming.batch_ms_p50", "ms"),
    ("streaming.batch_ms_p99", "ms"), ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.planning_ms_mean", "ms"), ("streaming.commit_ms_mean", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
    ("streaming.state_commit_ms_mean", "ms"), ("streaming.results_per_input", "ratio"),
    ("streaming.capacity_rows_per_s", "1/s"), ("streaming.latency_p50_ms", "ms"),
    ("streaming.latency_p99_ms", "ms"),
    ("sources.input_rows_per_s", "1/s"), ("sources.backlog_growth_rows_per_s", "1/s")]


def per_layer_names():
    out = [(f"spark.{m}", u) for m, u in SPARK_MEASURES]
    for s in CURATE_SPANS:
        out += [(f"operators.{s}.{m}", u) for m, u in SPAN_MEASURES]
        out.append((f"operators.{s}.shuffle_mb", "MB"))
    out += [("operators.dedup_minhash.candidates", "count"),
            ("operators.dedup_minhash.verified", "count"),
            ("operators.dedup_minhash.verified_per_candidate", "ratio")]
    for s in ROW_SPANS:
        out += [(f"{s}.{m}", u) for m, u in SPAN_MEASURES]
    return out + STREAM_MEASURES


def log(msg):
    print(msg, flush=True)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ── build ────────────────────────────────────────────────────────────────────

def _newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the repository and the harness with sbt (offline) unless the
    classpath file is newer than every source; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("repository sources (build.sbt, src/main) not found next to perfbench/")
    harness = os.path.join(HERE, "harness")
    cp_file = os.path.join(BUILD, "classpath.txt")
    sources = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")]
    sources += [os.path.join(harness, p) for p in ("build.sbt", "project", "src")]
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= _newest_mtime(sources):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    # JAVA_TOOL_OPTIONS reaches every JVM the sbt script starts
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               SBT_OPTS=" ".join([
                   "-Dsbt.override.build.repos=true",
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
                   "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                   f"-Djava.io.tmpdir={BUILD}/tmp", "-Xmx2g"]))
    # sbt's global and ivy state stay in the build directory; the launcher
    # and the dependency cache are read from the toolchain's install
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dsbt.global.base={BUILD}/sbt-global",
           f"-Dsbt.ivy.home={BUILD}/ivy2", "writeClasspath"]
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        proc = _start(cmd, cwd=harness, env=env, stdout=logf)
        try:
            rc = proc.wait(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            _kill(proc)
            fail("build timed out")
    if rc != 0:
        fail(f"build failed (exit {rc}), see .bench_build/build.log")
    shutil.copy(os.path.join(harness, "target", "classpath.txt"), cp_file)
    log(f"# built in {time.time() - t0:.1f} s")
    return open(cp_file).read().strip()


# ── running the JVM side ─────────────────────────────────────────────────────

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def _kill(proc):
    """Kill the child's whole process group (sbt starts its own JVM) and reap it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def _start(cmd, **kw):
    """Start a child in its own process group; stopping this process stops it."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stderr=subprocess.STDOUT,
                            start_new_session=True, **kw)

    def handler(signum, _frame):
        _kill(proc)
        sys.exit(128 + signum)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, handler)
    return proc


def run_harness(cp, work, deadline, args):
    """Start one harness JVM in `work` and return its harness.json."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java", *JDK_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'harness', 'log4j2.properties')}",
            "-cp", cp, "perfbench.Harness", f"out={work}/out"]
           + [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, SPARK_LOCAL_HOSTNAME="localhost", SPARK_LOCAL_IP="127.0.0.1")
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = _start(cmd, cwd=work, env=env, stdout=logf)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            _kill(proc)
            fail("harness timed out", 3)
    if rc != 0:
        tail = open(os.path.join(work, "harness.log")).read()[-3000:]
        fail(f"harness exited {rc}:\n{tail}", 3)
    with open(os.path.join(work, "out", "harness.json")) as f:
        return json.load(f)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return None


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat: (total, steal). Steal is time
    the hypervisor gave this machine's CPUs to someone else."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return sum(fields), fields[7] if len(fields) > 7 else 0
    except (OSError, ValueError):
        return None


# ── metrics ──────────────────────────────────────────────────────────────────

def span_stats(spans, spark, names=None):
    """Per-span numbers of one traced call from the listener's raw record:
    {span: {wall_s, jobs, tasks, task_cpu_s, ...}} plus the unattributed job
    count. `names` restricts the jobs a span may own (the stream's run id)."""
    group_of = {j: g for j, g, _ in spark["jobs"]}
    span_names = {s[0] for s in spans}
    tasks_of = {}
    for job, t in spark["tasks"]:
        tasks_of.setdefault(group_of.get(job), []).append(t)
    out = {}
    for name, start, end in spans:
        owners = names.get(name, {name}) if names else {name}
        ts = [t for g in owners for t in tasks_of.get(g, [])]
        out[name] = {
            "start": start, "end": end, "wall_s": (end - start) / 1000.0,
            "jobs": sum(1 for g in group_of.values() if g in owners),
            "tasks": len(ts),
            "task_cpu_s": sum(t[2] for t in ts), "task_run_s": sum(t[3] for t in ts),
            "gc_s": sum(t[4] for t in ts),
            "idle_s": metrics.idle(start, end, [(t[0], t[1]) for t in ts]) / 1000.0,
            "shuffle_mb": sum(t[5] for t in ts) / 1048576.0,
            "spill_mb": sum(t[6] for t in ts) / 1048576.0,
            "intervals": [(t[0], t[1]) for t in ts],
        }
    owned = set(span_names)
    if names:
        owned = {g for n in span_names for g in names.get(n, {n})}
    unattributed = [(g, t) for _, g, t in spark["jobs"] if g not in owned]
    if unattributed:
        t0 = min(s[1] for s in spans)
        log("# jobs outside every span (group, submitted s after the first span): "
            + ", ".join(f"{g!r} {(t - t0) / 1000:.3f}" for g, t in unattributed))
    return out, len(unattributed)


def whole(stats, names):
    """spark.* totals over the given spans of one call."""
    ss = [stats[n] for n in names if n in stats]
    start = min(s["start"] for s in ss)
    end = max(s["end"] for s in ss)
    wall = (end - start) / 1000.0
    ivs = [iv for s in ss for iv in s["intervals"]]
    cpu = sum(s["task_cpu_s"] for s in ss)
    return {
        "jobs": sum(s["jobs"] for s in ss), "tasks": sum(s["tasks"] for s in ss),
        "task_cpu_s": cpu, "task_run_s": sum(s["task_run_s"] for s in ss),
        "idle_s": metrics.idle(start, end, ivs) / 1000.0,
        "gc_s": sum(s["gc_s"] for s in ss),
        "shuffle_mb": sum(s["shuffle_mb"] for s in ss),
        "spill_mb": sum(s["spill_mb"] for s in ss),
        "cpu_per_wall": cpu / wall if wall > 0 else 0.0, "wall_s": wall,
    }


def batch_metrics(h, traced):
    calls = h["body"]["calls"]
    first = calls[0]["wall_s"]
    warm = [c["wall_s"] for c in calls[1:] if not c["traced"]]
    # per call the highest heap after a collection; the cold call counts too
    heap = [c["peak_heap_mb"] for c in calls if not c["traced"]]
    e2e = {
        "setup_s": (h["setup_s"], 1),
        "first_result_s": (first, 1),
        "result_s": (statistics.median(warm), len(warm)),
        "peak_heap_mb": (statistics.median(heap), len(heap)),
    }
    layer, extra = {}, {}
    if traced:
        per_call = []
        unattributed = 0
        for c in calls:
            if not c["traced"]:
                continue
            stats, un = span_stats(c["spans"], c["spark"])
            unattributed += un
            pipeline = [n for n in stats if not n.startswith("harness.")]
            per_call.append((stats, whole(stats, pipeline), c))
        vals = {}
        for stats, tot, c in per_call:
            for m, _ in SPARK_MEASURES:
                vals.setdefault(f"spark.{m}", []).append(tot[m])
            for name, s in stats.items():
                for m in ("wall_s", "jobs", "task_cpu_s", "idle_s", "shuffle_mb"):
                    vals.setdefault(f"{name}.{m}", []).append(s[m])
            counts = os.path.join(c["dir"], "minhash_counts")
            if os.path.isdir(counts):
                cand, ver = oracle.read_counts(counts)
                for k, v in (("candidates", cand), ("verified", ver),
                             ("verified_per_candidate", ver / cand if cand else 0.0)):
                    vals.setdefault(f"operators.dedup_minhash.{k}", []).append(v)
        layer = {k: (statistics.median(v), len(v)) for k, v in vals.items()}
        traced_walls = [tot["wall_s"] for _, tot, _ in per_call]
        extra["trace_overhead_s"] = (statistics.median(traced_walls) - statistics.median(warm),
                                     len(traced_walls))
        extra["unattributed_jobs"] = (unattributed, len(per_call))
    return e2e, layer, extra


def stream_metrics(h, traced, checked):
    b = h["body"]
    w0, w1 = b["window_start_ms"], b["window_end_ms"]
    progress = b["progress"]
    dur = lambda p, k: float(p["durationMs"].get(k, 0))
    start = lambda p: oracle.iso_ms(p["timestamp"])
    window = [p for p in progress if w0 <= start(p) <= w1]
    busy_s = sum(dur(p, "triggerExecution") for p in window) / 1000.0
    rows_in = sum(p["numInputRows"] for p in window)
    lat = checked["latency_ms"]
    if not lat:
        fail("the stream emitted no result rows in the measured window", 3)
    e2e = {
        "setup_s": (h["setup_s"], 1),
        "first_result_s": ((checked["first_emit_ms"] - b["start_ms"]) / 1000.0, 1),
        "result_s": (metrics.nearest_rank(lat, 50) / 1000.0, len(lat)),
        "peak_heap_mb": (b["peak_heap_mb"], 1),
    }
    n = len(window)
    st = [p["stateOperators"][0] for p in window if p.get("stateOperators")]
    done, batches = 0, []
    for p in progress:
        done += p["numInputRows"]
        if p in window:
            batches.append((start(p) + dur(p, "triggerExecution"), done))
    extra = {
        "capacity_rows_per_s": (rows_in / busy_s if busy_s else 0.0, n),
        "latency_p50_ms": (metrics.nearest_rank(lat, 50), len(lat)),
        "latency_p99_ms": (metrics.nearest_rank(lat, 99), len(lat)),
        "latency_tail_pct": (metrics.tail_percentile(len(lat)), len(lat)),
    }
    layer = {}
    if traced:
        trig = [dur(p, "triggerExecution") for p in window]
        mean = lambda xs: sum(xs) / len(xs) if xs else 0.0
        layer = {
            "streaming.batches": (n, n),
            "streaming.batch_ms_p50": (metrics.nearest_rank(trig, 50), n),
            "streaming.batch_ms_p99": (metrics.nearest_rank(trig, 99), n),
            "streaming.add_batch_ms_p50": (metrics.nearest_rank(
                [dur(p, "addBatch") for p in window], 50), n),
            "streaming.planning_ms_mean": (mean([dur(p, "queryPlanning") for p in window]), n),
            "streaming.commit_ms_mean": (mean([dur(p, "commitOffsets") for p in window]), n),
            "streaming.state_rows": (st[-1]["numRowsTotal"] if st else 0, 1),
            "streaming.state_mb": (st[-1]["memoryUsedBytes"] / 1048576.0 if st else 0.0, 1),
            "streaming.state_commit_ms_mean": (mean([float(s.get("commitTimeMs", 0)) for s in st]),
                                               len(st)),
            "streaming.results_per_input": (checked["emitted"] / rows_in if rows_in else 0.0, 1),
            "streaming.capacity_rows_per_s": extra["capacity_rows_per_s"],
            "streaming.latency_p50_ms": extra["latency_p50_ms"],
            "streaming.latency_p99_ms": extra["latency_p99_ms"],
            "sources.input_rows_per_s": (rows_in / ((w1 - w0) / 1000.0), n),
            "sources.backlog_growth_rows_per_s": (
                metrics.backlog_slope(b["rate"], b["start_ms"], batches), len(batches)),
        }
        # the jobs the query submitted during the measured window
        jobs = [j for j in b["spark"]["jobs"] if w0 <= j[2] <= w1]
        kept = {j[0] for j in jobs}
        spark = {"jobs": jobs, "tasks": [t for t in b["spark"]["tasks"] if t[0] in kept]}
        span = [["streaming.asof_backward", w0, w1]]
        stats, un = span_stats(span, spark, names={"streaming.asof_backward": {b["run_id"]}})
        tot = whole(stats, ["streaming.asof_backward"])
        for m, _ in SPARK_MEASURES:
            layer[f"spark.{m}"] = (tot[m], 1)
        extra["unattributed_jobs"] = (un, 1)
    return e2e, layer, extra


# ── main ─────────────────────────────────────────────────────────────────────

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]
    cp = build()
    t_start = time.time()
    deadline = time.time() + RUN_LIMIT_S
    cpus = os.cpu_count() or 1
    load_before, cpu_before = loadavg(), cpu_times()

    args = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace, "cpus": cpus}
    data = None
    if cfg["batch"]:
        gen_id = hashlib.sha1(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:8]
        data = gen.generate(os.path.join(BUILD, "data", f"s{a.seed}-{gen_id}"), a.seed)
        args.update(data=data, topk=cfg["topk"])
    else:
        args.update(data="-", rate=cfg["rate"], keys=cfg["keys"], seed=a.seed,
                    hot_permille=90 + a.seed % 21)
    work = os.path.join(BUILD, "run", f"{a.workload}-{os.getpid()}")
    t_gen = time.time()
    h = run_harness(cp, work, deadline, args)
    if cfg["batch"]:
        for c in h["body"]["calls"]:
            log("# call " + " ".join(f"{n}={(t1 - t0) / 1000:.2f}" for n, t0, t1 in c["spans"]))
    t_run = time.time()

    if cfg["batch"]:
        attempted, failed = oracle.check_batch(data, h["body"], os.path.join(BUILD, "oracle"))
        e2e, layer, extra = batch_metrics(h, a.trace == 1)
    else:
        checked = oracle.check_stream(h["body"], os.path.join(work, "out", "stream_rows.csv"),
                                      cfg["latency_limit_ms"])
        attempted, failed = checked["attempted"], checked["failed"]
        e2e, layer, extra = stream_metrics(h, a.trace == 1, checked)
    # the highest heap after a collection over the whole run, n = collections
    extra["peak_heap_run_mb"] = (h["peak_heap_mb"], h["gcs"])
    load_after, cpu_after = loadavg(), cpu_times()
    steal = None
    if cpu_before and cpu_after and cpu_after[0] > cpu_before[0]:
        steal = (cpu_after[1] - cpu_before[1]) / (cpu_after[0] - cpu_before[0])
    log(f"# phases: inputs {t_gen - t_start:.1f} s, harness {t_run - t_gen:.1f} s,"
        f" checks {time.time() - t_run:.1f} s")

    # every metric by name, unit and sample count
    for name, unit in PRINTED:
        v, n = e2e[name]
        log(f"{a.workload} {name} {v:.6g} {unit} n={n}")
    log(f"{a.workload} failed_share {failed / attempted:.6g} ratio n={attempted}")
    for name, (v, n) in extra.items():
        log(f"{a.workload} {name} {v if v is None else f'{v:.6g}'} {EXTRA_UNITS[name]} n={n}")
    names = per_layer_names()
    if a.trace == 1:
        for name, unit in names:
            v, n = layer.get(name, (0, 0))
            log(f"{a.workload} {name} {v:.6g} {unit} n={n}")
    log(f"{a.workload} host calib_1core_s={h['calib_1_s']:.4f} calib_{cpus}core_s={h['calib_n_s']:.4f}"
        f" loadavg_before=[{load_before}] loadavg_after=[{load_after}] cpu_steal_share={steal}")

    calls = [{"wall_s": c["wall_s"], "heap_mb": c["heap_mb"], "peak_heap_mb": c["peak_heap_mb"],
              "traced": c["traced"],
              "spans": {n: (e - b) / 1000.0 for n, b, e in c["spans"]}}
             for c in h["body"].get("calls", [])]
    # stream: [batch id, input rows, start, duration] in ms since query start
    b = h["body"]
    batches = [[p["batchId"], p["numInputRows"], oracle.iso_ms(p["timestamp"]) - b["start_ms"],
                p["durationMs"].get("triggerExecution")] for p in b.get("progress", [])]
    window = [b[k] - b["start_ms"] for k in ("window_start_ms", "window_end_ms") if k in b]
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": cpus,
                "calls": calls, "batches": batches, "window_ms": window,
                "gcs": h["gcs"], "peak_heap_run_mb": h["peak_heap_mb"],
                "attempted": attempted, "failed": failed,
                "end_to_end": e2e, "per_layer": layer, "extra": extra,
                "host": {"calib_1core_s": h["calib_1_s"], "calib_ncore_s": h["calib_n_s"],
                         "loadavg_before": load_before, "loadavg_after": load_after,
                         "cpu_steal_share": steal}}
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    with open(os.path.join(BUILD, "artifacts",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    if a.trace == 1:
        out = {n: {"value": float(layer.get(n, (0, 0))[0]), "unit": u} for n, u in names}
    else:
        out = {n: {"value": float(e2e[n][0]), "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}), flush=True)


if __name__ == "__main__":
    main()
