"""CDC ingest benchmark: one run of one workload.

    python3 cdcbench/run.py --workload cdc_catchup --seed 1 --seconds 10 --trace 0

Builds the program from the checkout's sources (build.py), derives the
seed's history (history.py), starts the load generator (gen.py) as its
own process, runs the benchmark JVM (src/main/scala/cdcbench/CdcBench.scala)
and checks the landed tables against a fold of the history computed
here, apart from the program.  The last line of stdout is the result:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
metrics of a separate traced phase (spans go to
.bench_build/cdcbench/trace/).  See README.md.
"""
import argparse
import collections
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import history  # noqa: E402

USER, PASSWORD = "cdcbench", "cdcbench-secret"
SETUP_REPS = 3
READ_WARM = 10
READ_REPS = 12  # over all timed passes
PROBE_REPS = 5

# mode: blast = whole backlog in the binlog before the query reads;
# rate = open loop at `rate` DML lines/s for --seconds.  Timed passes
# run a processing-time trigger of `trigger_ms`.  `cap` is
# maxLinesPerBatch (0: none); `lines` + 1 (the schema line) is a
# multiple of `cap`, so every batch of a timed pass is full and ends on
# a multiple of `cap` (checked by check_batches).  A blast pass starts
# its query on the trigger grid: the first trigger connects and finds
# nothing, the second comes `trigger_ms` later, when the first `cap`
# lines are in, and later ones follow back to back while a batch takes
# longer than `trigger_ms`.  Warm-up passes always drain a backlog
# (blast) in batches of `warm_cap` lines with no trigger interval.  A
# blast workload runs one timed pass per `pass_s` seconds of --seconds,
# a live one a single pass of --seconds.
WORKLOADS = {
    "cdc_catchup": dict(mode="blast", lines=14999, cap=5000, trigger_ms=500,
                        warm_lines=[14999], warm_cap=5000, pass_s=2,
                        copies=1),
    "cdc_live": dict(mode="rate", rate=1000, cap=0, trigger_ms=2000,
                     warm_lines=[7999], warm_cap=2000, copies=1),
    "cdc_changelog": dict(mode="blast", lines=29999, cap=10000,
                          trigger_ms=750, warm_lines=[29999],
                          warm_cap=10000, pass_s=2, copies=3),
}

# TieredStopAtLevel=1: C1 only, so compiled code settles within the
# warm-up passes (see README.md, "Noise controls")
JAVA_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn64m", "-XX:+UseG1GC",
             "-XX:TieredStopAtLevel=1", "-Dspark.ui.enabled=false"] + [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

E2E = {"events_per_s": "1/s", "latency_p50_ms": "ms", "read_ms": "ms",
       "heap_peak_mb": "MB", "setup_s": "s"}
LAYER_UNITS = {
    "gen.lines_sent": "count", "gen.late_p99_ms": "ms",
    "transport.lines_per_s": "1/s", "protocol.decode_ns_per_line": "ns",
    "source.latest_offset_ms": "ms", "source.reader_ns_per_line": "ns",
    "source.tasks_per_batch": "count", "state.update_ms": "ms",
    "state.commit_ms": "ms", "state.rows_total": "count",
    "state.memory_bytes": "bytes", "sink.merge_ms": "ms",
    "sink.delete_ms": "ms", "sink.append_ms": "ms",
    "sink.data_files": "count", "sink.delete_files": "count",
    "engine.batches": "count", "engine.trigger_p50_ms": "ms",
    "engine.upstream_ms": "ms", "engine.planning_ms": "ms",
    "engine.wal_commit_ms": "ms", "engine.commit_offsets_ms": "ms",
    "engine.codegen_compiles": "count",
    "jvm.jit_ms": "ms", "jvm.gc_ms": "ms"}


def log(msg):
    print(f"cdcbench: {msg}", file=sys.stderr, flush=True)


def make_history(spec, seed, seconds):
    """Returns (History, lines of a timed pass).  A live pass sends
    `rate` lines a second for --seconds."""
    timed = (int(spec["rate"] * seconds) if spec["mode"] == "rate"
             else spec["lines"])
    n = max([timed] + spec["warm_lines"])
    copies = spec["copies"]
    h = history.build(history.load_events(), seed, -(-n // copies))
    if copies > 1:
        h = history.History(history.replicate(h, copies).records[:n])
    return h, timed


def write_history(h, path):
    with open(path, "w", encoding="utf-8") as f:
        f.write(history.SCHEMA_LINE + "\n")
        f.write("\n".join(h.lines()) + "\n")


def start_generator(work, hist_path, spec, tag):
    port_file = work / f"port-{tag}"
    stats = work / "gen-stats"
    stats.mkdir(exist_ok=True)
    cmd = [sys.executable, str(HERE / "gen.py"), "--history", str(hist_path),
           "--port-file", str(port_file), "--stats-dir", str(stats),
           "--user", USER, "--password", PASSWORD]
    if spec["mode"] == "rate":
        cmd += ["--rate", str(spec["rate"]),
                "--align-ms", str(spec["trigger_ms"])]
    t = time.perf_counter()
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                            stdout=subprocess.DEVNULL)
    deadline = time.time() + 30
    while not port_file.exists():
        if proc.poll() is not None or time.time() > deadline:
            stop(proc)
            raise SystemExit("generator did not start")
        time.sleep(0.002)
    return proc, int(port_file.read_text()), time.perf_counter() - t


def stop(proc):
    if proc is not None and proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def check_pass(p, h, snapshot_sink):
    """Events failed in one pass: keys whose landed row differs from the
    fold (one event each: the key's last), or changelog lines missing
    or landed more than once, or any line the source did not count."""
    n = p["lines"]
    failed = 0
    if p["final_n"] != n + 1:
        log(f"{p['tag']}: source offset {p['final_n']} != lines sent + 1 "
            f"({n + 1})")
        failed += abs(p["final_n"] - (n + 1))
    sub = history.History(h.records[:n])
    with open(p["landed"], encoding="utf-8") as f:
        rows = [line.rstrip("\n").split(",") for line in f if line.strip()]
    if snapshot_sink:
        want = sub.fold()
        got = {}
        for uid, seq, value in rows:
            if int(uid) in got:
                failed += 1
            got[int(uid)] = (int(seq), float(value))
        bad = sum(1 for k in set(want) | set(got) if want.get(k) != got.get(k))
    else:
        want = collections.Counter(sub.changelog())
        got = collections.Counter((int(s), int(e), t, int(u))
                                  for s, e, t, u in rows)
        bad = sum(((want - got) + (got - want)).values())
    if bad:
        log(f"{p['tag']}: {bad} events missing or wrong in the landed table")
    return failed + bad


def check_batches(spec, n, passes):
    """Fails the run unless every measured pass of a capped workload cut
    its batches where volume and cap put them.

    The query's first trigger connects, so its batch holds what has
    arrived by then: nothing, or the schema line alone (the generator
    holds the DML lines back briefly).  Today that first batch is always
    run, then full batches follow, the last ending at n + 1 = k * cap
    (k + 1 batches).  A source that skipped an empty first batch would
    make the k full ones.  A first batch holding DML lines would shift
    every boundary: timing, not volume and cap, would then set the
    batches, and the run's figures would not compare with another
    run's."""
    if not spec["cap"]:
        return
    cap = spec["cap"]
    grids = [list(range(cap, n + 2, cap)),
             [0] + list(range(cap, n + 2, cap)),
             [1] + list(range(cap + 1, n + 1, cap)) + [n + 1]]
    ends = {p["tag"]: p["batch_ends"] for p in passes}
    if any(e not in grids for e in ends.values()) or \
            len({len(e) for e in ends.values()}) != 1:
        raise SystemExit(f"batch end offsets {ends}: every measured pass "
                         f"must end its batches at one of {grids}, all "
                         f"with the same count")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]
    snapshot_sink = a.workload != "cdc_changelog"

    started = time.time()
    classes = build.ensure()
    # a run may take 180 s once built; the first run of a checkout
    # builds first
    deadline = time.time() + 170
    work = build.OUT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    gen = jvm = None
    try:
        # set-up, repeated: history build and generator start
        hist_path = work / "history.ndjson"
        build_s, gen_s = [], []
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            h, timed_lines = make_history(spec, a.seed, a.seconds)
            write_history(h, hist_path)
            build_s.append(time.perf_counter() - t)
            stop(gen)
            gen, port, s = start_generator(work, hist_path, spec, i)
            gen_s.append(s)

        cfg = dict(workload=a.workload, history=str(hist_path), port=port,
                   user=USER, password=PASSWORD, mode=spec["mode"],
                   rate=spec.get("rate", 0), cap=spec["cap"],
                   warm_cap=spec["warm_cap"],
                   trigger_ms=spec["trigger_ms"],
                   trace=bool(a.trace), warm_lines=spec["warm_lines"],
                   timed_lines=timed_lines,
                   timed_passes=(1 if spec["mode"] == "rate" else
                                 max(1, round(a.seconds / spec["pass_s"]))),
                   read_warm=READ_WARM, read_reps=READ_REPS,
                   probe_reps=PROBE_REPS,
                   stats_dir=str(work / "gen-stats"), work=str(work),
                   out=str(work / "result.json"),
                   trace_out=str(build.OUT / "trace" /
                                 f"{a.workload}-seed{a.seed}.json"))
        (build.OUT / "trace").mkdir(exist_ok=True)
        (work / "config.json").write_text(json.dumps(cfg))
        cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
        jvm_log = open(work / "jvm.log", "w")
        spawn_ms = time.time() * 1000
        jvm = subprocess.Popen(
            ["java"] + JAVA_OPTS + ["-cp", cp, "cdcbench.CdcBench",
                                    str(work / "config.json")],
            cwd=str(work), stdin=subprocess.DEVNULL, stdout=jvm_log,
            stderr=subprocess.STDOUT)
        try:
            rc = jvm.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        jvm_log.close()
        if rc != 0:
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            raise SystemExit(f"benchmark JVM failed: {rc}")
        res = json.loads((work / "result.json").read_text())
    finally:
        stop(jvm)
        stop(gen)

    passes = res["passes"]
    checked = [p for p in passes if p["kind"] in ("timed", "traced")]
    attempted = sum(p["lines"] for p in checked)
    failed = sum(check_pass(p, h, snapshot_sink) for p in checked)
    log("reads ms " + " ".join(f"{r:.0f}" for r in res["reads_ms"]))
    for p in passes:
        log(f"{p['tag']}: {p['batches']} batches, "
            f"{p['events_per_s']:.0f} events/s, latency p50 "
            f"{p['latency_p50_ms']:.0f} ms, heap {p['heap_peak_mb']:.0f} MB, "
            f"jit {p['jit_ms']:.0f} ms, gc {p['gc_ms']:.0f} ms, "
            f"codegen {p['codegen_compiles']}, "
            f"batch ms {p['batch_ms']}")

    check_batches(spec, timed_lines, checked)

    def e2e(kind):
        ps = [p for p in passes if p["kind"] == kind]
        if any(math.isnan(p["heap_peak_mb"]) for p in ps):
            raise SystemExit("a measured pass saw no garbage collection, "
                             "so heap_peak_mb has no sample")
        return {
            "events_per_s": statistics.median(p["events_per_s"] for p in ps),
            "latency_p50_ms": statistics.median(
                p["latency_p50_ms"] for p in ps),
            "heap_peak_mb": statistics.median(p["heap_peak_mb"] for p in ps),
        }

    setup_s = (statistics.median(build_s) + statistics.median(gen_s)
               + (res["session_ready_ms"] - spawn_ms) / 1000
               + statistics.median(p["bootstrap_s"] for p in checked))
    untraced = e2e("timed")
    if a.trace:
        traced = e2e("traced")
        print("tracing overhead (traced - untraced): " + ", ".join(
            f"{k} {traced[k] - untraced[k]:+.2f} {E2E[k]} "
            f"({(traced[k] - untraced[k]) / untraced[k]:+.1%})"
            for k in traced))
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in sorted(res["layers"].items())}
        log(f"spans: {cfg['trace_out']}")
    else:
        vals = dict(untraced, read_ms=statistics.median(res["reads_ms"]),
                    setup_s=setup_s)
        metrics = {k: {"value": vals[k], "unit": u} for k, u in E2E.items()}
    shutil.rmtree(work, ignore_errors=True)
    log(f"run took {time.time() - started:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
