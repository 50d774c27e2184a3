#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             [--record FILE] [--expect]

Run from the root of a graft checkout. The first run builds graft and the
benchmark's JVM program from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. The tables are the
fixed corpus in perfbench/corpus; --seed drives the order of the ops in
a pass and the ids the serving lookups fetch. One JVM runs the workload
closed loop, one client, at local[N] with N = nproc: a checking pass
that is also the warm-up, then timed passes for S seconds.

Prints one `metric <name> <value> <unit>` line per metric, then, as the
last line, {"correct", "attempted", "failed", "metrics"}: with --trace 0
the end-to-end metrics, with --trace 1 the per-layer metrics of a run
whose timed passes alternate traced and untraced. --record appends the
full result with its environment to FILE (read by compare.py).
--expect checks the outputs against their oracles instead of the
committed digests and rewrites perfbench/expected.json.

Exits non-zero without a result line when it cannot build or run.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import fcntl  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORPUS = os.path.join(HERE, "corpus")
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
# Fixed heap (-Xms = -Xmx): with a growing heap, how far G1 had grown it
# varied from run to run (peak RSS 1.0-1.6 GB) and churn_daily's pass
# time with it (quartile spread 0.16 over ten seeds, 0.08 fixed).
HEAP = "2g"
# C1 only. With the default tiered C2, the JIT compiles for 1.5-2 cores'
# worth of time through the first timed pass (18-23 s of compile time in
# a 10-13 s pass) and was the main source of run-to-run spread; C2 does
# not settle within a run's budget. C1 alone gets a 48 MiB code cache by
# default, and a pass of olap_llm fills 57 MiB: the JIT then kept evicting
# and recompiling, 8-15 s of compile time in every timed pass. With room
# for all of it, C1 settles within the checking pass.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
RUN_LIMIT_S = 165  # the whole run, after the build, must end within 180 s
BUILD_LIMIT_S = 840

WORKLOADS = ("churn_daily", "olap_llm")
# Ops whose wall time the traced run reports by name.
NAMED_OPS = ("q1_agg", "q5_multijoin", "c2_user_features", "d4_dedup_simhash",
             "s11_knn_pq", "t17_bpe_tokens", "st6_stream_session_state")
# Ops that evaluate graft's native codegen kernels (graft.functions):
# simhash, quantize_milli with pq_lut/pq_adc, and the BPE token counter.
KERNEL_OPS = ("d4_dedup_simhash", "s11_knn_pq", "t17_bpe_tokens")
# Layers spans are recorded for; "bench" is the pass root itself.
LAYERS = ("bench", "session", "plans", "spark", "streaming", "operators.Relational",
          "operators.Churn", "operators.Pipeline", "operators.SnapshotTable",
          "operators.Streams", "operators.Dedup", "operators.Similarity",
          "operators.TextAnalysis")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=1):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build compiles or is configured by."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile graft and the JVM program with sbt unless this stamp is built."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found on PATH", 4)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building graft and the benchmark (sbt) ...")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=out, limit=BUILD_LIMIT_S)
    if rc != 0 or not os.path.exists(cp_file):
        with open(os.path.join(WORK, "build.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        die(f"build failed (exit {rc})", 4)
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip()


def run_child(cmd, cwd, env, stdout, limit):
    """Run cmd in its own process group; kill the group at `limit` s."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {limit:.0f} s; stopping it")
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def verify_corpus():
    """The corpus must be the committed one: check it against SHA256SUMS."""
    with open(os.path.join(CORPUS, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(CORPUS, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    die(f"corpus file {name} differs from perfbench/corpus/SHA256SUMS")


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def end_to_end(res):
    """The end-to-end metrics of a run, over its untraced timed passes:
    name -> (value, unit, note). A tail is the highest percentile with at
    least ten samples beyond it; None when the run has too few samples."""
    plain = {p["pass"] for p in res["passes"] if p["phase"] == "timed" and not p["traced"]}
    ops = [o for o in res["ops"] if o["pass"] in plain]
    timed = [p for p in res["passes"] if p["pass"] in plain]
    steal = sum(p["steal_s"] for p in timed)
    m = {"setup_s": (res["setup_s"], "s", ""),
         "pass_s": (stats.median([p["wall_s"] for p in timed]) if timed else None, "s",
                    f"passes={len(timed)}, {steal:.2f} s stolen from the machine's CPUs"),
         "pass_cpu_s": (stats.median([p["cpu_s"] for p in timed]) if timed else None, "s",
                        "CPU time of the JVM per pass")}
    for key, kinds in (("op", ("read", "write")), ("read", ("read",)), ("write", ("write",))):
        xs = [o["s"] for o in ops if o["kind"] in kinds]
        m[f"{key}_p50_s"] = (stats.median(xs) if xs else None, "s", f"n={len(xs)}")
        t = stats.tail(xs)
        m[f"{key}_tail_s"] = ((t[1], "s", f"p{t[0]:g} n={t[2]}") if t
                              else (None, "s", f"n={len(xs)}"))
    m["peak_rss_mb"] = (res["peak_rss_mb"], "MB", "")
    m["heap_live_mb"] = (res["heap_live_mb"], "MB", "heap live after the timed passes")
    return m


def op_seconds(res):
    """op -> its latencies (s) in the untraced timed passes."""
    plain = {p["pass"] for p in res["passes"] if p["phase"] == "timed" and not p["traced"]}
    out = {}
    for o in res["ops"]:
        if o["pass"] in plain:
            out.setdefault(o["op"], []).append(o["s"])
    return out


def per_layer(res):
    """Per-layer metrics of a traced run, per traced pass."""
    timed = [p for p in res["passes"] if p["phase"] == "timed"]
    traced = [p for p in timed if p["traced"]]
    plain = [p for p in timed if not p["traced"]]
    n = len(traced)
    ids = {p["pass"] for p in traced}
    spans = [s for s in res["spans"] if s["pass"] in ids]
    by_id = {s["id"]: s for s in spans}
    pass_wall = sum(p["wall_s"] for p in traced)
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit, "")

    def span_s(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def top_ops(pred):
        """Summed wall time per pass of the op spans directly under a
        pass root whose name satisfies pred."""
        return sum(span_s(s) for s in spans if s["parent"] in by_id
                   and by_id[s["parent"]]["parent"] == -1 and pred(s["name"])) / n

    # self time by layer; the pass roots' own self time is the share of
    # the pass no layer span covers
    layers = stats.layer_self_times(spans)
    for layer in LAYERS:
        put(f"self.{layer}_s", layers.get(layer, 0.0) / n, "s")
    put("trace.coverage", 1.0 - layers.get("bench", 0.0) / pass_wall, "ratio")
    put("trace.spans", len(spans) / n, "count")
    put("trace.overhead_ratio", stats.median([p["wall_s"] for p in traced])
        / stats.median([p["wall_s"] for p in plain]) - 1.0, "ratio")

    # op latency over the untraced timed passes of this run (these do not
    # repeat within a tenth between runs, so they are not end-to-end
    # metrics with a bound)
    plain_ids = {p["pass"] for p in plain}
    for key, kinds in (("op", ("read", "write")), ("read", ("read",)), ("write", ("write",))):
        xs = [o["s"] for o in res["ops"] if o["pass"] in plain_ids and o["kind"] in kinds]
        put(f"{key}_p50_s", stats.median(xs) if xs else 0.0, "s")

    put("session.build_s", res["session_build_s"], "s")
    put("session.new_s", sum(span_s(s) for s in spans if s["name"] == "session.new") / n,
        "s")
    # Catalyst phases, derived from the query planning trackers
    for name, phases in (("plans.analyze_s", ("analysis",)),
                         ("plans.plan_s", ("optimization", "planning"))):
        put(name, sum(span_s(s) for s in spans
                      if s["name"] in {f"plans.{p}" for p in phases}) / n, "s")

    # Spark task totals charged to the traced passes' spans
    tot = {}
    kernel_cpu = 0.0
    for sid, t in res["span_tasks"].items():
        s = by_id.get(int(sid))
        if s is None:
            continue
        for k, v in t.items():
            tot[k] = tot.get(k, 0) + v
        if s["op"] in KERNEL_OPS:
            kernel_cpu += t["task_cpu_s"]
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("task_run_s", "s"),
                    ("task_cpu_s", "s"), ("sched_delay_s", "s"), ("gc_s", "s"),
                    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                    ("shuffle_fetch_wait_s", "s"), ("spill_bytes", "bytes")):
        put(f"spark.{k}", tot.get(k, 0) / n, unit)
    put("spark.busy_ratio", tot.get("task_run_s", 0) / (pass_wall * res["cores"]), "ratio")
    # jobs started on threads other than the client's (micro-batches,
    # graft's own Futures), found by time rather than by job group
    put("spark.unattributed_task_s", res["other_thread_tasks"]["task_run_s"] / n, "s")
    put("sources.bytes_read", tot.get("bytes_read", 0) / n, "bytes")
    put("sources.rows_read", tot.get("rows_read", 0) / n, "count")
    put("functions.cpu_s", kernel_cpu / n, "s")

    for op in NAMED_OPS:
        put(f"ops.{op}_s", top_ops(lambda name, op=op: name == op), "s")
    cycle = top_ops(lambda name: name.startswith("cycle"))
    put("pipeline.cycle_s", cycle, "s")
    put("pipeline.replay_s", top_ops(lambda name: name == "replay"), "s")
    put("table.lookup_s", top_ops(lambda name: name.startswith("lookup")), "s")
    c = res["counters"]
    stages = ("pipeline.ingest_s", "pipeline.rollup_s", "ml.score_s", "pipeline.writeback_s")
    for k in stages:
        put(k, c.get(k, 0.0), "s")
    put("ml.lbfgs_iters", c.get("ml.lbfgs_iters", 0.0), "count")
    put("pipeline.overlap_ratio", sum(c.get(k, 0.0) for k in stages) / cycle
        if cycle else 0.0, "ratio")

    st = res["streaming"]
    put("streaming.batches", st["batches"] / n, "count")
    put("streaming.batch_ms_p50", stats.median(st["batch_ms"]) if st["batch_ms"] else 0.0,
        "ms")
    for k, unit in (("add_batch_ms", "ms"), ("wal_commit_ms", "ms"),
                    ("state_rows", "count"), ("state_mem_bytes", "bytes"),
                    ("state_commit_ms", "ms")):
        put(f"streaming.{k}", st[k] / n, unit)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the full result to this JSON-lines file")
    ap.add_argument("--expect", action="store_true",
                    help="check against the oracles and rewrite expected.json")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = [m["name"] for m in spec["end_to_end" if a.trace == 0 else "per_layer"]]

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no graft sources under {ROOT}/src/main/scala: run from a graft checkout", 2)
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        die("another benchmark process is running in this checkout", 3)

    stamp = source_stamp()
    classpath = build(stamp)
    t_start = time.time()

    import checks  # noqa: E402 - pandas/pyarrow load only after the build

    verify_corpus()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = CORPUS
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)

    cores = len(os.sched_getaffinity(0))
    out_file = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JIT + [f"-Djava.io.tmpdir={tmp_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data_dir, "--out", out_file, "--cores", str(cores)])
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as out:
        rc = run_child(cmd, cwd=run_dir, env=dict(os.environ), stdout=out,
                       limit=RUN_LIMIT_S - (time.time() - t_start))
    if rc != 0 or not os.path.exists(out_file):
        with open(jvm_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"benchmark JVM failed (exit {rc})")
    with open(out_file) as fh:
        res = json.load(fh)
    with open(jvm_log) as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)

    vs_oracle = checks.expect(data_dir, res["checks"]) if a.expect else {}
    check_errors = {op: vs_oracle.get(op) or err
                    for op, err in checks.run(data_dir, res["checks"]).items()
                    if err is not None or vs_oracle.get(op) is not None}
    for op, err in check_errors.items():
        log(f"output check failed: {op}: {err}")
    for f in res["failures"]:
        log(f"failure: {f['op']} (pass {f['pass']}): {f['error']}: {f['message']}")
    attempted = len(res["ops"])
    failed = min(attempted, len(res["failures"]) + len(check_errors))
    checked = len(res["checks"])

    e2e = end_to_end(res)
    metrics = e2e if a.trace == 0 else per_layer(res)
    metrics["fail_ratio"] = (failed / attempted, "ratio", f"{failed}/{attempted}")
    env = {"nproc": os.cpu_count(), "cores": cores, "master": f"local[{cores}]",
           "heap": HEAP, "jit": " ".join(JIT), "git_commit": git_commit(), "source_sha": stamp[:16],
           "seed": a.seed, "workload": a.workload, "trace": a.trace,
           "spark": res["spark_version"], "corpus": "sf0.01",
           "check_pass_s": res["passes"][0]["wall_s"],
           "timed": [{k: p[k] for k in ("wall_s", "cpu_s", "steal_s", "jit_s")}
                     for p in res["passes"] if p["phase"] == "timed"],
           "timed_passes": sum(1 for p in res["passes"] if p["phase"] == "timed")}
    print("env " + json.dumps(env, sort_keys=True))
    for name, (v, unit, note) in metrics.items():
        print(f"metric {name} {'n/a' if v is None else f'{v:.6g}'} {unit} {note}".rstrip())
    print(f"checks {checked - len(check_errors)}/{checked} outputs matched")

    if a.record:
        with open(a.record, "a") as fh:
            fh.write(json.dumps({"env": env, "attempted": attempted, "failed": failed,
                                 "metrics": {k: v[0] for k, v in metrics.items()},
                                 "e2e": {k: v[0] for k, v in e2e.items()},
                                 "op_s": op_seconds(res)}) + "\n")
    # keep the raw record of the last run of each workload for inspection
    last = os.path.join(WORK, "last")
    os.makedirs(last, exist_ok=True)
    shutil.copy(out_file, os.path.join(last, f"{a.workload}-trace{a.trace}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    missing = [k for k in declared if metrics.get(k, (None,))[0] is None]
    if missing:
        die(f"declared metrics without a value: {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in declared}}))


if __name__ == "__main__":
    main()
