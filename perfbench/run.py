#!/usr/bin/env python3
"""Benchmark of the graft semantic-OLAP engine.

Builds the engine (src/main/scala) together with the benchmark's own Scala
sources (perfbench/src) into .bench_build/, then runs one workload in a
single Spark driver process with one closed-loop client, and prints the
metrics. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a run with spans on.

    python3 perfbench/run.py --workload session_reuse --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10   # every workload, both modes
"""
import argparse
import collections
import fcntl
import hashlib
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
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["session_reuse", "table_rw"]
JVM_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list the engine's build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ stats

def percentile(xs, p):
    """Nearest-rank p-th percentile of sorted xs, with its 1-based rank."""
    k = max(1, math.ceil(p * len(xs) / 100.0 - 1e-9))
    return xs[k - 1], k


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples ranked above it.

    Tries 99.9 and then every whole percentile from 99 down to 50. Returns
    (percentile, value, samples beyond it). With too few samples for even
    p50 to have `beyond` above it, returns p50 with its true count.
    """
    xs = sorted(samples)
    if not xs:
        return None, 0.0, 0
    for p in [99.9] + list(range(99, 49, -1)):
        v, k = percentile(xs, p)
        if len(xs) - k >= beyond:
            return p, v, len(xs) - k
    v, k = percentile(xs, 50)
    return 50, v, len(xs) - k


def spec():
    with open(SPEC_PATH) as f:
        return json.load(f)


# ------------------------------------------------------------------ build

def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not os.path.isdir(jars) or not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        fail(f"no Spark jars with a Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def scala_sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compiles engine + benchmark sources once per source content; a lock
    file keeps concurrent runs from building over each other.
    """
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked()


def build_locked():
    engine = scala_sources(ENGINE_SRC)
    if not engine:
        fail(f"engine sources not found under {ENGINE_SRC}")
    sources = engine + scala_sources(BENCH_SRC)
    jars = spark_jars()
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"# built {len(sources)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes, jars


# ------------------------------------------------------------ diagnostics

def mount_of(path):
    """(mount point, fs type) of the filesystem holding path."""
    best = ("/", "?")
    path = os.path.realpath(path)
    try:
        with open("/proc/self/mounts") as f:
            for line in f:
                parts = line.split()
                mp, fstype = parts[1], parts[2]
                if (path == mp or path.startswith(mp.rstrip("/") + "/")) and len(mp) >= len(best[0]):
                    best = (mp, fstype)
    except OSError:
        pass
    return best


def cpu_times():
    """(steal, total) jiffies of all CPUs from /proc/stat; zeros elsewhere."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return (xs[7] if len(xs) > 7 else 0), sum(xs)
    except (OSError, ValueError):
        return 0, 0


def anchors(work):
    """CPU and io calibration timings, so runs on different days can be
    shown to have had the same machine under them. io writes and reads
    back 32 MiB without fsync, as the engine's commits do.
    """
    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(buf)
    cpu_ms = (time.perf_counter() - t0) * 1e3
    p = os.path.join(work, "io_anchor.bin")
    t0 = time.perf_counter()
    with open(p, "wb") as f:
        for _ in range(32):
            f.write(buf)
    with open(p, "rb") as f:
        while f.read(1 << 20):
            pass
    io_ms = (time.perf_counter() - t0) * 1e3
    os.remove(p)
    return cpu_ms, io_ms


# -------------------------------------------------------------------- run

def run_jvm(workload, seed, seconds, trace, classes, jars):
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    log4j = os.path.join(HERE, "log4j2.properties")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dlog4j2.configurationFile={log4j}",
            "-Dspark.ui.enabled=false",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--cores", str(cores)]
    log_path = os.path.join(BUILD, f"last-{workload}-{int(trace)}.log")
    raw = None
    try:
        cpu_ms, io_ms = anchors(work)
        with open(log_path, "w") as log:
            t0 = time.perf_counter()
            steal0, total0 = cpu_times()
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
            # a hung JVM is killed, which also ends the read loop below
            watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
            watchdog.start()
            spark_s = None
            try:
                for line in proc.stdout:
                    if line.startswith("GRAFTBENCH_SPARK_READY"):
                        spark_s = time.perf_counter() - t0
                    elif line.startswith("GRAFTBENCH_RAW "):
                        raw = json.loads(line[len("GRAFTBENCH_RAW "):])
                proc.wait()
            finally:
                steal1, total1 = cpu_times()
                watchdog.cancel()
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if raw is None or spark_s is None:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-3000:])
            fail(f"{workload}: the benchmark process ended without a result (log: {log_path})")
        mp, fstype = mount_of(work)
        raw["diag"].update({"spark_start_s": spark_s, "nproc": os.cpu_count(),
                            "anchor_cpu_ms": cpu_ms, "anchor_io_ms": io_ms,
                            "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0)})
        raw["diag_text"] = {"master": raw["master"], "heap": HEAP,
                            "data_dir_mount": mp, "data_dir_fs": fstype,
                            "flush_policy": "no fsync: commits land in the page cache",
                            "jvm_exit": str(proc.returncode)}
        if trace:
            raw["diag_text"]["spans"] = os.path.join(BUILD, f"spans-{workload}-{seed}.jsonl")
            shutil.copy(os.path.join(work, "spans.jsonl"), raw["diag_text"]["spans"])
        return raw
    finally:
        shutil.rmtree(work, ignore_errors=True)


def mix_mean(ops, mix, field):
    """Mean of `field` per operation at the workload's fixed cycle mix: each
    kind's mean weighted by its count in one cycle, so a timed window that
    ends part-way through a long cycle does not shift the result.
    """
    means = {k: statistics.fmean(o[field] for o in ops if o["kind"] == k)
             for k in mix if any(o["kind"] == k for o in ops)}
    return sum(mix[k] * m for k, m in means.items()) / sum(mix[k] for k in means)


def weighted_quantile(pairs, p):
    """The value at which the running weight of sorted (value, weight) pairs
    reaches p% of the total.
    """
    ws = sorted(pairs)
    need = p / 100.0 * sum(w for _, w in ws)
    acc = 0.0
    for v, w in ws:
        acc += w
        if acc >= need - 1e-9:
            return v
    return ws[-1][0]


def mix_quantile(ops, mix, p):
    """p-th percentile of latency at the workload's cycle mix: each operation
    weighs its kind's count in one cycle divided by the kind's samples.
    """
    counts = collections.Counter(o["kind"] for o in ops)
    return weighted_quantile([(o["ms"], mix.get(o["kind"], 0) / counts[o["kind"]])
                              for o in ops], p)


def mix_median(ops, mix):
    """Median latency at the workload's cycle mix, each operation kind
    standing at its own median and weighing its count in one cycle. Kinds
    that sit near the overall median then move it by their own medians' noise,
    not by a single sample's.
    """
    medians = {k: statistics.median(o["ms"] for o in ops if o["kind"] == k)
               for k in mix if any(o["kind"] == k for o in ops)}
    return weighted_quantile([(m, mix[k]) for k, m in medians.items()], 50)


def e2e(raw):
    """End-to-end metrics plus the report-only figures, from the raw run."""
    ops = raw["ops"]
    read_ops = [o for o in ops if o["read"]]
    write_ops = [o for o in ops if not o["read"]]
    reads = [o["ms"] for o in read_ops]
    writes = [o["ms"] for o in write_ops]
    # every operation is checked, warm-up included, plus the final check
    failed = (sum(1 for o in ops if not o["ok"]) + int(raw["diag"]["warmup_failed"])
              + (0 if raw["final_ok"] else 1))
    attempted = len(ops) + int(raw["diag"]["warmup_ops"]) + 1
    # the percentile the tail rule picks from the raw sample count, its value
    # at the cycle mix
    rp, _, rn = tail(reads)
    wp, _, wn = tail(writes)
    setup = raw["diag"]["spark_start_s"] + statistics.median(raw["load_s"]) + raw["first_op_s"]
    c = raw["counters"]
    mix = raw["mix"]
    metrics = {
        "setup_s": setup,
        "ops_per_s": 1000.0 / mix_mean(ops, mix, "ms"),
        "read_p50_ms": mix_median(read_ops, mix),
        "read_tail_ms": mix_quantile(read_ops, mix, rp),
        "rows_scanned_per_query": mix_mean(read_ops, mix, "rows"),
    }
    report = {
        "write_p50_ms": mix_median(write_ops, mix) if writes else 0.0,
        "write_tail_ms": mix_quantile(write_ops, mix, wp) if writes else 0.0,
        "oracle_calls_per_query": c.get("oracle.calls", 0.0) / max(1, len(reads)),
        "space_amp": raw["space_amp"],
        "pinned_mb": raw["pinned_mb"],
        "failed_frac": failed / attempted,
        "read_tail_percentile": rp, "read_tail_beyond": rn, "reads": len(reads),
        "write_tail_percentile": wp, "write_tail_beyond": wn, "writes": len(writes),
        "load_s": raw["load_s"], "first_op_s": raw["first_op_s"], "warmup_s": raw["warmup_s"],
        "kind_p50_ms": {k: statistics.median(o["ms"] for o in ops if o["kind"] == k)
                        for k in sorted({o["kind"] for o in ops})},
    }
    return metrics, report, attempted, failed


def result(raw, trace):
    s = spec()
    metrics, report, attempted, failed = e2e(raw)
    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    if trace:
        values = dict(raw["layers"])
        values["sources.write_p50_ms"] = report["write_p50_ms"]
        values["sources.write_tail_ms"] = report["write_tail_ms"]
        # the traced run's throughput, by the same estimator as ops_per_s
        values["trace.ops_per_s"] = metrics["ops_per_s"]
        names = [m["name"] for m in s["per_layer"]]
    else:
        values = metrics
        names = [m["name"] for m in s["end_to_end"]]
    missing = [n for n in names if n not in values]
    if missing:
        fail(f"metrics not produced: {missing}")
    out = {n: {"value": values[n], "unit": units[n]} for n in names}
    print("# report " + json.dumps(report))
    print("# diagnostics " + json.dumps({**raw["diag"], **raw["diag_text"]}))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {ENGINE_SRC}")
    classes, jars = build()
    if a.workload != "all":
        res = result(run_jvm(a.workload, a.seed, a.seconds, bool(a.trace), classes, jars), a.trace)
        print(json.dumps(res))
        return 0
    summary = {}
    for w in WORKLOADS:
        for tr in (0, 1):
            res = result(run_jvm(w, a.seed, a.seconds, bool(tr), classes, jars), tr)
            summary.setdefault(w, {}).update({k: v["value"] for k, v in res["metrics"].items()})
            summary[w]["failed"] = summary[w].get("failed", 0) + res["failed"]
            for k, v in sorted(res["metrics"].items()):
                print(f"{w:14s} {'traced' if tr else 'e2e   '} {k:34s} {v['value']:14.4f} {v['unit']}")
        e2e_ops, traced_ops = summary[w]["ops_per_s"], summary[w]["trace.ops_per_s"]
        print(f"{w:14s} tracing overhead: ops_per_s {e2e_ops:.3f} untraced vs "
              f"{traced_ops:.3f} traced ({(e2e_ops / traced_ops - 1) * 100:+.1f}%)")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
