#!/usr/bin/env python3
"""CDC engine benchmark: one workload, one seed, one timed window.

Run from the root of a checkout of the repository:

    python3 cdcbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

The launcher sizes the run from the host, builds the engine and the
benchmark from source with sbt (cached in .bench_build/ by a hash of the
sources), runs one benchmark JVM, and prints a fingerprint line, a report
line with every metric and, last, the result line. See README.md here.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pipeline", "serve")
RUN_LIMIT_S = 170.0       # a run, build excluded, must end within this
BUILD_LIMIT_S = 700.0     # with the first run, within 900 s
MIN_SCRATCH_FREE_GB = 6.0
HEAP_MAX_MB = 8192
NON_HEAP_MB = 1536        # metaspace, code cache, direct buffers, threads

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print("cdcbench: %s" % msg, file=sys.stderr, flush=True)


def read_kv(path, sep=":"):
    out = {}
    try:
        with open(path) as f:
            for line in f:
                if sep in line:
                    k, v = line.split(sep, 1)
                    out[k.strip()] = v.strip()
    except OSError:
        pass
    return out


def cgroup_cpu_max():
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def fs_of(path):
    """(mount point, filesystem type) holding `path`."""
    best = ("/", "unknown")
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt, fstype = parts[1], parts[2]
                if path == mnt or path.startswith(mnt.rstrip("/") + "/"):
                    if len(mnt) >= len(best[0]):
                        best = (mnt, fstype)
    except OSError:
        pass
    return best


def free_gb(path):
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize / 2 ** 30


def host_plan():
    """Sizes the run from the host; raises BenchError instead of
    oversubscribing cores or memory."""
    nproc = len(os.sched_getaffinity(0))
    cpu_max = cgroup_cpu_max()
    cores = nproc
    parts = cpu_max.split()
    if len(parts) == 2 and parts[0] != "max":
        cores = min(cores, int(int(parts[0]) // int(parts[1])))
    if cores < 2:
        raise BenchError("needs at least 2 cores, host allows %d "
                         "(nproc %d, cpu.max %s)" % (cores, nproc, cpu_max))
    mem = read_kv("/proc/meminfo")
    total_mb = int(mem["MemTotal"].split()[0]) // 1024
    avail_mb = int(mem.get("MemAvailable", mem["MemTotal"]).split()[0]) // 1024
    heap_mb = min(HEAP_MAX_MB, total_mb // 4)
    if heap_mb < 2048:
        raise BenchError("needs a 2 GB heap, a quarter of MemTotal is %d MB"
                         % heap_mb)
    if heap_mb + NON_HEAP_MB > avail_mb:
        raise BenchError("heap %d MB + %d MB non-heap exceeds MemAvailable "
                         "%d MB" % (heap_mb, NON_HEAP_MB, avail_mb))
    os.makedirs(BUILD, exist_ok=True)
    scratch_free = free_gb(BUILD)
    if scratch_free < MIN_SCRATCH_FREE_GB:
        raise BenchError("scratch %s has %.1f GB free, needs %.1f GB"
                         % (BUILD, scratch_free, MIN_SCRATCH_FREE_GB))
    shm_free = free_gb("/dev/shm") if os.path.isdir("/dev/shm") else 0.0
    mnt, fstype = fs_of(BUILD)
    return {
        "nproc": nproc, "cgroup_cpu_max": cpu_max, "cores": cores,
        "mem_total_mb": total_mb, "mem_available_mb": avail_mb,
        "heap_mb": heap_mb, "dev_shm_free_gb": round(shm_free, 2),
        "scratch_fs": fstype, "scratch_mount": mnt,
        "scratch_free_gb": round(scratch_free, 2),
    }


def source_files():
    """Every file the build reads: the engine's build and main sources and
    the benchmark's own build and sources."""
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "src"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs
                                if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def require_engine():
    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft")):
        if not os.path.exists(need):
            raise BenchError("engine sources not found (%s); run from the "
                             "root of a checkout" % os.path.relpath(need, ROOT))


def build(code):
    """Compiles engine + benchmark with sbt, once per source hash; returns
    the runtime classpath."""
    # one build directory, so the cache records which sources it holds
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            built, classpath = (f.read().split("\n", 1) + [""])[:2]
        if built == code and classpath.strip():
            return classpath.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ)
    # never resolve anything over the network: the build uses only what
    # is already in the local caches
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log_path = os.path.join(BUILD, "build-%s.log" % code)
    log("building engine and benchmark (sources %s)" % code)
    t0 = time.time()
    with open(log_path, "w") as out:
        p = subprocess.Popen(
            [sbt, "-batch", "-Dsbt.log.noformat=true",
             "export cdcbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait_or_kill(p, BUILD_LIMIT_S)
    with open(log_path) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if rc != 0 or not cps:
        raise BenchError("build failed (exit %s), see %s" % (rc, log_path))
    with open(cp_file, "w") as f:
        f.write(code + "\n" + cps[-1])
    log("built in %.0f s" % (time.time() - t0))
    return cps[-1]


def wait_or_kill(p, limit):
    """Waits for a child started in its own session; kills the whole
    process group when it runs past `limit` seconds."""
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout after %.0f s" % limit


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    j = shutil.which("java")
    if j is None:
        raise BenchError("java not found")
    return j


def run_jvm(args, plan, classpath, budget):
    scratch = os.path.join(BUILD, "scratch", "run-%d" % os.getpid())
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    out_file = os.path.join(scratch, "raw.json")
    env = dict(os.environ)
    # the engine's local filesystem shim puts shuffle scratch here
    env["GRAFT_TMPDIR"] = os.path.join(scratch, "spark-local")
    cmd = [java_bin(),
           "-Xms%dm" % plan["heap_mb"], "-Xmx%dm" % plan["heap_mb"],
           "-Djava.io.tmpdir=%s" % os.path.join(scratch, "tmp")]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "cdcbench.Main", args.workload,
            str(args.seed), str(args.seconds), str(args.trace),
            str(plan["cores"]), scratch, out_file]
    log_path = os.path.join(BUILD, "last-run-%s.log" % args.workload)
    try:
        with open(log_path, "w") as out:
            p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out,
                                 stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL,
                                 start_new_session=True)
            rc = wait_or_kill(p, budget)
        if rc != 0 or not os.path.exists(out_file):
            with open(log_path) as f:
                tail = f.read().splitlines()[-30:]
            raise BenchError("benchmark JVM failed (exit %s):\n%s"
                             % (rc, "\n".join(tail)))
        with open(out_file) as f:
            return json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def store(kind, code, workload, name, obj):
    d = os.path.join(BUILD, kind, code, workload)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name + ".json"), "w") as f:
        json.dump(obj, f, sort_keys=True)


def load_all(kind, code, workload):
    d = os.path.join(BUILD, kind, code, workload)
    if not os.path.isdir(d):
        return {}
    out = {}
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n)) as f:
            out[n[:-5]] = json.load(f)
    return out


def repeat_check(code, args, counts):
    """Compares this run's repeat counts with the first run of the same
    code, workload, seed and trace setting; True, False or None (first)."""
    name = "seed%d-trace%d" % (args.seed, args.trace)
    prior = load_all("counts", code, args.workload).get(name)
    if prior is None:
        store("counts", code, args.workload, name, counts)
        return None
    return prior == json.loads(json.dumps(counts, sort_keys=True))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not 1 <= args.seconds <= 120:
        raise BenchError("--seconds must be within 1..120")

    require_engine()
    plan = host_plan()
    code = source_hash()
    classpath = build(code)
    t0 = time.time()
    raw = run_jvm(args, plan, classpath, RUN_LIMIT_S)
    fingerprint = dict(plan)
    fingerprint.update({
        "jdk": raw["java_version"], "spark": raw["spark_version"],
        "spark_conf": raw["spark_conf"], "sources": code,
        "local": "local[%d]" % raw["cores"]})

    e2e, extra = metrics.end_to_end(raw)
    counts = metrics.repeat_counts(raw, e2e)
    report = {k: {"value": e2e[k], "unit": u}
              for k, u, _ in metrics.END_TO_END}
    report.update({k: {"value": v, "unit": u} for k, (v, u) in extra.items()})

    if args.trace:
        layers = metrics.layer_metrics(raw["spans"], raw["jobs"],
                                       raw["stages"], raw["cores"])
        counts["engine.pipeline.jobs_per_epoch"] = layers[
            "engine.pipeline.jobs_per_epoch"]
        base = [r["epoch_s_p50"] for r in
                load_all("results", code, args.workload).values()]
        layers["trace.events_per_s"] = e2e["events_per_s"]
        layers["trace.epoch_s_p50"] = e2e["epoch_s_p50"]
        layers["trace.overhead_frac"] = (
            e2e["epoch_s_p50"] / metrics.median(base) - 1.0 if base else 0.0)
        layers["trace.overhead_baseline_runs"] = len(base)
        final = {k: (layers[k], u) for k, u, _ in metrics.per_layer_names()}
    else:
        store("results", code, args.workload, "seed%d" % args.seed, e2e)
        final = {k: (e2e[k], u) for k, u, _ in metrics.END_TO_END}
    repeats = repeat_check(code, args, counts)

    correct = raw["failed"] == 0
    print(json.dumps({"fingerprint": fingerprint}))
    print(json.dumps({"report": report, "repeat_counts": counts,
                      "counts_repeat": repeats,
                      "failures": raw["failures"],
                      "jvm_s": round(time.time() - t0, 3)}))
    if repeats is False:
        log("repeat counts differ from the first run of this code and seed")
    line = json.dumps(metrics.result_line(correct, raw["attempted"],
                                          raw["failed"], final))
    metrics.parse_result(line, list(final))
    print(line, flush=True)
    if not correct:
        for f in raw["failures"]:
            log("FAILED: %s" % f)
        return 1
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        log("error: %s" % e)
        sys.exit(2)
