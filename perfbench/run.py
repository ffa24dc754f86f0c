#!/usr/bin/env python3
"""graft benchmark: one seeded workload run, end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into .bench_build/. Each run generates
its inputs from the seed, starts one JVM with Spark local[N], sets up
several times, runs a single-client closed loop for --seconds of timed
work, checks every output outside the timed region and prints, as the last
line, {"correct", "attempted", "failed", "metrics"}. --trace 1 prints the
per-layer metrics instead of the end-to-end ones and writes the spans to
.bench_build/traces/. The lines before the last one carry the input
provenance, host stamps, failures and the workload's own named metrics.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import fcntl  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ch_session", "lineage_catalog", "curation")
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600
HEAP = "2g"
# what the JVM needs to run Spark outside spark-submit (the module opens
# org.apache.spark.launcher.JavaModuleOptions lists)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build


def source_digest():
    """SHA-256 over every file the build reads (engine + harness)."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark distribution found (SPARK_HOME)")
    return home


def build():
    """Compile engine + harness once per source digest; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("engine sources (src/main/scala/graft) not found; "
                         "run from the root of a graft checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        raise BenchError("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and os.path.exists(cp_file):
            with open(stamp) as f:
                if f.read().strip() == digest:
                    with open(cp_file) as g:
                        return g.read().strip()
        log("building engine and harness (sbt, offline) ...")
        env = dict(os.environ, SPARK_HOME=spark_home())
        env.setdefault("COURSIER_MODE", "offline")
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        lines = [ln for ln in p.stdout.splitlines()
                 if ln.startswith("/") and ".jar" in ln]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            raise BenchError(f"build failed (sbt exit {p.returncode})")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp, "w") as f:
            f.write(digest)
        log(f"built in {time.time() - t0:.1f} s")
        return cp


# -------------------------------------------------------------------- run


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_times():
    """Host-wide CPU jiffies: (total, steal), from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def git_head():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "not a git checkout"
    except (OSError, subprocess.SubprocessError):
        return "git unavailable"


def run_jvm(cp, workload, input_dir, out_dir, seconds, trace, deadline):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # temp files stay in the run directory; no hsperfdata file in /tmp
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", *ADD_OPENS,
           "-cp", cp, "graftbench.Main", "--workload", workload,
           "--input", input_dir, "--out", out_dir, "--seconds", str(seconds),
           "--trace", "1" if trace else "0"]
    log_path = os.path.join(out_dir, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=out_dir, stdout=logf,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("the JVM run timed out")
    res = os.path.join(out_dir, "result.json")
    if code != 0 or not os.path.exists(res):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        raise BenchError(f"the JVM run failed (exit {code})")
    with open(res) as f:
        return json.load(f)


def steal_share(before, after):
    total = after[0] - before[0]
    return round((after[1] - before[1]) / total, 4) if total > 0 else -1.0


def pct(xs, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def tail(xs):
    """The highest whole percentile with at least 10 samples beyond it."""
    if len(xs) < 11:
        return None, None
    q = int(100 * (1 - 10.0 / len(xs)))
    return q, pct(xs, q)


def named_metrics(workload, ops, props):
    """The workload's own named metrics (select and write latencies, rates)."""
    out = {}
    if workload == "ch_session":
        for kind in ("select", "write"):
            xs = [o["ms"] for o in ops if o["kind"] == kind]
            if xs:
                q, t = tail(xs)
                out[f"{kind}_p50_ms"] = statistics.median(xs)
                out[f"{kind}_tail_ms"] = t
                out[f"{kind}_tail_pct"] = q
                out[f"{kind}_n"] = len(xs)
        out["stmts_per_s"] = len(ops) / (sum(o["ms"] for o in ops) / 1000)
    elif workload == "lineage_catalog":
        out["views_per_s"] = props["views"] / (
            statistics.median(o["ms"] for o in ops) / 1000)
    else:
        out["docs_per_s"] = props["docs"] / (
            statistics.median(o["ms"] for o in ops) / 1000)
    return out


WORK = {"ch_session": "stmts_per_s", "lineage_catalog": "views_per_s",
        "curation": "docs_per_s"}


def end_to_end(workload, ops, named, result, attempted, failed):
    return {
        "setup_s": (statistics.median(result["setup_s"]), "s"),
        "op_p50_ms": (statistics.median(o["ms"] for o in ops), "ms"),
        "work_per_s": (named[WORK[workload]], "1/s"),
        "success_rate": (1.0 - failed / attempted, "ratio"),
        "peak_rss_mb": (result["vmhwm_kb"] / 1024.0, "MB"),
    }


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    cp = build()
    deadline = time.time() + RUN_TIMEOUT_S
    load0 = loadavg()
    cpu0 = cpu_times()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    input_dir = os.path.join(run_dir, "input")
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir, exist_ok=True)
    phases = {}
    try:
        t = time.time()
        sha, props = gen.generate(a.workload, a.seed, input_dir)
        phases["generate_s"] = time.time() - t
        t = time.time()
        result = run_jvm(cp, a.workload, input_dir, out_dir, a.seconds,
                         a.trace == 1, deadline)
        phases["jvm_s"] = time.time() - t
        t = time.time()
        timed = [o for o in result["ops"] if not o["traced"]]
        traced = [o for o in result["ops"] if o["traced"]]
        all_ops = timed + traced
        mism = check.run_checks(a.workload, input_dir, result,
                                [o["op"] for o in all_ops])
        failed_ids = {f["op"] for f in result["failures"]}
        for m in mism:
            failed_ids |= set(m["ops"])
        phases["check_s"] = time.time() - t
        counted = {o["op"] for o in all_ops}
        attempted = len(counted)
        failed = len(failed_ids & counted)
        spans_src = os.path.join(out_dir, "spans.jsonl")
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(spans_src, os.path.join(
                BUILD, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    host = dict(result["host"], nproc=len(os.sched_getaffinity(0)),
                loadavg_before_run=load0, loadavg_after_run=loadavg(),
                # the share of CPU time the hypervisor gave to others
                cpu_steal_share=steal_share(cpu0, cpu_times()),
                git_head=git_head(), source_sha256=source_digest(),
                phases=dict(phases, **result["phases"]))
    print(json.dumps({"provenance": {"workload": a.workload, "seed": a.seed,
                                     "inputs_sha256": sha,
                                     "properties": props}}))
    print(json.dumps({"host": host}))
    print(json.dumps({"failures": result["failures"], "mismatches": mism,
                      "error_rate": failed / attempted,
                      "attempted": attempted, "failed": failed}))
    print(json.dumps({"leaks_max": result["leaks_max"],
                      "leaks_first_op": result["leaks_first_op"]}))
    if a.trace == 0:
        named = named_metrics(a.workload, timed, props)
        print(json.dumps({"named_metrics": named}))
        metrics = end_to_end(a.workload, timed, named, result, attempted,
                             failed)
    else:
        layers = dict(result["layers"])
        layers.update({
            "session.leaked_conf": result["leaks_max"]["conf"],
            "session.leaked_tables": result["leaks_max"]["tables"],
            "session.leaked_cached_plans": result["leaks_max"]["cached_plans"],
            "session.leaked_rdds": result["leaks_max"]["rdds"]})
        if a.workload == "curation":
            for name, got in result["pipelines"].items():
                ids = {r[got["columns"].index("doc_id")] for r in got["rows"]}
                layers[f"curation.{name.split('_')[0]}.kept_ratio"] = \
                    len(ids) / props["docs"]
        with open(os.path.join(BUILD, "traces",
                               f"{a.workload}-seed{a.seed}.layers.json"),
                  "w") as f:
            json.dump({"layers": layers, "self_ms": result["self_ms"]}, f,
                      indent=1, sort_keys=True)
        print(json.dumps({"layers": layers, "self_ms": result["self_ms"]},
                         sort_keys=True))
        metrics = {m["name"]: (layers[m["name"]], m["unit"])
                   for m in spec()["per_layer"]}
    print(json.dumps({
        "correct": not mism and not result["failures"],
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)
