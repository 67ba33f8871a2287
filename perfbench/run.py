#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload run per invocation.

Usage (from the repository root):

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: etl_refresh, warehouse_queries, curation_batch,
corpus_frontdoor (see perfbench/README.md for what each stresses).

The script builds the engine and the harness from source with sbt when
the sources changed since the last build (perfbench/.build), starts a
fresh JVM with a pinned environment (cores, heap, scratch, local and
checkpoint directories under perfbench/.work), lets it set up and time
the workload, checks query outputs against DuckDB oracles, and prints
every figure by name. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}, where metrics are
the end-to-end figures with --trace 0 and the per-layer figures with
--trace 1 (both lists are in BENCHMARK.json).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HEAP = "3g"
# set-up repetitions per run (setup_s reports their median): a repeat is
# cheap for the ETL (two warm Pipeline.runs, ~7 s) but costs a full pass
# of memo rebuilds for the query workloads and the whole topology seed
# for the front door, more than a run can spend
REPS = {"etl_refresh": 2, "warehouse_queries": 1, "curation_batch": 1,
        "corpus_frontdoor": 1}
WORKLOADS = list(REPS)
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine + harness if any source changed; return the
    runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(BENCH, ".build")
    cp_file, stamp_file = (os.path.join(out, "classpath"),
                           os.path.join(out, "stamp"))
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read(), stamp, False
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the build resolves nothing new: every jar is in the local caches
    # or in the Spark distribution (perfbench/build.sbt reads SPARK_HOME)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SPARK_HOME"):
        env["SPARK_HOME"] = spark_home()
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=850)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, stamp, True


def spark_home():
    """The Spark distribution of the first spark-submit on PATH that has
    its jars beside it (a pip-installed launcher may come first)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, deadline):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    env.pop("SPARK_GRAFT_REGISTRY", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            tail(log)
            fail("run exceeded its time limit", 1)
    if p.returncode != 0:
        tail(log)
        fail(f"benchmark JVM exited with {p.returncode}", 1)


def tail(path):
    """The JVM log's last lines, without INFO chatter or stack frames."""
    with open(path, errors="replace") as fh:
        lines = [ln for ln in fh if " INFO " not in ln
                 and not ln.lstrip().startswith("at ")]
    sys.stderr.write("".join(lines)[-6000:])


def tail_quantile(xs):
    """The highest percentile, at most p90, with at least ten samples
    beyond it (the median when there are fewer than twenty)."""
    n = len(xs)
    q = 0.9 if n >= 100 else max(0.5, min(0.9, 1.0 - 10.0 / n))
    return quantile(xs, q), q


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def declared(kind):
    """Metric names BENCHMARK.json declares under `kind`."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return [m["name"] for m in json.load(fh)[kind]]
    except (OSError, ValueError, KeyError):
        return []


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    start = time.time()
    deadline = start + 170
    data = os.path.join(BENCH, "data", "sf0.01")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to "
             "perfbench/; run from a full checkout")
    if not os.path.isdir(data):
        fail(f"benchmark data {data} missing")

    cp, stamp, built = build()
    if built:  # a run that had to build gets its full budget after it
        deadline = time.time() + 165

    work = os.path.join(BENCH, ".work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "report.json")
    keep = os.path.join(BENCH, ".out")
    os.makedirs(keep, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    try:
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", a.trace,
                     "--work", work, "--data", data, "--out", out,
                     "--reps", str(REPS[a.workload])], work, deadline)
        with open(out) as fh:
            rep = json.load(fh)
        oracle = {}
        if rep["artifacts"].get("results"):
            import oracle as oracle_mod
            oracle = oracle_mod.check(
                rep["artifacts"]["data"], rep["artifacts"]["results"],
                rep["oracle_sql"], os.path.join(BENCH, ".build", "oracle"))
        shutil.copy(out, os.path.join(keep, tag + ".json"))
        if os.path.exists(out + ".spans.json"):
            shutil.copy(out + ".spans.json",
                        os.path.join(keep, tag + ".spans.json"))
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"),
                        os.path.join(keep, tag + ".log"))
        shutil.rmtree(work, ignore_errors=True)

    report(a, rep, oracle, stamp)


def report(a, rep, oracle, stamp):
    ops = rep["ops"]
    bad_queries = {q for q, (ok, _) in oracle.items() if not ok}
    failed_ops = [o for o in ops if not o["ok"] or o["name"] in bad_queries]
    checks = [(c["name"], c["ok"], c["detail"]) for c in rep["checks"]]
    checks += [(f"oracle:{q}", ok, d) for q, (ok, d) in sorted(oracle.items())]
    primary = [o["s"] for o in ops if o["kind"] == "op"]
    reads = [o["s"] for o in ops if o["kind"] == "read"]
    active = rep["active_s"]
    tail_s, tail_q = tail_quantile(primary)
    e2e = {
        "setup_s": (rep["session_s"] + statistics.median(rep["setup_reps_s"]), "s"),
        "op_p50_s": (statistics.median(primary), "s"),
        "op_p90_s": (tail_s, "s"),
        "ops_per_s": (len(primary) / active, "1/s"),
        "peak_rss_mb": (rep["peak_rss_mb"], "MB"),
    }
    info = {
        "fail_frac": (len(failed_ops) / len(ops), "ratio"),
        "op_samples": (len(primary), "count"),
        "op_tail_quantile": (tail_q, "ratio"),
        "session_s": (rep["session_s"], "s"),
        "setup_first_s": (rep["setup_reps_s"][0], "s"),
        "active_s": (active, "s"),
    }
    if reads:
        info["read_p50_s"] = (statistics.median(reads), "s")
        info["read_p90_s"] = (tail_quantile(reads)[0], "s")
    for k, v in rep["extra"].items():
        info[k] = (v["value"], v["unit"])
    env = {
        "commit": git_commit(), "source_sha256": stamp, "nproc": cpus(),
        "heap": HEAP, "loadavg": os.getloadavg(), "seed": a.seed,
        "seconds": a.seconds, "workload": a.workload, "trace": a.trace,
        "setup_reps": len(rep["setup_reps_s"]),
    }
    print("# env " + json.dumps(env))
    for k, (v, u) in list(e2e.items()) + list(info.items()):
        print(f"# metric {k} = {v:.6g} {u}")
    for n, ok, d in checks:
        if not ok:
            print(f"# check FAILED {n}: {d}")
    for o in failed_ops:
        print(f"# op FAILED {o['name']}: {o['note'] or 'oracle mismatch'}")
    layers = rep.get("layers") or {}
    for k in sorted(layers):
        print(f"# layer {k} = {layers[k]['value']:.6g} {layers[k]['unit']}")
    for u in rep.get("unmeasured") or []:
        print(f"# layer not measured: {u}")
    if a.trace == "1":
        wanted = declared("per_layer") or sorted(layers)
        metrics = {k: {"value": layers[k]["value"], "unit": layers[k]["unit"]}
                   for k in wanted}
    else:
        wanted = declared("end_to_end") or sorted(e2e)
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in wanted}
    correct = not failed_ops and all(ok for _, ok, _ in checks)
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": len(failed_ops), "metrics": metrics}))


if __name__ == "__main__":
    main()
