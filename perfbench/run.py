#!/usr/bin/env python3
"""Run one benchmark workload against the graft sources of this checkout.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The first run builds the harness and
graft with sbt (offline); later runs reuse the build while the sources are
unchanged. The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics; the metric names and units are
the ones BENCHMARK.json lists (end_to_end with --trace 0, per_layer with
--trace 1). Everything a run writes stays under the checkout: the build
under perfbench/target, a per-run scratch directory under .perfbench-runs/
that is removed when the run ends, and traced runs' span files and layer
summaries under .perfbench-results/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import checks  # noqa: E402

WORKLOADS = ("queries", "ingest_mixed")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a fixed order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The Spark install of the first spark-submit on PATH that has jars."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
        if os.path.isfile(exe) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return None


def build(stamp):
    """Compile graft and the harness; return the runtime classpath."""
    target = os.path.join(BENCH, "target")
    stamp_file = os.path.join(target, "perfbench.stamp")
    cp_file = os.path.join(target, "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    if "SPARK_HOME" not in env:
        home = spark_home()
        if home is None:
            die("no Spark install: set SPARK_HOME", 3)
        env["SPARK_HOME"] = home
    log("building graft and the harness with sbt")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out", 3)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed", 3)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip().startswith("/")]
    if not lines:
        die("build printed no classpath", 3)
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def run_jvm(cp, main_class, args, run_dir):
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-XX:-UsePerfData", "-Xmx2g",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", cp, main_class] + args
    # own process group, so a timeout can stop the JVM and all it started
    proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("the harness JVM timed out", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def commit_id():
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                  capture_output=True, text=True,
                                  timeout=10).stdout.strip() or "unknown"
        except (OSError, subprocess.TimeoutExpired):
            pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; choose one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources (src/main/scala/graft) beside the benchmark")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    checks.self_test(ROOT)
    stamp = source_stamp()
    cp = build(stamp)

    runs = os.path.join(ROOT, ".perfbench-runs")
    run_dir = os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "result.json")
    try:
        code = run_jvm(cp, "perfbench.Harness", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--rows", os.path.join(BENCH, "rows.tsv"),
            "--run-dir", run_dir, "--out", out,
            "--cores", str(os.cpu_count() or 1)], run_dir)
        if code != 0 or not os.path.exists(out):
            die(f"the harness failed (exit {code})", 5)
        with open(out) as f:
            res = json.load(f)
        failed = int(res["failed"])
        mismatched = []
        if a.workload == "queries":
            mismatched = checks.check_outputs(
                os.path.join(run_dir, "outputs"),
                os.path.join(BENCH, "expected.json"),
                [r for r in res["row_samples"] if r not in res["rows_broken"]])
            failed += sum(res["row_samples"][r] for r in mismatched)
            for r in mismatched:
                log(f"wrong output: {r}")
        log("op medians (s): " + ", ".join(
            f"{k}={v:.3f}" for k, v in sorted(res["op_median_s"].items(), key=lambda kv: -kv[1])))
        for msg in res.get("failures", []):
            log("failure:", msg)
        if a.trace:
            keep = os.path.join(ROOT, ".perfbench-results")
            os.makedirs(keep, exist_ok=True)
            base = os.path.join(keep, f"{a.workload}-s{a.seed}")
            shutil.copyfile(out + ".spans.jsonl", base + ".spans.jsonl")
            with open(base + ".layers.json", "w") as f:
                json.dump({m["name"]: res.get(m["name"], 0.0) for m in wanted}, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)

    env = {"nproc": os.cpu_count(), "cores": res["cores"], "jvm": res["jvm"],
           "spark": res["spark"], "commit": commit_id(), "sources": stamp[:16],
           "samples": res.get("samples"), "passes": res.get("passes"),
           "setup_reps_s": res["setup_reps_s"], "loop_s": res["loop_s"]}
    print("# env " + json.dumps(env), flush=True)
    metrics = {m["name"]: {"value": float(res.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    attempted = int(res["attempted"])
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
