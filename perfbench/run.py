#!/usr/bin/env python3
"""The repo benchmark: three workloads, each a fresh JVM calling the
engine's public API from outside (see perfbench/README.md).

    python3 perfbench/run.py --workload dashboard_refresh --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds the benchmark (its
own sbt project in perfbench/, which compiles the engine's sources next to
the benchmark code) into $CARGO_TARGET_DIR or .bench_build. Each run works in
.bench_work/, removes it afterwards, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, rolled up from
the traced pass's spans. A wrong output sets "correct": false and exits 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import report  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected.json")
CORES = 4
HEAP = "3g"
# every run ends within 180 s (the first one also builds, outside this)
RUN_BUDGET_S = 172

WORKLOADS = {
    "dashboard_refresh": "dashboard",
    "corpus_dedup": "dedup",
    "stream_traffic": "stream",
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(build_dir, "perfbench.stamp")
    cp_file = os.path.join(build_dir, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return open(cp_file).read().strip()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, PERFBENCH_BUILD_DIR=os.path.join(build_dir, "sbt"))
    submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and submit:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in opts and os.path.exists(repos):
        env["SBT_OPTS"] = (opts + " -Dsbt.override.build.repos=true -Dsbt.offline=true"
                           f" -Dsbt.repository.config={repos}").strip()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime / fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v[:8])


def jvm_pass(classpath, work, args, cores, deadline):
    """One fresh JVM running perfbench.Main; returns its result dict."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", f"work={work}", f"out={out}",
              f"cores={cores}", f"data={DATA}"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"pass {args[0]} failed ({code})")
    with open(out) as f:
        return json.load(f)


def check(workload, res, work, expected):
    """Count wrong outputs; returns (attempted, failed)."""
    attempted, failed = res["attempted"], res["failed"]
    if workload == "dashboard_refresh":
        want = expected["routes"]
        bad = [r["route"] for r in res["detail"]["routes"]
               if r["status"] == 200 and r["sha256"] != want.get(r["route"])]
        missing = set(want) - {r["route"] for r in res["detail"]["routes"]}
        attempted += len(missing)
        failed += len(bad) + len(missing)
        for r in bad:
            print(f"perfbench: wrong body for {r}", file=sys.stderr)
    elif workload == "corpus_dedup":
        for q in res["detail"]["queries"]:
            if not q["ok"]:
                continue
            got = report.frame_digest(os.path.join(work, "results", q["query"]))
            if q["query"] in expected["frames"]:
                ok = got[0] == expected["frames"][q["query"]]
            else:
                ok = got[1] == expected["rows"].get(q["query"])
            if not ok:
                failed += 1
                print(f"perfbench: wrong result for {q['query']}", file=sys.stderr)
    return attempted, failed


def run_workload(workload, seed, seconds, trace, classpath, deadline, cores=CORES):
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}-{cores}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    mode = WORKLOADS[workload]
    args = [f"mode={mode}", f"seed={seed}", f"seconds={seconds}", f"trace={trace}"]
    try:
        steal0, total0 = cpu_ticks()
        res = jvm_pass(classpath, work, args, cores, deadline)
        steal1, total1 = cpu_ticks()
        # the share of CPU time the hypervisor gave to others during the pass
        res["env"]["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        with open(EXPECTED) as f:
            attempted, failed = check(workload, res, work, json.load(f))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["attempted"], res["failed"] = attempted, failed
    res["metrics"]["ok_rate"] = 1.0 - failed / max(attempted, 1)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--save", help="also append the full result (spans, detail) to this JSONL file")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the engine's sources (src/main/scala/graft) are not in this checkout")
    if not os.path.isdir(DATA) or not os.path.exists(EXPECTED):
        die("benchmark data or expected digests missing")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(build_dir)
    t0 = time.time()
    deadline = t0 + RUN_BUDGET_S
    res = run_workload(a.workload, a.seed, a.seconds, a.trace, classpath, deadline)
    res["workload"] = a.workload
    if a.trace and a.workload == "stream_traffic":
        # the single-threaded baseline of the same traced leg
        res["local1"] = run_workload(a.workload, a.seed, a.seconds, 1, classpath, deadline, cores=1)
        res["attempted"] += res["local1"]["attempted"]
        res["failed"] += res["local1"]["failed"]
    res["wall_s"] = time.time() - t0
    if a.save:
        with open(a.save, "a") as f:
            f.write(json.dumps(res) + "\n")
    metrics = report.metrics_of(res)
    units = report.UNITS if a.trace else report.END_TO_END_UNITS
    report.print_metrics(metrics, units, res)
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": {k: {"value": v, "unit": units.get(k, "count")}
                                  for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
