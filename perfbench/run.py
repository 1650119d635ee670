#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the benchmark (and with it the program, from source)
with sbt into the checkout; later runs reuse the build while the sources are
unchanged. Work files go to `.bench_build/` at the repository root. See
perfbench/README.md for the workloads and metrics.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("steady_delivery", "curation_batch")
JVM_TIMEOUT_S = 170
# java.base packages Spark reflects into on JDK 17; the same list the root
# build passes to forked runs
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
    return env


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found")
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def cores():
    n = os.cpu_count() or 1
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    return max(1, min(4, n))


def run_jvm(cp, args, work, meanwhile=None):
    """Run the benchmark JVM, calling `meanwhile(process)` while it starts
    up; return its result object and what `meanwhile` returned."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out, "--cores", str(cores())])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        t0 = time.time()
        try:
            side = meanwhile(p) if meanwhile else None
            code = p.wait(timeout=max(1, JVM_TIMEOUT_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s; log in {log}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail(f"benchmark JVM exited with {code}")
    with open(out) as f:
        return json.load(f), side


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    sys.path.insert(0, HERE)
    import oracle
    problems = []
    if args.workload == "curation_batch":
        oracle.subsample(args.seed, os.path.join(HERE, "data"), os.path.join(work, "curation-data"))

    data, out = os.path.join(work, "curation-data"), os.path.join(work, "curation-out")

    def oracle_hashes(jvm):
        """DuckDB hashes, computed once the JVM's session is up; the JVM
        waits for `oracle.ready` before its set-up pass and timed passes,
        so DuckDB never runs beside a measured region."""
        sql = os.path.join(out, "oracle_sql.json")
        while not os.path.exists(sql):
            if jvm.poll() is not None:
                return None
            time.sleep(0.05)
        try:
            time.sleep(0.2)  # the JVM writes the file in one call; let it finish
            return oracle.expected(args.seed, data, oracle.oracle_sqls(out),
                                   os.path.join(BUILD, "oracle-cache"))
        finally:
            open(os.path.join(work, "oracle.ready"), "w").close()

    res, want = run_jvm(cp, args, work, oracle_hashes if args.workload == "curation_batch" else None)
    problems += res["problems"]
    failed = res["failed"]
    attempted = res["attempted"]

    if args.workload == "curation_batch":
        bad = oracle.check(out, want)
        problems += bad
        failed += len(bad)

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layers"] if args.trace else res["e2e"]
    metrics = {}
    for m in names:
        if m["name"] not in source:
            problems.append(f"metric {m['name']} not reported")
            continue
        metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
    if args.trace:
        print("per-layer metrics (traced run), by module:")
        for m in names:
            v = metrics.get(m["name"], {}).get("value")
            print(f"  {m['name']:<44} {v!s:>14} {m['unit']}")
    else:
        print(f"{args.workload} seed={args.seed} cores={res['cores']}")
        for m in names:
            v = metrics.get(m["name"], {}).get("value")
            print(f"  {m['name']:<18} {v!s:>14} {m['unit']}")
        for k in sorted(set(res["e2e"]) - {m["name"] for m in names}):
            print(f"  {k:<18} {res['e2e'][k]!s:>14} (not gated)")
    for k, v in sorted(res["notes"].items()):
        print(f"  note {k}: {v}")
    print(f"  error_rate {failed / max(1, attempted):.6f} ({failed} failed of {attempted})")
    for p in problems:
        print(f"  PROBLEM: {p}")
    line = {"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                            "time": time.time(), **line}) + "\n")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
