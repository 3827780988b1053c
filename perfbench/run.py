#!/usr/bin/env python3
"""Replication benchmark runner.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <n> --trace <0|1>

Builds the program and the benchmark from source on first use (into
.bench_build/), runs one workload in a fresh JVM, checks its outputs
against a sequential reference, prints every metric with its unit and,
as the last line, one JSON object with the keys correct, attempted,
failed and metrics. Exits non-zero if a reference check fails, and
without a result if an open loop's generator fell behind its schedule
(the run is invalid).
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ["binlog_tail", "jdbc_hotkey", "doc_novelty"]
BENCH = "perfbench"
BUILD = ".bench_build"
JAVA_TIMEOUT_S = 170
P99_TARGET_MS = 1000.0  # the reference design's P99 apply-latency target

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join("src", "main"), os.path.join(BENCH, "src")]
    extra = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out) + extra


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def build(sha):
    """Compile once per source tree; later runs reuse the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    sha_file = os.path.join(BUILD, "build.sha")
    if os.path.exists(cp_file) and os.path.exists(sha_file):
        with open(sha_file) as f:
            if f.read().strip() == sha:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ["-Dsbt.offline=true", "-Dsbt.server.autostart=false"]:
        if flag not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    cps = [l.strip() for l in p.stdout.splitlines()
           if l.startswith("/") and ".jar" in l and "classes" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(sha_file, "w") as f:
        f.write(sha)
    return cps[-1]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def boot_id():
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            return f.read().strip()
    except OSError:
        return None


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def duckdb_mismatches(spec):
    """Docs whose streamed novelty verdict differs from the oracle SQL."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE TABLE documents AS SELECT * FROM read_parquet(?)", [spec["documents"]])
    expected = {r[0]: (bool(r[1]), r[2]) for r in con.execute(spec["sql"]).fetchall()}
    got_rows = con.execute(
        "SELECT doc_id, novel, dup_of FROM read_parquet(?)",
        [os.path.join(spec["output"], "*.parquet")]).fetchall()
    con.close()
    got = {r[0]: (bool(r[1]), r[2]) for r in got_rows}
    dups = len(got_rows) - len(got)
    return dups + sum(1 for k in set(expected) | set(got) if expected.get(k) != got.get(k))


def run_one(args, cp, sha):
    work = os.path.abspath(os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    load_start = loadavg()
    cmd = ["java", "-Xms2g", "-Xmx3g", "-XX:+UseG1GC"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.abspath(os.path.join(BENCH, 'log4j2.properties'))}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    if args.scale:
        cmd += ["--scale", args.scale]
    if args.corrupt:
        cmd += ["--corrupt", "1"]
    if args.rate:
        cmd += ["--rate", str(args.rate)]
    try:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{args.workload} did not finish within {JAVA_TIMEOUT_S} s")
        lines = p.stdout.splitlines()
        tagged = {t: json.loads(l[len(t) + 1:]) for l in lines for t in ("STAMP", "ORACLE", "RESULT")
                  if l.startswith(t + " ")}
        if p.returncode != 0 or "RESULT" not in tagged:
            sys.stderr.write("\n".join(lines[-20:]) + "\n")
            fail(f"{args.workload} exited with {p.returncode}")
        result, stamp = tagged["RESULT"], tagged["STAMP"]
        oracle = tagged.get("ORACLE")
        if oracle:
            bad = duckdb_mismatches(oracle)
            result["failed"] += bad
            result["correct"] = result["failed"] == 0
            if "delivered_frac" in result["metrics"]:
                result["metrics"]["delivered_frac"]["value"] = max(
                    0.0, 1.0 - result["failed"] / max(result["attempted"], 1))
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
            shutil.copy(spans, os.path.join(BUILD, "trace", f"{args.workload}-{stamp['run_id']}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp.update({"git_commit": git_commit(), "source_sha": sha, "nproc": os.cpu_count(),
                  "loadavg_start": load_start, "loadavg_end": loadavg(), "boot_id": boot_id()})
    print("# stamp " + json.dumps(stamp, sort_keys=True))
    print(f"# {args.workload}: correct={result['correct']} attempted={result['attempted']} "
          f"failed={result['failed']} latency_samples={stamp['latency_samples']}")
    for name, m in result["metrics"].items():
        mark = ""
        if name == "visible_p99_ms" and m["value"] > P99_TARGET_MS:
            mark = "  (above the reference design's 1 s P99 target)"
        print(f"#   {name:40s} {m['value']:>16.6g} {m['unit']}{mark}")
    if not stamp["valid"]:
        sys.stdout.flush()
        fail(f"{args.workload}: invalid run, the generator fell behind its schedule")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", choices=["tiny"], help="self-test input sizes")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the target before the reference check (self-test)")
    ap.add_argument("--rate", type=int,
                    help="offered events per second of an open loop (saturation sweep)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    sha = source_sha()
    cp = build(sha)
    ok = True
    for w in (WORKLOADS if args.workload == "all" else [args.workload]):
        args.workload = w
        result = run_one(args, cp, sha)
        ok = ok and result["correct"]
        print(json.dumps(result))
    sys.stdout.flush()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
