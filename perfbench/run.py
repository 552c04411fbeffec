#!/usr/bin/env python3
"""Build and run the benchmark of record from the root of a checkout.

    python3 perfbench/run.py --workload route_bulk --seed 1 --seconds 12 --trace 0

Workloads: route_bulk, config_small, snapshot_mixed, or `all` (the three
in one process). The first call in a checkout compiles the library's
sources under src/main/scala together with perfbench/src with sbt (offline)
and caches the classpath under perfbench/target; later calls reuse it
while no source file changed. The measurement itself runs in one JVM with
Spark at local[nproc]. All scratch data lives under perfbench/work and is
removed at exit.

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the lines before it are the
per-workload reports (see perfbench/README.md). The exit code is nonzero
when the build fails, an output check fails or the run times out.

`--record-baseline` (with --trace 1) rewrites the committed per-operation
Spark job/task counts in perfbench/baseline/op_counts.json for this
workload; without it a traced run at the record seed diffs against them.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
BASELINE = os.path.join(HERE, "baseline", "op_counts.json")
WORKLOADS = ("route_bulk", "config_small", "snapshot_mixed")
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)", 2)
    return home


def build(env):
    """Compile once per source state; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    benv = dict(env)
    benv["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    benv.setdefault("COURSIER_MODE", "offline")
    try:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=benv, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 2)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if os.pathsep in l and "scala-library" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-6000:])
        fail("build failed", 2)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1]


def reduce_counts(op_counts):
    """kind -> sorted distinct [jobs, tasks] pairs seen in one traced run."""
    kinds = {}
    for kind, jobs, tasks in op_counts:
        kinds.setdefault(kind, set()).add((jobs, tasks))
    return {k: sorted([list(p) for p in v]) for k, v in sorted(kinds.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-baseline", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail("library sources (src/main/scala) not found next to perfbench/", 2)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    classpath = build(env)

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    env["SPARK_LOCAL_DIRS"] = local
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cmd = ([java, "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
              f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
              f"-Dderby.system.home={WORK}",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(WORK, "runs")])
    # 170 s for the short runs; long manual runs get room in proportion
    timeout = max(170.0, 3 * args.seconds + 60)
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
        fail(f"run exceeded {timeout:.0f} s", 3)
    shutil.rmtree(WORK, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stdout.write(out)
        fail(f"no result line (exit code {proc.returncode})", proc.returncode or 4)

    extra = []
    if args.trace and args.workload != "all":
        counts = [json.loads(l)["op_counts"] for l in lines[:-1] if '"op_counts"' in l]
        got = reduce_counts(counts[0]) if counts else {}
        base = {}
        if os.path.exists(BASELINE):
            with open(BASELINE) as fh:
                base = json.load(fh)
        if args.record_baseline:
            base[args.workload] = {"seed": args.seed, "op_counts": got}
            os.makedirs(os.path.dirname(BASELINE), exist_ok=True)
            with open(BASELINE, "w") as fh:
                json.dump(base, fh, indent=1, sort_keys=True)
                fh.write("\n")
        elif args.workload in base and base[args.workload]["seed"] == args.seed:
            want = base[args.workload]["op_counts"]
            diff = {k: {"baseline": want.get(k), "now": got.get(k)}
                    for k in sorted(set(want) | set(got)) if want.get(k) != got.get(k)}
            extra.append(json.dumps({"workload": args.workload,
                                     "op_count_baseline": "match" if not diff else "differs",
                                     "diff": diff}))
    for l in lines[:-1] + extra + lines[-1:]:
        print(l)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
