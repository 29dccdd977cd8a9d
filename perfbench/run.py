#!/usr/bin/env python3
"""Benchmark runner for the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program
(`src/main/scala`) together with the benchmark (`perfbench/src`) into
`.bench_build/classes`; later runs reuse that build while the sources
are unchanged. Each run starts one JVM, which generates the seeded
inputs, makes the timed calls into the program, checks the outputs and
writes a raw record; this script then judges the outputs against
DuckDB, prints the environment and every metric with its unit, and
prints one JSON result as the last line of standard output. The exit
code is 0 only if every op and every check passed.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import metrics  # noqa: E402

WORKLOADS = ("airline_reference", "corpus_version")
RUN_DEADLINE_S = 170  # a run, build excluded, must end within 180 s
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars(root):
    """The Spark distribution's jar dir: $SPARK_HOME/jars, else the
    `unmanagedBase` the sbt build names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("perfbench: no Spark jars (set SPARK_HOME)")


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir, jars):
    """Compile program + benchmark with scalac unless the sources are
    unchanged since the last build."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        sys.exit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        h.update(open(s, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    cp = os.path.join(jars, "*")
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp,
                    "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                   check=True, timeout=850, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def heap_gb():
    """Tier-1's rule: half of MemTotal, clamped to 2..8 GiB."""
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                return min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def run_jvm(args, classes, jars, run_dir, cpus, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ,
               SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    # the throughput collector: no concurrent GC threads competing with
    # the executor threads of a short batch run
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap_gb()}g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            *ADD_OPENS,
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", run_dir, "--cpus", str(cpus)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        try:
            p = subprocess.run(cmd, cwd=run_dir, env=env, stdout=jlog,
                               stderr=subprocess.STDOUT,
                               timeout=max(10, deadline - time.time()))
            code = p.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    raw_path = os.path.join(run_dir, "raw.json")
    if code != 0 or not os.path.exists(raw_path):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        log(f"JVM run failed ({code}); log tail:\n{tail}")
        return None
    return json.load(open(raw_path))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.path.dirname(HERE)
    for need in ("src/main/scala", "tools/local_oracle.py"):
        if not os.path.exists(os.path.join(root, need)):
            sys.exit(f"perfbench: {need} is missing; run from the repository root")
    import oracle  # the compare rule comes from tools/local_oracle.py
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars(root)
    classes = build(root, build_dir, jars)

    deadline = time.time() + RUN_DEADLINE_S
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        raw = run_jvm(args, classes, jars, run_dir, cpus, deadline)
        if raw is None:
            sys.exit(3)
        t0 = time.time()
        for name, ok, detail in oracle.compare(raw["oracle"], os.path.join(run_dir, "tmp")):
            raw["checks"].append({"name": f"oracle {name}", "ok": ok, "detail": detail})
        oracle_s = time.time() - t0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed, failures = metrics.count_failures(raw)
    units = metrics.per_layer_units() if args.trace else metrics.END_TO_END
    try:
        values = (metrics.per_layer if args.trace else metrics.end_to_end)(raw)
    except ValueError as e:  # e.g. too few samples beyond a percentile
        failures.append(("metrics", str(e)))
        values = {}

    env = raw["env"]
    print(f"env: workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={env['cores']} heap_max_mb={env['heap_max_mb']} "
          f"shuffle_partitions={env['shuffle_partitions']} "
          f"spark={env['spark_version']} java={env['java_version']} "
          f"scale={env['scale']} inflation={env['inflation']}")
    print("timeline: " + " ".join(f"{k}={v:.1f}s" for k, v in raw["timeline_s"].items())
          + f" oracle={oracle_s:.1f}s session={raw['setup']['session_s']:.1f}s")
    for c in raw["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for op, err in failures:
        print(f"FAILED {op}: {err}")
    print(f"ops: attempted={attempted} failed={failed} "
          f"fail_rate={failed / max(1, attempted):.4f}")
    for name in units:
        print(f"metric {name} = {values.get(name, 0.0):.6g} {units[name]}")
    if args.trace:
        trace_dir = os.path.join(build_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{raw['run_id']}.json")
        with open(path, "w") as f:
            json.dump(metrics.spans(raw), f)
        print(f"spans: {path}")

    correct = not failures  # every op, check and metric passed
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units if n in values},
    }))
    sys.exit(0 if correct and len(values) == len(units) else 1)


if __name__ == "__main__":
    main()
