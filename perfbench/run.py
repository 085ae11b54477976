#!/usr/bin/env python3
"""Revision-ingest and query benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles the
program and the benchmark harness with the Scala compiler that ships in
Spark's jars ($SPARK_HOME/jars, else the jar directory build.sbt names)
into `.bench_build/` (or $CARGO_TARGET_DIR); later runs reuse the
classes while the sources are unchanged. Inputs are generated from the
seed and cached by seed and size; their checksums are verified on every
run.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). The exit code is 0 only when every
operation succeeded and every output check passed. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import oracle  # noqa: E402

# Input sizes. The dump is sized so that one run with its set-up fits the
# run budget on 4 cores; see README.md for the sizing notes.
DUMP_MB = 16
TABLE_SCALE = 0.01
RUN_DEADLINE_S = 170  # a run, after any build, ends within this
HEAP = "3g"
KEEP_INPUTS = 12  # cached input sets kept per kind (a set of ten seeds fits)
# environment that would make a run depend on the caller's shell
ISOLATE = ("SPARK_GRAFT_JAVA_OPTS", "SPARK_GRAFT_BENCH_ONLY",
           "SPARK_GRAFT_SF_DIR", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS",
           "JDK_JAVA_OPTIONS")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


# ------------------------------------------------------------------ build

def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build compiles
    against (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BenchError("set SPARK_HOME: no unmanagedBase in build.sbt")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError(f"no Spark jars in {jars}")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                               recursive=True))
    if not program:
        raise BenchError("program sources (src/main/scala) not found")
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(
        os.path.join(ROOT, "src/main/resources/**/*"), recursive=True)
        if os.path.isfile(p))
    return program + harness, resources


def build(out):
    """Compile program + harness into out/classes unless already current."""
    srcs, resources = sources()
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(sha256(p).encode())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BenchError("Scala compiler jars not found in " + jars)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp",
           os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", os.path.join(jars, "*"),
           "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BenchError("compilation failed")
    res_root = os.path.join(ROOT, "src/main/resources")
    for p in resources:
        dst = os.path.join(classes, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def java_cmd(out, classes, main, args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata file outside the checkout.
    # CICompilerCount=2: the JIT keeps recompiling Spark's generated code
    # pass after pass; with the default three compiler threads on 4 cores
    # it takes a third of the CPU and pass times wander with it.
    return (["java", "-XX:-UsePerfData", "-XX:CICompilerCount=2",
             f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
             "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")]),
             main] + [str(a) for a in args])


def run_java(cmd, env, cwd, deadline):
    try:
        r = subprocess.run(cmd, env=env, cwd=cwd, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True,
                           timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        raise BenchError(f"run exceeded {RUN_DEADLINE_S}s")
    lines = r.stdout.splitlines()
    if r.returncode != 0:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        raise BenchError(f"java exited with {r.returncode}")
    return lines


# ----------------------------------------------------------------- inputs

def ensure_inputs(out, kind, seed, make):
    """Cached input dir for (kind, seed): made once, checksummed always.

    Returns (dir, seconds spent generating, seconds spent verifying)."""
    base = os.path.join(out, "inputs")
    d = os.path.join(base, f"{kind}-{seed}")
    manifest = os.path.join(d, "MANIFEST.json")
    gen_s = 0.0
    if not os.path.exists(manifest):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        make(d)
        gen_s = time.perf_counter() - t0
        files = sorted(f for f in os.listdir(d) if f != "MANIFEST.json")
        with open(manifest, "w") as f:
            json.dump({n: sha256(os.path.join(d, n)) for n in files}, f)
        # keep the cache bounded: drop the oldest sets of this kind
        sets = sorted(glob.glob(os.path.join(base, f"{kind}-*")),
                      key=os.path.getmtime)
        for old in sets[:-KEEP_INPUTS]:
            shutil.rmtree(old, ignore_errors=True)
    t0 = time.perf_counter()
    with open(manifest) as f:
        expected = json.load(f)
    for name, digest in expected.items():
        if sha256(os.path.join(d, name)) != digest:
            raise BenchError(f"input checksum mismatch: {d}/{name}")
    os.utime(d)
    return d, gen_s, time.perf_counter() - t0


# ---------------------------------------------------------------- metrics

def host_probe_s():
    """Seconds to hash 64 MB on one core: a marker of the host's speed at
    the time of the run, for reading run-to-run spread."""
    data = bytes(64 << 20)
    t0 = time.perf_counter()
    hashlib.sha256(data).digest()
    return time.perf_counter() - t0


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def op_medians(rec, key="latencies"):
    """Median of each operation's latency (or, with key="op_cpus", its
    process CPU time) over the timed passes, by name."""
    by_op = {}
    for name, t in zip(rec["ops"], rec[key]):
        by_op.setdefault(name, []).append(t)
    return {name: statistics.median(ts) for name, ts in by_op.items()}


def end_to_end(rec, input_bytes, input_check_s):
    """End-to-end metrics of one run. Each operation of a pass (a query,
    or an ingest step) is taken at its median over the timed passes, so
    one slow execution does not move them: a pass's wall and CPU time
    are the sums of these medians, the latency percentiles are taken
    over them."""
    ops = list(op_medians(rec).values())
    wall = sum(ops)
    return {
        "setup_s": input_check_s + statistics.median(rec["session_s"]) + rec["warmup_s"],
        "wall_s": wall,
        "cpu_s": sum(op_medians(rec, "op_cpus").values()),
        "input_mb_s": input_bytes / 1048576.0 / wall,
        "query_p50_s": statistics.median(ops),
        "query_p90_s": statistics.quantiles(ops, n=10, method="inclusive")[8],
        "retained_heap_mb": rec["heap_mb"],
    }


def result(bench, values, trace, correct, attempted, failed):
    """The result object: every metric of the chosen kind, by name and unit.

    Per-layer metrics a workload does not touch read 0; a name the harness
    reports that BENCHMARK.json does not list is an error."""
    listed = bench["per_layer"] if trace else bench["end_to_end"]
    names = {m["name"] for m in listed}
    unknown = sorted(set(values) - names)
    if unknown:
        raise BenchError(f"metrics not in BENCHMARK.json: {unknown}")
    if not trace:
        missing = sorted(names - set(values))
        if missing:
            raise BenchError(f"end-to-end metrics not measured: {missing}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                    "unit": m["unit"]} for m in listed}}


# ------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    bench = spec()
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        raise BenchError(f"unknown workload {a.workload}")

    env = {k: v for k, v in os.environ.items() if k not in ISOLATE}
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classes = build(out)
    deadline = time.monotonic() + RUN_DEADLINE_S

    if a.workload == "ingest":
        def make(d):
            os.makedirs(d)
            run_java(java_cmd(out, classes, "perfbench.DumpGen",
                              [d, a.seed, DUMP_MB]), env, ROOT, deadline)
        inputs, gen_s, check_s = ensure_inputs(out, f"dump{DUMP_MB}", a.seed, make)
        with open(os.path.join(inputs, "tally.txt")) as f:
            tally = dict(l.strip().split("=", 1) for l in f if "=" in l)
        input_bytes = int(tally["xml_bytes"])
    else:
        inputs, gen_s, check_s = ensure_inputs(
            out, f"tables{TABLE_SCALE}", a.seed,
            lambda d: gen_tables.write(d, a.seed, TABLE_SCALE))
        input_bytes = sum(os.path.getsize(p)
                          for p in glob.glob(os.path.join(inputs, "*.parquet")))

    oracle_s = 0.0
    work = os.path.join(out, "work", str(os.getpid()))
    os.makedirs(work)
    probe_s = host_probe_s()
    t_jvm = time.perf_counter()
    ticks0 = cpu_ticks()
    try:
        lines = run_java(java_cmd(out, classes, "perfbench.Main",
                                  [a.workload, a.seconds, a.trace, inputs, work, cores]),
                         env, ROOT, deadline)
        line = next((l for l in reversed(lines) if l.startswith("PERFBENCH ")), None)
        if line is None:
            raise BenchError("the benchmark JVM printed no record")
        rec = json.loads(line[len("PERFBENCH "):])
        jvm_s = time.perf_counter() - t_jvm
        ticks1 = cpu_ticks()
        failed = rec["failed"] + rec["check_failures"]
        errors = list(rec["errors"])
        if a.workload == "queries":
            with open(os.path.join(work, "oracle_sql.json")) as f:
                sql = json.load(f)
            t_oracle = time.perf_counter()
            bad = oracle.compare(inputs, os.path.join(work, "results"), sql)
            oracle_s = time.perf_counter() - t_oracle
            failed += len(bad)
            errors += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        print(f"[perfbench] FAILED {e}", file=sys.stderr)
    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[:3]
    print(json.dumps({"env": {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": cores, "loadavg": loadavg,
        "input_bytes": input_bytes, "input_gen_s": round(gen_s, 3),
        "jvm_s": round(jvm_s, 3), "oracle_s": round(oracle_s, 3),
        "steal_share": round((ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1), 4),
        "host_sha256_64mb_s": round(probe_s, 4),
        "session_s": rec["session_s"], "warmup_s": round(rec["warmup_s"], 3),
        "check_s": round(rec["check_s"], 3), "passes": len(rec["walls"]),
        "pass_walls_s": [round(t, 3) for t in rec["walls"]],
        "pass_cpus_s": [round(t, 3) for t in rec["cpus"]],
        "operations": len(rec["latencies"]),
        "op_median_s": {n: round(t, 3) for n, t in op_medians(rec).items()}}}))
    values = rec["layers"] if a.trace else end_to_end(rec, input_bytes, check_s)
    correct = failed == 0
    print(json.dumps(result(bench, values, a.trace, correct,
                            rec["attempted"], failed)))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(2)
