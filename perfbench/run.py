#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The first run compiles the
program (`src/main/scala`) and the benchmark's JVM side
(`perfbench/scala`) into `.bench_build/`; later runs reuse the classes
while the sources are unchanged. Each run then generates its inputs from
the seed (`gen.py`), runs `graft.perfbench.Runner` in one JVM, checks
every recorded output against the generator's truth (or, for
`query_mix`, against the DuckDB oracle), and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (see README.md), as declared in BENCHMARK.json. All
files go under `.bench_build/`; a traced run leaves its operations and
spans in `.bench_build/traces/`.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170

# graft.Bench's headline entries that fit the run budget: one per module
# family, including the bindings Bench times (README.md lists the rest)
QUERY_ENTRIES = ("scan_parquet agg_group join_inner_hash join_bucketed map_contains "
                 "join_bbox_grid sim_topk_int8 text_bm25_topk").split()

# input sizes per workload (README.md records why)
LIFECYCLE = dict(n_dump=10000, n_files=8, backlog=8, diff_n=300, max_ticks=30,
                 lookups_per_tick=6)
QUERY_SF = 0.01
QUERY_DOCS, QUERY_VECS = int(50000 * QUERY_SF), int(20000 * QUERY_SF)
LAYER_DUMP, LAYER_DIFFS, LAYER_DOCS, LAYER_VECS = 10000, 3, 10000, 10000



def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jars_dir():
    """The Spark jars the build links against: build.sbt's unmanagedBase."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        fail(f"no Spark jars at {d!r}")
    return d


def build():
    """Compile the program and the benchmark; returns the classpath."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        fail("no program sources under src/main/scala: run from a source checkout")
    sources += sorted(glob.glob(os.path.join(BENCH, "scala/**/*.scala"), recursive=True))
    jars = jars_dir()
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"),
                          os.path.join(jars, "*")])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", os.path.join(jars, "*"), "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def heap():
    """The tier-1 driver heap: half the machine's memory, 2 to 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def generate(workload, seed, run, trace):
    """Write the run's inputs; returns what the checks need."""
    truth = {}
    if workload == "lifecycle":
        truth = gen.lifecycle(seed, run, **LIFECYCLE)
    elif workload == "query_mix":
        query_inputs(seed, run)
    if trace:
        layers = f"{run}/layers"
        gen.lifecycle(seed, layers, n_dump=LAYER_DUMP, n_files=4, backlog=LAYER_DIFFS,
                      diff_n=LIFECYCLE["diff_n"], max_ticks=0)
        query_inputs(seed, layers)
        gen.corpus(seed, f"{layers}/corpus", LAYER_DOCS, LAYER_VECS)
        with open(f"{layers}/n_dump.txt", "w") as f:
            f.write(f"{LAYER_DUMP}\n")
    return truth


def query_inputs(seed, out):
    """The tables and pass orders the query entries run on."""
    gen.tpch(seed, f"{out}/data", QUERY_SF)
    gen.corpus(seed, f"{out}/data", QUERY_DOCS, QUERY_VECS)
    gen.passes(seed, f"{out}/passes.txt", QUERY_ENTRIES)


def run_jvm(cp, workload, run, seconds, trace, budget):
    os.makedirs(f"{run}/tmp", exist_ok=True)
    cmd = (["java", f"-Xmx{heap()}", "-Xss8m", f"-Djava.io.tmpdir={run}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Runner", workload, run, str(seconds),
              str(int(trace))])
    with open(f"{run}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run)
        try:
            rc = p.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(f"{run}/jvm.log") as log:
            print(log.read()[-6000:], file=sys.stderr)
        fail(f"benchmark JVM ended with {rc}")


def setup_reps(ops):
    """Seconds of each set-up repetition (one or more `setup` records)."""
    reps = {}
    for o in ops:
        if o["kind"] == "setup":
            reps[o["key"]] = reps.get(o["key"], 0.0) + o["lat"]
    return list(reps.values())


def metrics(ops, info, trace):
    def by(kind):
        return [o for o in ops if o["kind"] == kind]
    if trace:
        m = dict(info["layers"])
        m["session.start_s"] = info["session_start_s"]
        m["jvm.peak_rss_mb"] = info["peak_rss_mb"]
        m["jvm.gc_s"] = info["jvm_gc_s"]
        m["jvm.jit_s"] = info["jvm_jit_s"]
        for kind in ("main", "probe"):
            t = [o["lat"] for o in by(kind) if o["traced"]]
            u = [o["lat"] for o in by(kind) if not o["traced"]]
            m[f"{kind}.overhead_s"] = statistics.median(t) - statistics.median(u)
        return m
    return {
        "setup_s": statistics.median(setup_reps(ops)),
        "main_p50_s": statistics.median(o["lat"] for o in by("main")),
        "probe_p50_s": statistics.median(o["lat"] for o in by("probe")),
        "retained_heap_mb": info["retained_heap_mb"],
        "stored_mb": info["stored_mb"],
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["lifecycle", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    cp, stamp = build()
    t_start = time.time()
    run = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    try:
        truth = generate(a.workload, a.seed, run, a.trace)
        run_jvm(cp, a.workload, run, a.seconds, a.trace,
                DEADLINE_S - (time.time() - t_start))
        with open(f"{run}/ops.jsonl") as f:
            ops = [json.loads(l) for l in f]
        with open(f"{run}/run.json") as f:
            info = json.load(f)
        failed = checks.check(a.workload, run, ops, truth)
        values = metrics(ops, info, a.trace)
        for o in failed:
            print(f"perfbench: failed {o['kind']} {o['name']} {o['key']}: {o['why']}",
                  file=sys.stderr)
        print(json.dumps({"info": {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "nproc": info["cores"], "heap_max_mb": info["heap_max_mb"],
            "spark": info["spark_version"], "conf": info["conf"], "commit": commit(),
            "source_digest": stamp,
            "ops": {k: sum(1 for o in ops if o["kind"] == k)
                    for k in ("setup", "warmup", "main", "probe", "check")}}}))
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            for f in ("ops.jsonl", "spans.jsonl"):
                shutil.copy(f"{run}/{f}", f"{traces}/{a.workload}-{a.seed}.{f}")
        declared = declared_metrics("per_layer" if a.trace else "end_to_end")
        missing = sorted(set(declared) - set(values))
        if missing:
            fail(f"metrics not measured: {missing}")
        print(json.dumps({
            "correct": not failed, "attempted": len(ops), "failed": len(failed),
            "metrics": {k: {"value": values[k], "unit": u} for k, u in declared.items()}}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


def declared_metrics(group):
    """name -> unit of one metric group in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[group]}


def commit():
    """The checkout's git commit, when it is a git work tree."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


if __name__ == "__main__":
    main()
