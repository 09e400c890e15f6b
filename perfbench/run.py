#!/usr/bin/env python3
"""The engine's benchmark: one command, four workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the root of a checkout. It compiles the program's sources
(`src/main/scala`) and the benchmark's own (`perfbench/scala`) with the Scala
compiler that ships with the Spark jars, into `.bench_build/`; makes the
workload's inputs from the seed (cached per seed); runs the workload in one
fresh JVM at local[nproc]; checks every output the run wrote; and prints one
JSON record as the last line of stdout. With `--trace 0` the record holds the
end-to-end metrics of BENCHMARK.json, with `--trace 1` the per-layer ones;
a traced run also leaves its spans in `.bench_build/traces/`.

    python3 perfbench/run.py --rebuild-oracles   # refill the oracle cache

Workloads (README.md says why each exists and how its items were chosen):
  sql_queries        plain DuckDB-oracled queries over the sf0.1 corpus
  iterative_queries  queries that fire Spark jobs while their DataFrame is built
  lake_jobs          JobRunner pipelines over a generated dated CMS lake
  stream_admit       closed-loop micro-batches into the indexed curated store
"""
import argparse
import glob
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
JARS = "/opt/spark/jars"
# The read-only corpora the DuckDB oracles are written against.
CORPUS = {"sql_queries": "/root/testdata/sf0.1",
          "iterative_queries": "/root/testdata/sf0.1"}
HEAP = "3g"
# what one JVM may take beyond --seconds (and 720 s more when it compiled)
JVM_SECONDS = 150

# Chosen once by the rule in README.md; neither list depends on --seed.
SQL_QUERIES = ["q53_multimodal_features", "q50_text_quality", "q23_date_parts",
               "q82_mixture_weights", "q59_stratified_sample"]
ITERATIVE_QUERIES = ["q292_classifier_gate", "q156_zipf_profile",
                     "q203_cluster_agreement"]
QUERY_LISTS = {"sql_queries": SQL_QUERIES,
               "iterative_queries": ITERATIVE_QUERIES}
WORKLOADS = list(QUERY_LISTS) + ["lake_jobs", "stream_admit"]

ADD_OPENS = [a for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ------------------------------------------------------------------ build

def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(srcs, classpath, out):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(BUILD, "scalac-args.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    compiler = ":".join(os.path.join(JARS, "scala-%s-2.13.17.jar" % j)
                        for j in ("compiler", "library", "reflect"))
    code = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
                           "scala.tools.nsc.Main", "-nowarn", "-classpath",
                           classpath, "-d", tmp, "@" + args],
                          stdout=sys.stderr).returncode
    if code != 0:
        fail("compiling into %s failed" % out)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compiles the program, then the benchmark against it; a stamp of the
    sources skips either step when nothing changed. True if it compiled."""
    program = _sources(os.path.join(ROOT, "src", "main", "scala"))
    if not program:
        fail("no program sources under %s/src/main/scala" % ROOT)
    bench = _sources(os.path.join(HERE, "scala"))
    jars = ":".join(sorted(glob.glob(os.path.join(JARS, "*.jar"))))
    if not jars:
        fail("no Spark jars under %s" % JARS)
    os.makedirs(BUILD, exist_ok=True)
    classes = os.path.join(BUILD, "classes")
    bench_classes = os.path.join(BUILD, "bench-classes")
    built = False
    for srcs, cp, out in [(program, jars, classes),
                          (program + bench, jars + ":" + classes,
                           bench_classes)]:
        stamp_file = out + ".stamp"
        stamp = _stamp(srcs)
        if os.path.isdir(out) and os.path.exists(stamp_file) and \
                open(stamp_file).read() == stamp:
            continue
        t0 = time.time()
        log("compiling %d sources into %s" % (len(srcs), out))
        _scalac(srcs if out == classes else bench, cp, out)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log("compiled in %.1f s" % (time.time() - t0))
        built = True
    return [bench_classes, classes, os.path.join(JARS, "*")], built


# ------------------------------------------------------------------ inputs

def inputs(workload, seed):
    """Directory of the seed's generated inputs, made once per seed."""
    sys.path.insert(0, HERE)
    import gen
    make = {"lake_jobs": ("lake", gen.make_lake),
            "stream_admit": ("stream", gen.make_stream)}.get(workload)
    if make is None:
        return None
    gen_stamp = _stamp([os.path.join(HERE, "gen.py")])[:12]
    root = os.path.join(BUILD, "inputs")
    dst = os.path.join(root, "%s-%d-%s" % (make[0], seed, gen_stamp))
    if not os.path.exists(os.path.join(dst, "manifest.json")):
        tmp = dst + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make[1](seed, tmp)
        shutil.rmtree(dst, ignore_errors=True)
        os.rename(tmp, dst)
        kept = sorted(glob.glob(os.path.join(root, "*")),
                      key=os.path.getmtime)
        for old in kept[:-24]:
            shutil.rmtree(old, ignore_errors=True)
    return dst


# ------------------------------------------------------------------ run

def run_jvm(classpath, args, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + ADD_OPENS + [
        "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", ":".join(classpath), "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=ROOT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the JVM ran past %d s; log in %s/jvm.log" % (timeout, work))
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("the JVM exited with %d" % code)


def check(workload, work, data):
    import check as c
    out = os.path.join(work, "out")
    if workload in QUERY_LISTS:
        cache = c.OracleCache(os.path.join(BUILD, "oracle-cache"),
                              CORPUS[workload])
        return c.check_queries(out, QUERY_LISTS[workload], cache)
    if workload == "lake_jobs":
        return c.check_lake(out, data)
    return c.check_stream(out, data)


def metric_specs(traced):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if traced else "end_to_end"]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rebuild-oracles", action="store_true")
    a = ap.parse_args(argv)
    if a.rebuild_oracles:
        return rebuild_oracles()
    if not a.workload:
        ap.error("--workload is required")
    start = time.time()
    classpath, built = build()
    data = inputs(a.workload, a.seed)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(len(os.sched_getaffinity(0))),
            "--work", work, "--result", result]
    if a.workload in QUERY_LISTS:
        sf = CORPUS[a.workload]
        if not os.path.exists(os.path.join(sf, "lineitem.parquet")):
            fail("no corpus at %s" % sf)
        args += ["--sf", sf, "--items", ",".join(QUERY_LISTS[a.workload])]
    else:
        args += ["--lake" if a.workload == "lake_jobs" else "--stream", data]
    budget = JVM_SECONDS + a.seconds + (720 if built else 0) \
        - (time.time() - start)
    run_jvm(classpath, args, work, budget)
    jvm_done = time.time()
    with open(result) as f:
        rec = json.load(f)
    problems = check(a.workload, work, data)
    log("jvm ended %.1f s after start, check took %.1f s"
        % (jvm_done - start, time.time() - jvm_done))
    for p in problems:
        log("INCORRECT %s" % p)
    for f in rec["failures"]:
        log("FAILED %s: %s" % (f["item"], f["class"]))
    if a.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        stem = os.path.join(traces, "%s-seed%d" % (a.workload, a.seed))
        shutil.copy(result, stem + ".json")
        shutil.copy(os.path.join(work, "trace.jsonl"), stem + ".spans.jsonl")
    values = rec["per_layer"] if a.trace else rec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]}
               for m in metric_specs(a.trace)}
    print(json.dumps({
        "correct": not problems and all(
            v["value"] is not None for v in metrics.values()),
        "attempted": rec["attempted"], "failed": rec["failed"],
        "metrics": metrics}))
    return 0


def rebuild_oracles():
    """Drops the oracle cache and recomputes the digest of every query the
    query workloads hold."""
    import check as c
    classpath, _ = build()
    cache_dir = os.path.join(BUILD, "oracle-cache")
    shutil.rmtree(cache_dir, ignore_errors=True)
    for workload, items in QUERY_LISTS.items():
        work = os.path.join(BUILD, "work", "oracles")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        sql_file = os.path.join(work, "oracle_sql.json")
        run_jvm(classpath, ["--workload", "oracle_sql", "--items",
                            ",".join(items), "--result", sql_file], work, 120)
        with open(sql_file) as f:
            sql = json.load(f)
        cache = c.OracleCache(cache_dir, CORPUS[workload])
        for q in items:
            t0 = time.time()
            cache.digest(sql[q])
            log("%s %s %.1f s" % (workload, q, time.time() - t0))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main(sys.argv[1:]))
