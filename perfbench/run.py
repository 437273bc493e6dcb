#!/usr/bin/env python3
"""Benchmark of the recipe-analytics Spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 10 --trace 0

One invocation runs one workload (see workloads.json) in one JVM at
local[<nproc>], with one closed-loop client: each operation starts when
the previous one has finished. It builds the program from source on first
use (into .bench_build/), makes its inputs from --seed, checks every
output, and prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. Diagnostics go to stderr. The exit
code is 0 when every output was right, 1 when one was wrong or an
operation failed, 2 when the benchmark could not run at all.

--refresh-expected recomputes expected.json for a registry workload: it
runs each query's DuckDB oracle on the generated tables, keeps the values
where Spark's answer agrees, and reports the queries where it does not.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
MAX_RUN_S = 170  # the JVM is stopped past this, so a run ends within 180 s
JVM_HEAP = "2g"
# Scale factor of the registry tables; expected.json holds their answers.
SF = 0.01
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark with sbt; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("program sources (build.sbt, src/main) not found in the working directory")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    log("building the program and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    cp = [ln for ln in proc.stdout.splitlines()
          if not ln.startswith("[") and ".jar" in ln and os.pathsep in ln]
    if not cp:
        die("build printed no classpath")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    log(f"build took {time.time() - t0:.0f} s")
    return cp[-1]


def inputs_digest(work):
    """sha256 over the generated inputs of a run: document contents, or
    the query order."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(work)):
        rel = os.path.relpath(d, work)
        if rel.startswith(("tmp", "spark-local")):
            continue
        for f in sorted(fs):
            if f.endswith((".json", ".txt")) and not f.startswith("."):
                h.update(rel.encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run_jvm(classpath, args, work, expect_output=True):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    out = os.path.join(work, "run.json")
    cmd += ["-cp", classpath, "perfbench.Main"] + args + [
        "--work", work, "--out", out, "--spawn-ms", repr(time.time() * 1000.0)]
    # The JVM's stdout is diagnostics too: keep our stdout for the result.
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=MAX_RUN_S)
    except subprocess.TimeoutExpired:
        die(f"JVM did not finish within {MAX_RUN_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or (expect_output and not os.path.exists(out)):
        die(f"JVM exited with code {code}")
    if not expect_output:
        return None
    with open(out) as f:
        return json.load(f)


def end_to_end(run):
    timed = [p for p in run["passes"] if not p["traced"]]

    def per_pass(f):
        """Median over the timed passes of f(op) summed over each pass, in s."""
        return statistics.median([sum(f(op) for op in p["ops"]) / 1e3 for p in timed])
    wall = [(op["end_ms"] - op["start_ms"]) / 1e3 for p in timed for op in p["ops"]]
    log(f"{len(timed)} timed passes: {per_pass(lambda op: op['end_ms'] - op['start_ms']):.3f} s"
        f" wall per pass, median operation {statistics.median(wall):.3f} s; host steal"
        f" {100 * run['steal_share']:.1f}% of CPU time while they ran")
    return {
        "setup_s": run["setup_s"],
        "driver_s": per_pass(lambda op: op["driver_cpu_ms"]),
        "task_s": per_pass(lambda op: op["task_cpu_ms"]),
        "peak_rss_mb": run["peak_rss_kb"] / 1024.0,
    }


def main():
    # A terminated run still stops its JVM (run_jvm's finally) and cleans up.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refresh-expected", action="store_true")
    ap.add_argument("--inputs-only", action="store_true",
                    help="generate the seed's inputs, print their sha256 and stop")
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json not found in the working directory")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    config = load_json("workloads.json")["workloads"]
    if a.workload not in config:
        die(f"unknown workload {a.workload}; known: {', '.join(config)}")
    wl = config[a.workload]
    classpath = build()

    n = len(os.sched_getaffinity(0))  # what nproc prints
    data = os.path.join(BUILD, "data", f"sf{SF}")
    tables.write(SF, data)
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(n), "--data", data]
    if wl["kind"] == "recipes":
        d = wl["docs"]
        args += ["--docs", f"{d['users']},{d['recipes']},{d['interactions']}"]
    else:
        args += ["--queries", ",".join(wl["queries"])]
    if a.inputs_only:
        try:
            run_jvm(classpath, args + ["--inputs-only", "1"], work, expect_output=False)
            print(inputs_digest(work))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return
    try:
        run = run_jvm(classpath, args, work)
        verify = os.path.join(work, "verify")
        if wl["kind"] == "recipes":
            run["queries"] = sorted(run["oracles"])
            wrong = checks.recipes(run, verify)
        else:
            run["queries"] = wl["queries"]
            if a.refresh_expected:
                refresh(run, data, verify)
            expected = load_json("expected.json").get(f"sf{SF}", {})
            wrong = checks.registry(run, verify, expected)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    log(f"set-up {run['setup_s']:.1f} s: session {(run['session_ready_ms'] - run['spawn_ms']) / 1e3:.1f}"
        f" s, fixtures {run['stage_ms'] / 1e3:.1f} s, verification pass {run['verify_ms'] / 1e3:.1f}"
        f" s, warm-up pass {run['warm_ms'] / 1e3:.1f} s; input generation"
        f" {run['generation_ms'] / 1e3:.1f} s (not in set-up)")
    for msg in wrong:
        log(f"WRONG {msg}")
    ops = [op for p in run["passes"] for op in p["ops"]]
    thrown = [op for op in ops if op["error"]]
    miscounted = []
    if wl["kind"] == "recipes":
        docs = run["expected_docs"]
        want = sum(docs[t] for t in ("users", "recipes", "ingredients", "steps", "interactions"))
        miscounted += [op for op in ops if op["name"] == "etl" and not op["error"]
                       and op["result"] != want]
    attempted = run["fixtures"] + len(run["queries"]) + (wl["kind"] == "recipes") + len(ops)
    failed = (len(run["fixtures_failed"]) + len(run["verify_failed"]) + len(wrong)
              + len(thrown) + len(miscounted))
    log(f"failed_frac = {failed}/{attempted} = {failed / attempted:.4f}")

    if a.trace:
        docs = None
        if wl["kind"] == "recipes":
            docs = sum(run["expected_docs"][t] for t in ("users", "recipes", "interactions"))
        metrics = layers.per_layer(run, docs)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        sp = layers.spans(run)
        selfs = layers.self_times(sp)
        for s in sp:
            s["self_ms"] = selfs[s["id"]]
        with open(os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(sp, f)
        declared = bench["per_layer"]
    else:
        metrics = end_to_end(run)
        declared = bench["end_to_end"]
        if wl["kind"] == "recipes":
            etl = [op["end_ms"] - op["start_ms"] for p in run["passes"] for op in p["ops"]
                   if op["name"] == "etl"]
            docs = sum(run["expected_docs"][t] for t in ("users", "recipes", "interactions"))
            etl_s = statistics.median(etl) / 1e3
            log(f"etl_docs_per_s = {docs / etl_s:.0f} ({docs} documents, "
                f"median RecipeEtl.run {etl_s:.3f} s)")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                          for m in declared}}
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


def refresh(run, data, verify):
    """Store the oracle's answer for every query where Spark agrees."""
    oracle = checks.oracle_digests(data, run["oracles"])
    con = checks.duckdb.connect()
    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        stored = json.load(f)
    section = stored.setdefault(f"sf{SF}", {})
    for name in run["queries"]:
        want = oracle.get(name, "no oracle registered")
        if isinstance(want, str):
            log(f"REFRESH {name}: {want}")
            continue
        got = stats.digest(*checks.spark_output(con, f"{verify}/{name}"))
        if got != want:
            log(f"REFRESH {name}: Spark ({got['rows']} rows) disagrees with the oracle "
                f"({want['rows']} rows); not stored")
            continue
        section[name] = want
    with open(path, "w") as f:
        json.dump(stored, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
