#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload analytics|lakehouse|curation \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds graft plus the benchmark's JVM program
(perfbench/jvm) with sbt when their sources are newer than the last build,
generates the seeded inputs, runs the workload in one JVM, checks the
outputs against computations made apart from graft (check.py), and prints
one JSON object as the last line of standard output. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (listeners attached).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("analytics", "lakehouse", "curation")
# Seconds of timed work one unit (a pass over the query mix, a lakehouse
# round, a pass over the curation stages) takes on the reference host; the
# number of units is fixed from --seconds with these, never from the clock,
# so every run of a given --seconds does the same work.
SECONDS_PER_UNIT = {"analytics": 5.0, "lakehouse": 16.0, "curation": 15.0}
JVM_TIMEOUT_S = 165
KNN_RECALL_MIN = 0.9
MINHASH_RECALL_MIN = 1.0
TEXT_STAGES = {"exact", "canonical", "jaccard", "minhash", "simhash", "clusters", "apply", "contam"}
VECTOR_STAGES = {"knn", "semdedup"}

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
JVM_DIR = os.path.join(HERE, "jvm")
SPEC_FILE = os.path.join(ROOT, "BENCHMARK.json")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every source path, size and mtime the build depends on."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(JVM_DIR, "src"),
             os.path.join(JVM_DIR, "build.sbt"), os.path.join(JVM_DIR, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles graft's main sources with the JVM program, offline, when stale.
    Returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("graft sources not found under src/main/scala: run from the repository root")
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx3g"]
    if os.path.isfile(repo_cfg):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log("building graft + the benchmark's JVM program (sbt, offline)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=JVM_DIR, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def jvm_cmd(cp, args, work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xms3g", "-Xmx3g"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
            "-cp", cp, "graftbench.Main"] + args
    return cmd


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(SPEC_FILE):
        fail("BENCHMARK.json not found: run from the repository root")
    spec = json.load(open(SPEC_FILE))["per_layer" if a.trace else "end_to_end"]

    t_build0 = time.time()
    cp = build()
    build_s = time.time() - t_build0
    units = max(1, round(a.seconds / SECONDS_PER_UNIT[a.workload]))

    # the run's own tmpdir, Spark local dirs and table roots, emptied first
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("input", "tmp", "spark-local", "warehouse", "out"):
        os.makedirs(os.path.join(WORK, d))
    inp, jout = os.path.join(WORK, "input"), os.path.join(WORK, "out")
    try:
        gen.generate(a.workload, a.seed, inp, units)
        log(f"inputs generated after {time.time() - T_START:.1f} s")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--units", str(units),
                "--cpus", str(len(os.sched_getaffinity(0))), "--trace", str(a.trace),
                "--input", inp, "--work", WORK, "--out", jout]
        with open(os.path.join(WORK, "jvm.log"), "w") as jlog:
            p = subprocess.Popen(jvm_cmd(cp, args, WORK), stdout=jlog, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S - (time.time() - T_START - build_s))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail("workload JVM timed out")
        if rc != 0 or not os.path.isfile(os.path.join(jout, "result.json")):
            sys.stderr.write(open(os.path.join(WORK, "jvm.log")).read()[-6000:])
            fail(f"workload JVM exited with {rc}")
        res = json.load(open(os.path.join(jout, "result.json")))
        setup_s = res["first_op_epoch_ms"] / 1000.0 - t_build0 - build_s
        outputs = res["outputs"]
        if a.workload == "analytics":
            fails = check.check_analytics(inp, jout, outputs)
        elif a.workload == "lakehouse":
            fails = check.check_lakehouse(inp, outputs)
        else:
            fails = check.check_curation(inp, jout, outputs, KNN_RECALL_MIN, MINHASH_RECALL_MIN)
        figs, total_fails = figures(a.workload, res, setup_s, inp)
        fails += total_fails
        for f in fails:
            log(f"CHECK FAILED: {f}")
        for e in res["errors"]:
            log(f"operation failed: {e}")
        keep = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("result.json", "spans.json"):
            shutil.copy(os.path.join(jout, f), keep)
        shutil.copy(os.path.join(WORK, "jvm.log"), keep)
        result = {"correct": not fails, "attempted": res["attempted"], "failed": res["failed"],
                  "metrics": {m["name"]: {"value": figs.get(m["name"], 0.0), "unit": m["unit"]}
                              for m in spec}}
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))


def samples(res, kind):
    return [o["ms"] for o in res["ops"] if o["ok"] and o["kind"] == kind]


def median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def figures(workload, res, setup_s, inp):
    """Every figure a run can report, by metric name; BENCHMARK.json picks
    the end-to-end and per-layer ones. Figures of a layer the workload does
    not reach are absent and print as 0. Also returns the failures of the
    traced lakehouse run's independent totals."""
    f = {"setup_s": setup_s, "wall_s": res["wall_s"], "cpu_s": res["cpu_s"],
         "retained_heap_mb": res["retained_heap_mb"],
         "op_geomean_ms": geomean([o["ms"] for o in res["ops"] if o["ok"]]),
         "jvm.gc_ms": res["gc_ms"], "jvm.jit_ms": res["jit_ms"]}
    lay = res["layers"]
    f.update(lay)
    fails = []
    by_name = {}
    for o in res["ops"]:
        if o["ok"]:
            by_name.setdefault(o["name"], []).append(o["ms"])
    out = res["outputs"]
    if workload == "analytics":
        f["query_p50_ms"] = median_or_zero(samples(res, "query"))
    elif workload == "lakehouse":
        f["commit_p50_ms"] = median_or_zero(samples(res, "commit"))
        f["snapshot_read_p50_ms"] = median_or_zero(samples(res, "read"))
        f["tail_p50_ms"] = median_or_zero(samples(res, "tail"))
        st = out["store"]
        f["bytes_written_mb"] = st["bytes_added"] / 2**20
        for fmt in ("graft", "delta", "iceberg"):
            for op in ("append", "merge", "update", "delete", "read", "maint"):
                f[f"{fmt}.{op}_ms"] = median_or_zero(by_name.get(f"{fmt}.{op}", []))
        f["iceberg.read_files"] = median_or_zero(out["iceberg_read_files"])
        f["store.files_added"] = st["files_added"]
        f["store.data_bytes"] = st["data_bytes"]
        f["store.log_bytes"] = st["log_bytes"]
        if lay:
            # rows in the data files the timed rounds added, from their footers
            rewritten = sum(pq.ParquetFile(p).metadata.num_rows for p in st["data_files"])
            states, appended, per_round = check.lakehouse_model(inp, out["rounds"])
            timed = [r for r in per_round if r > 1]    # round 1 is the untimed warm-up
            f["store.rows_rewritten"] = rewritten
            changed = 3 * sum(per_round[r] for r in timed)
            f["store.rewrite_yield"] = changed / rewritten if rewritten else 0.0
            # independent totals: rows read back through the three readers vs
            # the model, and rows streamed per Spark's progress events vs the
            # rows the model says the timed rounds appended (two tails)
            got = sum(d["digest"][0] for d in out["digests"]
                      if d["snapshot"] == "current" and d["digest"])
            want = 3 * sum(states[r][0] for r in range(1, out["rounds"] + 1))
            if got != want:
                fails.append(f"rows read back {got} vs model {want}")
            want = 2 * sum(len(appended[r]) for r in timed)
            if lay["stream.rows"] != want:
                fails.append(f"streamed rows {lay['stream.rows']:.0f} vs model {want}")
            # Spark's task output rows/bytes should match the data files, but
            # graft's writer does not report them (see README): logged, not
            # counted as a wrong output
            if rewritten != lay["output.rows"]:
                log(f"task output rows {lay['output.rows']:.0f} vs {rewritten} rows in the "
                    f"added data files; task output bytes {lay['output.bytes']:.0f} vs "
                    f"{st['data_bytes']} data-file bytes")
    else:
        passes = out["passes"]
        stage_s = lambda names: sum(sum(by_name.get(f"cur.{n}", [])) for n in names) / 1000
        f["docs_per_s"] = out["docs"] * passes / stage_s(TEXT_STAGES)
        f["vectors_per_s"] = out["vectors"] * passes / stage_s(VECTOR_STAGES)
        for n in (TEXT_STAGES | VECTOR_STAGES) - {"canonical"}:
            f[f"cur.{n}_ms"] = stage_s([n] + (["canonical"] if n == "exact" else [])) * 1000
        if lay:
            c = lay["cur.pair_candidates"]
            f["cur.pair_yield"] = lay["cur.pair_verified"] / c if c else 0.0
    return f, fails


if __name__ == "__main__":
    main()
