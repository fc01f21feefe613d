#!/usr/bin/env python3
"""yamrspark benchmark: seeded batch jobs on a local Spark session.

    python3 perfbench/run.py --workload wordcount --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --list-metrics

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Inputs are generated per (workload, seed) by
gen.py and cached, and so are the DuckDB oracle answers; neither is timed.

Each run is one client running one job at a time (a closed loop) on
local[nproc], in one fresh JVM. Set-up is timed from the JVM's launch to
the end of its first (cold) job; then come a fixed number of warm-up jobs
and about --seconds worth of measured jobs (see JOB_S). Every job's result
is checked. The last line of standard output is the JSON result; a
readable summary goes to stderr and the full record of the run to
.perfbench/artifacts/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("wordcount", "near_dedup")
# Jobs after the cold one that run untimed, and a nominal job time (the
# first warm jobs on a 4-core VM). A run measures round(--seconds / JOB_S)
# jobs (at least one), so every run of a workload times the same jobs at the
# same stage of JIT warm-up; a time-boxed loop would time fewer, colder jobs
# under load. A wordcount job settles by its fifth run.
WARMUP_JOBS = {"wordcount": 4, "near_dedup": 1}
JOB_S = {"wordcount": 1.75, "near_dedup": 7.25}
# Declared queries whose DuckDB oracle answers a workload is checked
# against: its job's, and (traced runs only) the crawl chain's.
ORACLE_QUERY = {"near_dedup": "q51_dedup_pipeline"}
CHAIN_QUERY = "q93d_crawl_chain_http"
HEAP = "3g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

CHAIN_STAGES = ("warc_parse", "http_gate", "main_nfc", "host_gate", "path_gate",
                "langid_gate", "quality_gate", "decontaminate", "near_dedup",
                "paragraph_dedup", "span_dedup", "epoch_mix")

# name -> (unit, better). End-to-end metrics come from untraced jobs.
END_TO_END = {
    "job_s": ("s", "lower"),
    "input_mb_s": ("MB/s", "higher"),
    "cpu_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
}
# Per-layer metrics come from the traced half of a --trace 1 run. A layer
# a workload does not go through reports 0.
PER_LAYER = {
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.eager_jobs": ("count", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.task_busy_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.core_util": ("ratio", "higher"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "sources.scan_s": ("s", "lower"),
    "sources.input_mb": ("MB", "higher"),
    "sources.rows": ("count", "higher"),
    "mr.map_reduce_s": ("s", "lower"),
    "mr.map_pairs": ("count", "higher"),
    "mr.shuffle_records": ("count", "lower"),
    "mr.distinct_keys": ("count", "higher"),
    "mr.combine_ratio": ("ratio", "lower"),
    "sink.write_s": ("s", "lower"),
    "sink.fetch_s": ("s", "lower"),
    "sink.written_mb": ("MB", "lower"),
    "sink.regions": ("count", "higher"),
    "curation.shingle_rows": ("count", "lower"),
    "curation.minhash_candidates_s": ("s", "lower"),
    "curation.candidate_pairs": ("count", "lower"),
    "curation.jaccard_confirm_s": ("s", "lower"),
    "curation.confirmed_pairs": ("count", "higher"),
    "curation.cc_s": ("s", "lower"),
    "curation.docs_kept": ("count", "higher"),
    "curation.candidate_precision": ("ratio", "higher"),
}
for _st in CHAIN_STAGES:
    PER_LAYER[f"chain.{_st}_s"] = ("s", "lower")
    PER_LAYER[f"chain.{_st}_rows"] = ("count", "higher")
PER_LAYER.update({
    "functions.warc_parse_mb_s": ("MB/s", "higher"),
    "functions.main_nfc_mb_s": ("MB/s", "higher"),
    "trace.job_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.span_pass_s": ("s", "lower"),
})


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compiles engine + benchmark once per source stamp; returns the
    launch prefix (java + flags + classpath) and the oracle SQL dir."""
    out = os.path.join(WORK, "build", source_stamp())
    launch = os.path.join(out, "launch.txt")
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.join(out, "tmp"))
        env = dict(os.environ, COURSIER_MODE="offline")
        repo_cfg = os.path.expanduser("~/.sbt/repositories")
        # sbt keeps its default temp dir: it binds a unix socket there, and
        # socket paths are limited to ~100 bytes, which a checkout-relative
        # path can exceed
        sbt = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
               "-Dsbt.server.autostart=false"]
        if os.path.exists(repo_cfg):
            sbt += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
        log("building engine and benchmark with sbt")
        t0 = time.monotonic()
        with open(os.path.join(out, "sbt.log"), "w") as lf:
            r = subprocess.run(sbt + ["perfbench/launchFile"], cwd=BENCH, env=env,
                               stdout=lf, stderr=subprocess.STDOUT,
                               timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            fail(f"sbt build failed, see {out}/sbt.log")
        shutil.copy(os.path.join(BENCH, "target", "launch.txt"), launch)
        log(f"built in {time.monotonic() - t0:.1f} s")
        jvm = java_cmd(launch, os.path.join(out, "tmp"))
        r = subprocess.run(jvm + ["oracle-sql", os.path.join(out, "oracle_sql")],
                           cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                           timeout=JVM_TIMEOUT_S)
        if r.returncode != 0:
            fail("oracle SQL dump failed: " + r.stderr.decode(errors="replace")[-2000:])
        open(os.path.join(out, "ok"), "w").close()
    return launch, os.path.join(out, "oracle_sql")


def java_cmd(launch, tmp):
    with open(launch) as fh:
        lines = fh.read().splitlines()
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
            + lines[1:] + ["-cp", lines[0], "graft.perfbench.Main"])


# ---------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Generated input dir for (workload, seed), made once and cached."""
    d = os.path.join(WORK, "data", workload, f"seed-{seed}")
    if not os.path.exists(os.path.join(d, "meta.json")):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        t0 = time.monotonic()
        r = subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), "--workload",
                            workload, "--seed", str(seed), "--out", tmp],
                           stdout=subprocess.DEVNULL)
        if r.returncode != 0:
            fail("input generation failed")
        os.rename(tmp, d)
        log(f"generated {workload} seed {seed} in {time.monotonic() - t0:.1f} s")
    return d


def oracle(query, data, sql_dir):
    """The declared DuckDB oracle's answer on this input, canonical TSV
    (columns by name, values as text, rows sorted), cached per SQL text."""
    with open(os.path.join(sql_dir, query + ".sql")) as fh:
        sql = fh.read()
    path = os.path.join(data, f"oracle-{hashlib.sha256(sql.encode()).hexdigest()[:12]}.tsv")
    if not os.path.exists(path):
        import duckdb
        t0 = time.monotonic()
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute("SET enable_progress_bar = false")
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('"
                    + os.path.join(data, "documents.parquet").replace("'", "''") + "')")
        cur = con.execute(sql)
        names = [c[0] for c in cur.description]
        order = sorted(range(len(names)), key=lambda i: names[i])
        rows = sorted("\t".join("\\N" if r[i] is None else str(r[i]) for i in order)
                      for r in cur.fetchall())
        con.close()
        if not rows:
            fail(f"{query} oracle returned no rows")
        with open(path + ".tmp", "w", encoding="utf-8") as fh:
            fh.write("".join(r + "\n" for r in rows))
        os.rename(path + ".tmp", path)
        log(f"oracle {query} ran in {time.monotonic() - t0:.1f} s")
    return path


# ---------------------------------------------------------------- runs

def jvm_run(jvm, args, out, log_path):
    """Runs the JVM once and returns its JSON record."""
    # Spark's scratch space stays inside the run's own directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.dirname(out))
    cmd = jvm + ["run"] + args + ["--launched-ns", str(time.time_ns()), "--out", out]
    with open(log_path, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM timed out after {JVM_TIMEOUT_S} s, see {log_path}")
    if r.returncode != 0 or not os.path.exists(out):
        fail(f"JVM exited with {r.returncode}, see {log_path}")
    with open(out) as fh:
        return json.load(fh)


def summarize(label, xs, unit):
    if not xs:
        return
    q = statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3
    log(f"{label:<12} median {q[1]:.4f} {unit}  quartiles {q[0]:.4f}..{q[2]:.4f}  "
        f"n={len(xs)}")


def end_to_end(rec):
    jobs = rec["jobs"]
    job_s = median([j["wall_s"] for j in jobs])
    summarize("job_s", [j["wall_s"] for j in jobs], "s")
    summarize("cpu_s", [j["cpu_s"] for j in jobs], "s")
    log(f"setup_s      {rec['setup_s']:.4f} s (session up after {rec['session_s']:.4f} s)")
    return {
        "job_s": job_s,
        "input_mb_s": rec["input_bytes"] / 1e6 / job_s,
        "cpu_s": median([j["cpu_s"] for j in jobs]),
        "setup_s": rec["setup_s"],
    }


def per_layer(rec):
    traced = rec["traced_jobs"]
    passes = rec["span_passes"]
    m = {}
    for k in PER_LAYER:
        if k.startswith("spark."):
            m[k] = median([j["spark"][k] for j in traced])
        else:
            m[k] = median([p["metrics"][k] for p in passes if k in p["metrics"]])
    m["trace.job_s"] = median([j["wall_s"] for j in traced])
    m["trace.overhead_s"] = m["trace.job_s"] - median([j["wall_s"] for j in rec["jobs"]])
    m["trace.span_pass_s"] = median([p["wall_s"] for p in passes])
    return m


def check_catalog():
    """BENCHMARK.json, when present, must declare exactly this catalog."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        spec = json.load(fh)
    declared = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    if declared != END_TO_END or layers != PER_LAYER:
        fail("BENCHMARK.json metrics differ from run.py's catalog")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        fail("BENCHMARK.json workloads differ from run.py's")


def main():
    ap = argparse.ArgumentParser(description="yamrspark benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list-metrics", action="store_true",
                    help="print every metric with its unit and exit")
    a = ap.parse_args()
    if a.list_metrics:
        for group, cat in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
            for k, (unit, better) in cat.items():
                print(f"{group:<10} {k:<34} {unit:<6} {better} is better")
        return
    if a.workload is None:
        ap.error("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a yamrspark checkout (no build.sbt / src/main/scala/graft)")
    check_catalog()

    started = time.time()
    load_before = os.getloadavg()
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)  # the session's shuffle partitions
    launch, sql_dir = build()
    data = inputs(a.workload, a.seed)
    args = ["--workload", a.workload, "--data", data, "--cores", str(cores)]
    if a.workload in ORACLE_QUERY:
        args += ["--oracle", oracle(ORACLE_QUERY[a.workload], data, sql_dir)]
        if a.trace:
            args += ["--chain-oracle", oracle(CHAIN_QUERY, data, sql_dir)]

    run_id = time.strftime("%Y%m%dT%H%M%S", time.gmtime(started)) + f"-{os.getpid()}"
    name = f"{a.workload}-seed{a.seed}-cpu{cores}-trace{a.trace}-{run_id}"
    run_dir = os.path.join(WORK, "runs", name)
    os.makedirs(run_dir)
    # a traced round is an untraced job, a traced job and a span pass
    measure = max(1, round(a.seconds / JOB_S[a.workload] / (3 if a.trace else 1)))
    rec = jvm_run(java_cmd(launch, run_dir),
                  args + ["--work", run_dir, "--warmup", str(WARMUP_JOBS[a.workload]),
                          "--measure", str(measure), "--trace", str(a.trace),
                          "--run-id", run_id],
                  os.path.join(run_dir, "run.json"), os.path.join(run_dir, "run.log"))

    jobs = ([rec["cold_job"]] + rec["warmup_jobs"] + rec["jobs"]
            + rec.get("traced_jobs", []))
    errors = [j["error"] for j in jobs if j["error"]]
    errors += [p["error"] for p in rec.get("span_passes", []) if p["error"]]
    for e in sorted(set(errors)):
        log(f"FAILED: {e}")
    attempted = len(jobs) + len(rec.get("span_passes", []))

    metrics = per_layer(rec) if a.trace else end_to_end(rec)
    units = PER_LAYER if a.trace else END_TO_END
    for k, v in metrics.items():
        log(f"{k:<34} {v:>14.6f} {units[k][0]}")
    log(f"{a.workload} seed {a.seed}: {len(rec['jobs'])} measured untraced jobs, "
        f"{len(errors)} of {attempted} failed (fail_frac {len(errors) / attempted:.3f})")
    artifact = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "run_id": run_id,
        "seconds": a.seconds, "nproc": cores, "heap_max_bytes": rec["heap_max_bytes"],
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "input_bytes": rec["input_bytes"],
        "attempted": attempted, "failed": len(errors), "errors": errors,
        "metrics": metrics, "jvm": rec,
    }
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    with open(os.path.join(WORK, "artifacts", name + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": len(errors),
        "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
