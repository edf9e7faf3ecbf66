#!/usr/bin/env python3
"""graft benchmark: one command for every workload, traced or not.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a source checkout. The first run builds the
engine and the harness from source with sbt (`perfbench/harness`) and
generates the input lake; later runs reuse both while the sources are
unchanged. Each run then

  1. starts one JVM on `local[<nproc>]`, builds the session and runs
     untimed warm-up passes;
  2. runs timed passes in a closed loop (one client, one operation at a
     time) for `--seconds`;
  3. checks the outputs (registry queries against their DuckDB twins,
     pipeline row accounting, versions and serving answers) and prints
     every metric by name with its unit, then one JSON line.

`--trace 0` reports the end-to-end metrics; `--trace 1` traces the
timed passes and reports the per-layer metrics, among them the traced
pass wall (`trace.wall_s`; minus `wall_s` of a `--trace 0` run with the
same seed, it is the tracing overhead that `compare.py` prints). Every run leaves a record with its
provenance under `perfbench/.work/runs/` for `perfbench/compare.py`.
See `perfbench/README.md` for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen_data  # noqa: E402

WORKLOADS = {
    "registry_iterative": {"sf": 0.01},
    "medallion_pipeline": {"sf": 0.1},
}
FLUSH_POLICY = "Hadoop local FS, no fsync"
# The parallel collector with a fixed 512 MB young generation. Heap
# pages become resident only when data first reaches them (nothing is
# pre-touched, and compaction keeps the old generation's data at its
# bottom), so resident memory follows the young generation plus the
# peak of what the engine keeps past young collections, plus what it
# holds off heap. Under G1's adaptive sizing the peak RSS of identical
# runs differed by more than half.
JVM_MEMORY = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms1g", "-Xmn512m",
              "-Xmx2g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        full = os.path.join(ROOT, base)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    sources = ["build.sbt", "project/build.properties", "src/main",
               "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
               "perfbench/harness/src"]
    for s in sources + ["tools/check.py"]:
        if not os.path.exists(os.path.join(ROOT, s)):
            fail(f"not a graft source checkout: {s} is missing under {ROOT}")
    stamp = tree_hash(sources)
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and harness with sbt ...", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln and ":" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("sbt build failed", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip(), stamp


def lake(sf):
    """The generated input lake for `sf`, made once per generator version."""
    d = os.path.join(WORK, f"lake-sf{sf}")
    stamp = tree_hash(["perfbench/gen_data.py"])
    stamp_file = os.path.join(d, ".stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        gen_data.generate(d, sf)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return d


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return []


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def jvm(classpath, nproc, args, work, log):
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           JVM_MEMORY +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", classpath, "perfbench.Harness"] + args + ["--work", work])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc))
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    t0 = time.time()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=170)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out; see {log}", 4)
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness exited with {rc}; see {log}", 4)
    with open(res) as f:
        return t0, json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def end_to_end(res, t0, result_rows):
    """`result_rows` maps each registry query to the rows of its result
    (None for the pipeline, whose passes carry their bronze rows)."""
    timed = res["passes"]
    walls = [p["wall_s"] for p in timed]
    per_op = {}
    for p in timed:
        for o in p["ops"]:
            per_op.setdefault(o["name"], []).append(o["s"])
    if result_rows is None:
        rows = [p["bronze_rows"] / p["wall_s"] for p in timed]
    else:
        rows = [sum(result_rows.get(o["name"], 0) for o in p["ops"]) / p["wall_s"]
                for p in timed]
    return {
        "setup_s": (res["setup_end_ms"] / 1000.0 - t0, "s"),
        "wall_s": (median(walls), "s"),
        "query_geomean_ms": (1000 * geomean([median(v) for v in per_op.values()]), "ms"),
        "rows_per_s": (median(rows), "rows/s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
    }


def per_layer(res, trace):
    passes = res["passes"]
    n = max(1, len(passes))
    wall = sum(p["wall_s"] for p in passes)
    ops = trace["ops"].values()
    tot = lambda k: sum(o[k] for o in ops)  # noqa: E731
    spans = {}
    for s in trace["spans"]:
        if s["name"] != "op":
            spans[s["name"]] = spans.get(s["name"], 0.0) + (s["end_ns"] - s["start_ns"]) / 1e9
    pipe = trace.get("pipeline") or {}
    pp = max(1.0, pipe.get("passes", 0.0))
    step = lambda k: pipe.get(k, 0.0) / pp  # noqa: E731
    mb = 1024.0 * 1024.0
    stages = tot("stages")
    m = {
        "SparkEntry.construct_s": (spans.get("SparkEntry.construct", 0.0) / n, "s"),
        "SparkEntry.construct_jobs": (tot("construct_jobs") / n, "count"),
        "catalyst.analysis_ms": (tot("analysis_ms") / n, "ms"),
        "catalyst.optimization_ms": (tot("optimization_ms") / n, "ms"),
        "catalyst.planning_ms": (tot("planning_ms") / n, "ms"),
        "exec.exec_s": (spans.get("exec.action", 0.0) / n, "s"),
        "exec.jobs": (tot("exec_jobs") / n, "count"),
        "exec.stages": (stages / n, "count"),
        "exec.tasks": (tot("tasks") / n, "count"),
        "scheduler.task_wait_s": (tot("task_wait_ms") / 1000.0 / n, "s"),
        "executor.busy_share": (tot("run_ms") / 1000.0 / (wall * res["cores"]) if wall else 0.0,
                                "ratio"),
        "executor.run_s": (tot("run_ms") / 1000.0 / n, "s"),
        "executor.cpu_s": (tot("cpu_ns") / 1e9 / n, "s"),
        "executor.gc_s": (tot("gc_ms") / 1000.0 / n, "s"),
        "shuffle.write_mb": (tot("shuffle_write_b") / mb / n, "MB"),
        "shuffle.read_mb": (tot("shuffle_read_b") / mb / n, "MB"),
        "spill.mb": (tot("spill_b") / mb / n, "MB"),
        "scan.input_mb": (tot("input_b") / mb / n, "MB"),
        "scan.input_rows": (tot("input_records") / n, "count"),
        "waste.dup_stage_share": (tot("dup_stages") / stages if stages else 0.0, "ratio"),
        "failures.task_failed": (tot("task_failed"), "count"),
        "failures.stage_retried": (tot("stage_retried"), "count"),
        "failures.lost_accumulators": (res["lost_accumulators"], "count"),
        "silver.build_write_s": (step("silver.build_write_s"), "s"),
        "silver.quarantine_rate": (pipe.get("rows_quarantined", 0.0) / pipe["rows_read"]
                                   if pipe.get("rows_read") else 0.0, "ratio"),
        "gold.dims_s": (step("gold.dims_s"), "s"),
        "gold.scd2_s": (step("gold.scd2_s"), "s"),
        "gold.merge_s": (step("gold.merge_s"), "s"),
        "versioned.commit_s": (step("versioned.commit_s"), "s"),
        "catalog.validate_s": (step("catalog.validate_s"), "s"),
        "serving.query_s": (step("serving.query_s"), "s"),
        "sources.bytes_written_per_input_byte": (
            pipe.get("bytes_written", 0.0) / pipe["bronze_bytes"]
            if pipe.get("bronze_bytes") else 0.0, "ratio"),
        "sources.files_written": (step("files_written"), "count"),
        "trace.wall_s": (median([p["wall_s"] for p in passes]), "s"),
    }
    return m


def rollups(trace):
    """Per-op trace records summed by query family and by medallion layer."""
    out = {"family": {}, "layer": {}}
    for rec in trace["ops"].values():
        for kind in ("family", "layer"):
            agg = out[kind].setdefault(rec[kind], {})
            for k, v in rec.items():
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    agg[k] = agg.get(k, 0) + v
            agg["ops"] = agg.get("ops", 0) + 1
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))  # the CPUs this process may use, as nproc reports
    load_before = loadavg()
    os.makedirs(WORK, exist_ok=True)
    classpath, source_hash = build()
    sf = WORKLOADS[a.workload]["sf"]
    lake_dir = lake(sf)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--lake", lake_dir]
    manifest = None
    if a.workload == "medallion_pipeline":
        bronze = os.path.join(WORK, "bronze")
        manifest = gen_data.write_bronze(lake_dir, bronze, a.seed)
        args += ["--bronze", bronze]

    t0, res = jvm(classpath, nproc, args, os.path.join(run_dir, "main"),
                  os.path.join(run_dir, "main.log"))

    import oracle  # needs the project's tools/check.py, checked for by build()
    result_rows = None
    if a.workload == "medallion_pipeline":
        problems = oracle.check_pipeline(res, manifest)
    else:
        out_dir = os.path.join(run_dir, "main", "out")
        problems = oracle.check_registry(res, lake_dir, out_dir)
        result_rows = oracle.result_rows(out_dir, {o["name"] for o in res["warmup_ops"]})
    ops = res["warmup_ops"] + [o for p in res["passes"] for o in p["ops"]]
    attempted = len(ops)
    thrown = sum(1 for o in ops if not o["ok"])
    wrong = len(problems)
    failed = min(attempted, thrown + wrong)
    for p in problems:
        print(f"WRONG {p}")

    if a.trace:
        with open(os.path.join(run_dir, "main", "trace.json")) as f:
            trace = json.load(f)
        metrics = per_layer(res, trace)
    else:
        trace = None
        metrics = end_to_end(res, t0, result_rows)
    provenance = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": nproc, "cores": res["cores"], "loadavg_before": load_before,
        "loadavg_after": loadavg(), "git_commit": git_commit(), "source_hash": source_hash,
        "jvm_version": res["jvm_version"], "spark_version": res["spark_version"],
        "python": platform.python_version(), "sf": sf,
        "sf_dir": os.path.relpath(lake_dir, ROOT), "flush_policy": FLUSH_POLICY,
        "jvm_memory": " ".join(JVM_MEMORY), "passes": len(res["passes"]),
        "session_ready_s": res["session_ready_ms"] / 1000.0 - t0,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    record = {"provenance": provenance, "correct": failed == 0, "attempted": attempted,
              "failed": failed, "wrong_results": wrong, "problems": problems,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
              "passes": res["passes"], "check": res["check"]}
    if trace:
        record["ops"] = trace["ops"]
        record["rollup"] = rollups(trace)
        record["pipeline_steps"] = trace.get("pipeline")
        record["spans"] = trace["spans"]
        record["run_id"] = trace["run_id"]
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    rec_path = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)

    for k, v in provenance.items():
        print(f"# {k}: {v}")
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(f"wrong_results = {wrong} count")
    print(f"failed_op_ratio = {failed / attempted:.6g} ratio")
    print(f"# record: {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": record["metrics"]}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
