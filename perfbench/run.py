#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft engine.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source into .bench_build/ (sbt, offline); later runs reuse
the build while the sources are unchanged. Each run then

  1. generates the workload's inputs for the seed (gen.py, cached),
  2. times session set-up in a probe JVM and in the harness JVM,
  3. runs the harness (Harness.scala): an untimed check pass whose
     outputs are kept, an untimed warm pass, then measured passes for
     about --seconds,
  4. compares every check-pass output with DuckDB running the query's
     `SparkEntry.oracleSql` over the same inputs (tools/check.py's
     comparison); a query without an oracle must return rows,
  5. prints the metrics, and as its last line one JSON object.

--trace 0 reports the end-to-end metrics; --trace 1 the per-layer ones,
with spans written to .bench_build/results/. `--workload all` runs every
workload once and prints each metric with its unit.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
DEADLINE_S = 170  # a run must end within 180 s, not counting the build

# Each workload's queries, as (registry name, graft module it calls).
# Every query of this engine pays a per-stage scheduling floor of
# 0.2-4 s whatever the input size, so the lists are cut to what fits the
# run budget. tables: the drop's tables the queries read; frac: the
# share of their sf0.1 rows kept; pass_s: the settled pass time, which
# with --seconds fixes the number of measured passes (a fixed count
# keeps the latency sample count, and so the tail percentile, the same
# on every run).
WORKLOADS = {
    "transit_etl": dict(tables=["events"], frac=1.0, load=True, pass_s=2.5, queries=[
        ("etl_clean_events", "etl"), ("etl_derive_speed", "etl"),
        ("etl_dedup_keyfirst", "etl"), ("q_time_window", "analytics"),
        ("q_heatmap", "analytics")]),
    "llm_curation": dict(
        tables=["documents", "embeddings", "supplier"], frac=0.05, load=False, pass_s=6.5,
        queries=[
            ("dedup_keep_best", "text"), ("corpus_split", "text"), ("dedup_exact", "text"),
            ("text_langid", "text"), ("text_quality", "text"), ("text_gopher", "text"),
            ("text_c4_filter", "text"), ("ann_ivf", "vector"), ("linkage_cluster", "ops"),
            ("mm_scene_change", "multimodal")]),
}
MIN_PASSES = 4
MODULES = sorted({m for w in WORKLOADS.values() for _, m in w["queries"]})

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
              "cpu_s": "s", "peak_rss_mb": "MiB", "ok_frac": "fraction"}
KERNEL_TABLES = ["documents", "embeddings"]
KERNELS = ["minhash128", "simhash64", "word_shingles3", "word_tokens", "text_profile",
           "token_profile", "winnow_fps", "sorted_intersect_count", "hamming64",
           "vec_dot", "vec_l2sq_long", "vec_dot_long"]
# what the harness records for each traced pass
PASS_LAYERS = {
    "planning.analysis_s": "s", "planning.optimization_s": "s", "planning.physical_s": "s",
    "planning.codegen_s": "s", "planning.codegen_classes": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.failed_tasks": "count", "scheduler.idle_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.task_skew": "ratio", "executor.peak_mem_mb": "MiB",
    "sources.read_rows": "count", "sources.read_mb": "MiB",
    "shuffle.write_mb": "MiB", "shuffle.read_mb": "MiB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MiB", "io.write_s": "s", "io.write_mb": "MiB",
    "jvm.live_heap_mb": "MiB"}
PER_LAYER = {**PASS_LAYERS,
             "storage.rdds_pinned": "count", "storage.pinned_mb_end": "MiB", "jvm.gc_s": "s",
             **{f"{m}.{k}": "s" for m in MODULES for k in ("build_s", "exec_s")},
             **{f"functions.{k}.ns_per_row": "ns" for k in KERNELS},
             "trace.overhead_frac": "fraction"}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, **kw):
    """Run to completion in its own process group; on timeout kill the
    whole group and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, stdout=sys.stderr, **kw)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{cmd[0]} exceeded {timeout:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- build

def spark_home():
    """The Spark installation whose jars the engine builds and runs on."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BenchError("no Spark installation found; set SPARK_HOME")
    return Path(home)


def build():
    """Compile engine + harness with sbt unless the sources are unchanged."""
    sources = [ROOT / "src" / "main" / "scala", HERE / "src"]
    if not all(d.is_dir() for d in sources):
        raise BenchError(f"engine sources not found under {ROOT}")
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"] + sorted(
        f for d in sources for f in d.rglob("*.scala"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = BUILD / "sbt" / "scala-2.13" / "classes"
    stamp = BUILD / "build.stamp"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and classes.is_dir():
        return classes
    log("building engine and harness (sbt, offline)")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, PERFBENCH_TARGET=str(BUILD / "sbt"), COURSIER_MODE="offline",
               SBT_OPTS=" ".join(opts), SPARK_HOME=str(spark_home()))
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], 840,
                  cwd=HERE, env=env, stdin=subprocess.DEVNULL)
    if rc != 0 or not classes.is_dir():
        raise BenchError(f"sbt compile failed (exit {rc})")
    stamp.write_text(h.hexdigest())
    return classes


def java(classes, args, timeout):
    """Run the harness JVM; returns (spawn time, parsed result file)."""
    jars = spark_home() / "jars"
    result = BUILD / "tmp" / f"result-{os.getpid()}.json"
    result.unlink(missing_ok=True)
    # a fixed heap: with a growable one, the full GC that ends each pass
    # shrinks it and the next pass pays to grow it again, which widened
    # the run-to-run spread of pass_s and cpu_s to 0.16-0.30 of their
    # medians. peak_rss_mb then mostly shows the heap size; traced runs
    # report the live heap (jvm.live_heap_mb).
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={BUILD / 'tmp'}",
            "-Dio.netty.tryReflectionSetAccessible=true"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", f"{classes}:{jars}/*", "perfbench.Harness", f"result={result}"]
           + [f"{k}={v}" for k, v in args.items()])
    t0 = time.time()
    # cap glibc's per-thread malloc arenas, as is usual for JVMs, so the
    # native part of peak_rss_mb does not depend on thread scheduling
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    rc = run_proc(cmd, timeout, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    if rc != 0 or not result.exists():
        raise BenchError(f"harness JVM failed (exit {rc})")
    out = json.loads(result.read_text())
    result.unlink()
    return t0, out


# ---------------------------------------------------------------- check

def load_check_module():
    path = ROOT / "tools" / "check.py"
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_frame(con, cache, sql):
    """DuckDB's result for `sql`. Seeds change only the layout of the
    inputs, never their rows, so results are kept per content key."""
    import pandas as pd
    path = cache / (hashlib.sha256(sql.encode()).hexdigest()[:32] + ".pkl")
    if path.exists():
        return pd.read_pickle(path)
    df = con.execute(sql).fetchdf()
    df.to_pickle(path)
    return df


def check_outputs(data_dir, tables, content, work, steps, oracle, with_load):
    """Per query: "OK" or the reason its check-pass output is wrong."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    check = load_check_module()
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{BUILD / 'tmp' / 'duckdb'}'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    cache = BUILD / "oracle" / content
    cache.mkdir(parents=True, exist_ok=True)
    verdict = {}
    for step in steps:
        name = step["name"]
        if not step["ok"]:
            verdict[name] = f"FAILED {step['error']}"
            continue
        if name.startswith("load_"):
            continue
        files = sorted(glob.glob(f"{work}/check/{name}/*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name in oracle:
            try:
                verdict[name] = check.cmp(name, got, oracle_frame(con, cache, oracle[name]))
            except Exception as e:  # an oracle that cannot run is a failed check
                verdict[name] = f"ORACLE-ERROR {e}"
        else:
            verdict[name] = "OK" if len(got) else "ROWS 0 (no oracle)"
    if with_load and all(s["ok"] for s in steps if s["name"].startswith("load_")):
        clean = sum(pq.ParquetFile(f).metadata.num_rows
                    for f in glob.glob(f"{work}/check/etl_clean_events/*.parquet"))
        loaded = sum(pq.ParquetFile(f).metadata.num_rows
                     for f in glob.glob(f"{work}/load_events/*/*.parquet"))
        verdict["load"] = "OK" if clean == loaded else f"ROWS loaded={loaded} clean={clean}"
    con.close()
    return verdict


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(latencies):
    """The highest whole percentile with at least ten samples beyond it."""
    p = math.floor(100 * (1 - 10 / len(latencies)))
    if p < 1:
        return 50, median(latencies)
    return p, statistics.quantiles(latencies, n=100, method="inclusive")[p - 1]


def end_to_end(res, setups):
    passes = [p for p in res["passes"] if not p["traced"]]
    lat = [s["build_s"] + s["exec_s"] for p in passes for s in p["steps"] if s["ok"]]
    pct, tail_s = tail(lat)
    return {
        "setup_s": median(setups),
        "pass_s": median([p["wall_s"] for p in passes]),
        "query_p50_s": median(lat),
        "query_tail_s": tail_s,
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": res["vm_hwm_mb"],
    }, {"tail_percentile": pct, "latency_samples": len(lat), "passes": len(passes)}


def per_layer(res, queries):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    m = {k: median([p["layers"][k] for p in traced]) for k in PASS_LAYERS}
    m["storage.rdds_pinned"] = median([p["rdds_pinned"] for p in traced])
    m["storage.pinned_mb_end"] = median([p["pinned_mb"] for p in traced])
    m["jvm.gc_s"] = median([p["gc_s"] for p in traced])
    for mod in MODULES:
        for k in ("build_s", "exec_s"):
            m[f"{mod}.{k}"] = median([sum(s[k] for s in p["steps"]
                                          if queries.get(s["name"]) == mod) for p in traced])
    for k in KERNELS:
        m[f"functions.{k}.ns_per_row"] = res["kernels"][k]
    m["trace.overhead_frac"] = (median([p["wall_s"] for p in traced])
                                / median([p["wall_s"] for p in plain]) - 1.0)
    return m


# ---------------------------------------------------------------- run

def run(workload, seed, seconds, trace):
    t_start = time.time()
    spec = WORKLOADS[workload]
    queries = dict(spec["queries"])
    phases = {}

    def lap(name, t0):
        phases[name] = time.time() - t0
        return time.time()

    classes = build()
    t = t_start = lap("build_s", t_start)
    for d in ("tmp", "data", "results"):
        (BUILD / d).mkdir(parents=True, exist_ok=True)
    data_dir, rows = gen.ensure(str(BUILD / "data"), spec["frac"], spec["tables"], seed)
    harness_args = {}
    if trace:  # the kernel microbench reads the whole drop's text and vectors
        harness_args["kernel_data"], _ = gen.ensure(str(BUILD / "data"), 1.0, KERNEL_TABLES, seed)
    work = BUILD / "work" / workload
    work.mkdir(parents=True, exist_ok=True)
    t = lap("generate_s", t)

    # set-up: a probe JVM that stops once the session is ready, and the
    # harness JVM itself; their median is reported (one more probe would
    # cost ~5 s of every run, which the run budget cannot spare)
    t0, probe = java(classes, {"work": work, "probe": 1}, 60)
    setups = [probe["ready_ms"] / 1e3 - t0]
    t = lap("probes_s", t)
    spans = BUILD / "results" / f"{workload}-s{seed}-spans.jsonl"
    budget = DEADLINE_S - (time.time() - t_start)
    t0, res = java(classes, {
        "work": work, "data": data_dir, "queries": ",".join(queries),
        "load": int(spec["load"]), "trace": int(trace),
        "passes": max(MIN_PASSES, round(seconds / spec["pass_s"])),
        "spans": spans, **harness_args}, budget)
    setups.append(res["ready_ms"] / 1e3 - t0)
    t = lap("harness_s", t)
    verdict = check_outputs(data_dir, spec["tables"], gen.content_key(spec["frac"], spec["tables"]),
                            work, res["check_pass"], res["oracle"], spec["load"])
    lap("check_s", t)
    phases["total_s"] = time.time() - t_start
    wrong = sorted(k for k, v in verdict.items() if v != "OK")
    measured = [s for p in res["passes"] for s in p["steps"]]
    attempted = len(verdict) + len(measured)
    failed = len(wrong) + sum(not s["ok"] for s in measured)
    e2e, info = end_to_end(res, setups)
    e2e["ok_frac"] = 1.0 - failed / attempted
    metrics = per_layer(res, queries) if trace else e2e
    units = PER_LAYER if trace else END_TO_END

    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "cores": res["cores"], "input_rows": rows, "setup_samples_s": setups,
        "pass_walls_s": [p["wall_s"] for p in res["passes"]],
        "pass_cpu_s": [p["cpu_s"] for p in res["passes"]],
        "pass_gc_s": [p["gc_s"] for p in res["passes"]], **info,
        "check": verdict, "metrics": metrics, "end_to_end": e2e,
        "phases_s": phases,
        "check_pass_s": {s["name"]: s["build_s"] + s["exec_s"] for s in res["check_pass"]},
        "step_median_s": {s["name"]: median([x["build_s"] + x["exec_s"] for p in res["passes"]
                                             for x in p["steps"] if x["name"] == s["name"]])
                          for s in res["passes"][0]["steps"]},
    }
    if trace:
        report["spans_file"] = str(spans.relative_to(ROOT))
    out = BUILD / "results" / f"{workload}-s{seed}-t{int(trace)}.json"
    out.write_text(json.dumps(report, indent=1))
    for q in wrong:
        log(f"check {q}: {verdict[q]}")
    return {"correct": not wrong and failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}, report


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    try:
        results = {}
        for name in names:
            results[name], report = run(name, a.seed, a.seconds, a.trace)
            print(f"== {name} (seed {a.seed}, {report['cores']} cores, "
                  f"{report['passes']} untraced passes, {report['latency_samples']} "
                  f"query latencies; query_tail_s is p{report['tail_percentile']})")
            for k, v in results[name]["metrics"].items():
                print(f"{name:14s} {k:40s} {v['value']:14.6g} {v['unit']}")
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
    if len(names) == 1:
        print(json.dumps(results[names[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items()
                        for k, v in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
