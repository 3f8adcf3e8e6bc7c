#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, two workloads.

    python3 perfbench/run.py --workload gate_suite --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source into `.bench_build/` (or `$CARGO_TARGET_DIR`);
later runs reuse the build while the sources are unchanged. Each run
generates its inputs from `--seed`, starts one JVM on `local[nproc]`,
checks every output for correctness, and prints one JSON object as the
last line of standard output. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

import gen_inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()
RUN_LIMIT_S = 165

# gate_suite: a fixed slice of the 174 gated entries plus the two
# bench-only twins that holds both of the engine's regimes and every
# family (README.md, "Workloads").
GATE_ENTRIES = [
    # fixed per-job latency: marts, joins, windows, typed aggregates,
    # JSON, schema evolution
    "q1_daily_metrics", "q3_user_activity", "q13_enrich_contract",
    "q16_semi_join", "q21_sessionize", "q23_typed_agg", "q45_json_ops",
    "q57_lateral_topn", "q74_partition_prune", "q84_schema_evolution",
    # CPU-bound kernels and shuffles; six of them take about a second
    # each, so that the upper quartile falls inside that cluster and not
    # in the gap below it
    "d3_simhash", "d20_semdedup", "e4_vector_stats", "e11_ivfpq", "t3_langid",
    "t15_bpe_merges", "c4_boilerplate_lines", "m1_media_features",
    "x1_minhash_fast", "x2_knn_bucketed",
]
# the s-entries: their shared pass runs in traced gate_suite runs only
STREAM_ENTRIES = [
    "s1_stream_tumbling", "s2_stream_sliding", "s3_stream_dedup",
    "s4_stream_sessions", "s5_stream_mart", "s6_stream_interval_join",
    "s7_stream_dedup_watermark", "s8_stream_heavy_hitters",
    "s9_stream_cdc_apply", "s10_stream_enrich", "s11_stream_near_dup",
    "s12_stream_ann_serve", "s13_stream_ivf_ingest",
    "s14_stream_substr_ingest", "s15_stream_quantile_ingest",
    "s16_stream_boilerplate_ingest", "s17_stream_pack_spans",
    "s18_stream_phash_ingest",
]
GATE_SF = 0.01
HN_BATCHES, HN_ITEMS, HN_WARM_BATCHES, HN_WARM_ITEMS = 4, 10_000, 2, 5_000
HN_REPLAY_AFTER, HN_REPLAY_OF = 3, 1

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xss8m", "-Xms4g", "-Xmx4g", "-Xmn1g", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "*.scala")))
    return files, bench


def build(build_dir):
    """Compile the engine and the benchmark with the Scala compiler that
    ships in the Spark distribution; skipped while sources are unchanged."""
    engine, bench = sources()
    if not engine:
        fail(f"no engine sources under {ENGINE_SRC}; run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}")
    h = hashlib.sha256()
    for f in engine + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "classes.sha256")
    classes = [os.path.join(build_dir, "engine-classes"),
               os.path.join(build_dir, "bench-classes")]
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    for d in classes:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    jars = os.path.join(SPARK_JARS, "*")
    for out, srcs, cp in ((classes[0], engine, jars),
                          (classes[1], bench, jars + os.pathsep + classes[0])):
        r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", jars,
                            "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
                            "-d", out] + srcs, stdout=sys.stderr)
        if r.returncode:
            fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def link_copy(src, dst):
    os.makedirs(dst)
    for f in os.listdir(src):
        os.link(os.path.join(src, f), os.path.join(dst, f))


def make_inputs(workload, seed, work):
    """Generate the run's inputs; returns the JVM's workload arguments."""
    if workload == "gate_suite":
        data, stream = os.path.join(work, "data"), os.path.join(work, "stream")
        gen_inputs.tables(data, seed, GATE_SF)
        # the stream pass is memoized per input directory: give it its own
        link_copy(data, stream)
        return ({"data": data, "entries": ",".join(GATE_ENTRIES), "stream_data": stream,
                 "stream_entries": ",".join(STREAM_ENTRIES)}, {"data": data})
    if workload == "hn_etl":
        rng = np.random.default_rng(seed)
        raw, warm = os.path.join(work, "raw"), os.path.join(work, "warm_raw")
        os.makedirs(raw)
        os.makedirs(warm)
        day0 = 1_700_000_000 + int(rng.integers(0, 86400 * 30))
        def batches(root, n_batches, n_items, first_id):
            ids, files = np.empty(0, np.int64), []
            for i in range(n_batches):
                p = os.path.join(root, f"hn_items_20240102_{i:02d}0000.json")
                got = gen_inputs.hn_batch(p, rng, first_id + i * n_items, n_items,
                                          np.unique(ids), day0 + i * 86400)
                ids = np.concatenate([ids, got])
                files.append(p)
            return files
        # the warm-up batches have the timed batches' shape and overlap
        warm_files = batches(warm, HN_WARM_BATCHES, HN_WARM_ITEMS, 10_000_000)
        files = batches(raw, HN_BATCHES, HN_ITEMS, 1)
        schedule = files[:HN_REPLAY_AFTER] + [files[HN_REPLAY_OF]] + files[HN_REPLAY_AFTER:]
        return ({"raw": ",".join(schedule), "warm_raw": ",".join(warm_files),
                 "etl": os.path.join(work, "etl")}, {"schedule": schedule})
    fail(f"unknown workload {workload!r}")


def run_jvm(classes, jvm_args, work, deadline):
    """Runs graft.bench.Main to its end and returns the JSON it wrote."""
    out = os.path.join(work, "result.json")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    args = dict(jvm_args, out=out, launch_ms=int(time.time() * 1000))
    cmd = (["java", "-cp", os.pathsep.join(classes + [os.path.join(SPARK_JARS, "*")]),
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local"]
           + JVM_OPTS + ["graft.bench.Main"] + [f"{k}={v}" for k, v in args.items()])
    # run inside the work directory so that anything Spark writes
    # relative to its working directory is removed with it
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=subprocess.PIPE, cwd=work,
                            start_new_session=True, text=True)
    try:
        _, err = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("JVM run exceeded its time limit")
    if proc.returncode:
        sys.stderr.write(err[-4000:])
        fail(f"JVM exited with code {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def summarize(workload, res, verdict):
    """End-to-end figures from the untraced units of the timed loop."""
    units = [u for u in res["units"] if not u["traced"]]
    ops = [o for o in res["ops"] if not o["traced"]]
    secs = [o["secs"] for o in ops]
    attempted = len(res["ops"]) + len(res["errors"]) + verdict["attempted"]
    failed = len(res["errors"]) + verdict["failed"]
    info = {"workload": workload, "failed_frac": failed / max(1, attempted),
            "samples": {"ops": len(secs), "units": len(units)},
            "errors": res["errors"][:10], "host": res["host"],
            "wall_s": {"jvm": res["jvm_s"], "timed": res["timed_wall_s"]}}
    if not secs or not units:
        return attempted, failed, {}, info
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "suite_s": (statistics.median(u["secs"] for u in units), "s"),
        "query_p50_s": (statistics.median(secs), "s"),
        "query_p75_s": (statistics.quantiles(secs, n=4)[2], "s"),
        "cpu_s": (statistics.median(u["cpu_s"] for u in units), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    info["samples"]["beyond_p75"] = sum(1 for x in secs if x > e2e["query_p75_s"][0])
    if workload == "hn_etl":
        pipe, raw = res["pipeline"], sum(o["raw_bytes"] for o in ops)
        info.update({
            "batch_p50_s": e2e["query_p50_s"][0],
            "etl_items_per_s": res["items_per_unit"] / e2e["suite_s"][0],
            "write_amp": sum(o["written_bytes"] for o in ops) / raw,
            "space_amp": pipe["root_bytes"] / pipe["newest_version_bytes"],
            "raw_bytes": raw})
    return attempted, failed, e2e, info


def per_layer(workload, res):
    """The traced run's per-layer figures, each per traced unit."""
    traced = [u for u in res["units"] if u["traced"]]
    untraced = [u for u in res["units"] if not u["traced"]]
    n = max(1, len(traced))
    led = res.get("ledger", {})
    ops = [o for o in res["ops"] if o["traced"]]
    wall = sum(u["secs"] for u in traced)
    g = lambda k: led.get(k, 0.0)
    m = {}
    m["SparkEntry.build_s"] = sum(o.get("build_s", 0.0) for o in ops) / n
    m["SparkEntry.jobs"] = g("phase.build.jobs") / n
    m["materialize_s"] = sum(o.get("materialize_s", 0.0) for o in ops) / n
    m["plans.entries"] = sum(1 for o in ops if o.get("plans")) / n
    m["plans.materialize_s"] = sum(o.get("materialize_s", 0.0) for o in ops if o.get("plans")) / n
    for fam in "qdetcmx":
        m[f"family.{fam}_s"] = sum(o["secs"] for o in ops if o["name"].startswith(fam)
                                   and workload == "gate_suite") / n
    for k in ("jobs", "stages", "tasks", "job_s", "executor_run_s", "executor_cpu_s",
              "gc_s", "single_task_stage_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "input_bytes", "output_bytes"):
        m[f"spark.{k}"] = g(f"spark.{k}") / n
    m["spark.core_util"] = g("spark.executor_run_s") / max(1e-9, wall * res["host"]["nproc"])
    for layer in ("SparkEntry", "operators", "pipeline", "bench", "other"):
        for k in ("jobs", "stage_s", "cpu_s"):
            m[f"{layer}.{k}"] = g(f"{layer}.{k}") / n
    # the shared stream pass runs once in a traced gate_suite run, before
    # the timed passes, with a ledger of its own. A pass that did not
    # finish reports no streaming figures: it has failed the run instead.
    if workload != "gate_suite" or "stream" in res:
        st = res.get("stream", {})
        ph, sl = st.get("phases", {}), st.get("ledger", {})
        for k in ("jobs", "stage_s", "cpu_s"):
            m[f"streaming.{k}"] = g(f"streaming.{k}") / n + sl.get(f"streaming.{k}", 0.0)
        m["streaming.pass_s"] = st.get("pass_s", 0.0)
        m["streaming.seed_max_s"] = max(
            [v for k, v in ph.items() if k.startswith("seed_")], default=0.0)
        m["streaming.start_s"] = ph.get("start_mem", 0.0)
        m["streaming.drain_s"] = ph.get("drain", 0.0)
        m["streaming.materialize_s"] = ph.get("materialize", 0.0)
    pipe = res.get("pipeline", {})
    m["pipeline.run_s"] = sum(o.get("run_s", 0.0) for o in ops) / n
    m["pipeline.mart_write_s"] = sum(o.get("mart_write_s", 0.0) for o in ops) / n
    for k in ("staging_rows", "staging_versions", "inserted", "updated"):
        m[f"pipeline.{k}"] = float(pipe.get(k, 0))
    for k in ("calib_cpu_s", "calib_job_s", "calib_mem_s", "loadavg_start"):
        m[f"host.{k}"] = float(res["host"][k])
    tr = statistics.median(u["secs"] for u in traced) if traced else 0.0
    un = statistics.median(u["secs"] for u in untraced) if untraced else 0.0
    m["trace.overhead_frac"] = tr / un - 1 if tr and un else 0.0
    return m


UNITS = {"_s": "s", "_bytes": "bytes", "_frac": "ratio", "_util": "ratio", "loadavg_start": "procs"}


def unit_of(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(build_dir)
    # imported once the build has found the repository: the checks use
    # its tools/check_oracle.py
    import checks
    # a run that had to build may take longer; the limit counts from here
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        jvm_args, inputs = make_inputs(a.workload, a.seed, work)
        dumps = os.path.join(work, "dumps")
        spans = os.path.join(build_dir, "traces", f"{a.workload}-{a.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        t_jvm = time.time()
        res = run_jvm(classes, dict(jvm_args, workload=a.workload, seed=a.seed,
                                    seconds=a.seconds, trace=a.trace, cores=os.cpu_count(),
                                    spans=spans, dumps=dumps), work, deadline)
        res["jvm_s"] = time.time() - t_jvm
        if a.workload == "hn_etl":
            res["items_per_unit"] = checks.raw_items(inputs["schedule"])
            verdict = checks.hn_etl(inputs["schedule"], res)
        else:
            # a traced run's stream pass is checked even when it failed
            names = GATE_ENTRIES + (STREAM_ENTRIES if a.trace else [])
            verdict = checks.entries(inputs["data"], dumps, names, res["oracle_sql"])
        for line in verdict["log"]:
            print(line, file=sys.stderr)
        attempted, failed, e2e, info = summarize(a.workload, res, verdict)
        if a.trace:
            metrics = {k: {"value": v, "unit": unit_of(k)}
                       for k, v in per_layer(a.workload, res).items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps(info))
        print(json.dumps({"correct": failed == 0 and bool(e2e), "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
