#!/usr/bin/env python3
"""Benchmark of the graft engine: the serve and batch workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

It builds the engine together with the benchmark's JVM code
(perfbench/build.sbt) on first use, generates the workload's inputs from the seed, runs one JVM,
checks every result against DuckDB outside the timed window, prints each
metric by name with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 additionally runs a
traced phase and reports the per-layer metrics and the tracing overhead.
See perfbench/README.md for what each metric and workload means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import measure  # noqa: E402
import oracle  # noqa: E402

STAR_SF = 0.01  # 60k lineitem rows; every table under the 10 MB broadcast threshold
# Registered queries of the batch report. They cover the operators (Bloom,
# salted and range joins), plans (as-of join), functions (quantile sketch),
# Dedup, Similarity and Events modules plus a plain join + aggregate; the
# report takes about 10 s on 4 cores, which keeps a run within budget.
REPORT_QUERIES = [
    "q05_join_agg", "q30_events_hourly", "q35_asof_lookup", "q45_minhash_lsh", "q48_knn_brute",
    "q54_range_join", "q74_bloom_join", "q233_quantile_sketch", "q282_salted_join",
]
JVM_OPTS = ["-Xmx3g", "-XX:-UsePerfData"] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
RUN_LIMIT_S = 175

END_TO_END = [("setup_s", "s"), ("latency_ms", "ms"), ("rate_per_s", "1/s")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def _sources_stamp(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src"),
                 os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, work):
    """Compile the engine and the benchmark's JVM code with sbt once per
    source state; returns the runtime classpath."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    stamp_file = os.path.join(work, "classpath.json")
    stamp = _sources_stamp(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    # Offline: resolve only from the local caches, never from the network.
    # Temporary files go under `work`, not the system temp directory.
    sbt_opts = [os.environ.get("SBT_OPTS", "-Xmx2g"), "-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
                "-Dsbt.offline=true", f"-Djava.io.tmpdir={tmp}"]
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               SBT_OPTS=" ".join(sbt_opts))
    if "SPARK_HOME" not in env:  # build.sbt takes the Spark jars from there
        submit = shutil.which("spark-submit")
        if not submit:
            die("set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    print("perfbench: building (sbt compile)", file=sys.stderr)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, capture_output=True, text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def make_inputs(workload, seed, trace, inputs):
    gen.write_star(os.path.join(inputs, "star"), seed, STAR_SF)
    if workload == "serve":
        pools = {}
        for phase in ("w", "u", "t") if trace else ("w", "u"):
            pools[phase] = gen.serve_pool(seed, phase=phase)
            with open(os.path.join(inputs, f"pool_{phase}.txt"), "w") as f:
                f.write("".join(q["text"] + "\n" for q in pools[phase]))
            with open(os.path.join(inputs, f"stream_{phase}.txt"), "w") as f:
                f.write("".join(f"{i}\n" for i in gen.serve_stream(phase=phase)))
        with open(os.path.join(inputs, "warmup.txt"), "w") as f:
            f.write("".join(t + "\n" for t in gen.serve_warmup(seed)))
        return {"pools": pools}
    rows = {}  # set 0 warms up, set 1 is the untraced phase's, set 2 the traced one's
    for i in range(3 if trace else 2):
        rows[i] = gen.write_ingest(os.path.join(inputs, "ingest", str(i)), seed * 1000 + i,
                                   gen.WARMUP_ROWS if i == 0 else gen.INGEST_ROWS)
    return {"rows": rows}


# ---------------------------------------------------------------------------
# results
# ---------------------------------------------------------------------------
# Each evaluator checks a phase's results and returns (ops, failed ops,
# failure lines, end-to-end figures, printed lines). An operation is a serve
# query, or in batch the table set load or a report query execution; a failed
# one raised an error or returned a wrong result.

def eval_serve(raw, phase, ctx):
    ph = raw[phase]
    pool = ctx["pools"][phase[0]]
    with open(ph["results"]) as f:
        results = {int(k): v for k, v in json.load(f).items()}
    wrong = oracle.check_serve(os.path.join(ctx["inputs"], "star"), pool, results)
    lines = [f"wrong result, template {pool[i]['template']}, text #{i}: {why}: {pool[i]['text']}"
             for i, why in sorted(wrong.items())]
    lines += [f"error, text #{op['idx']}: {op['error']}" for op in ph["ops"] if op["error"]]
    # every run of a text must return what its checked run returned
    checked = ph["checked_digest"]
    differs = {op["seq"] for op in ph["ops"]
               if not op["error"] and op["digest"] != checked[str(op["idx"])]}
    lines += [f"result differs from the checked run, text #{op['idx']} (query {op['seq']}): "
              f"{pool[op['idx']]['text']}" for op in ph["ops"] if op["seq"] in differs]
    failed = [op for op in ph["ops"] if op["error"] or op["idx"] in wrong or op["seq"] in differs]
    bad = {op["seq"] for op in failed}
    # a failed query misses every latency limit
    lat = [math.inf if op["seq"] in bad else op["ms"] for op in ph["ops"]]
    n = len(lat)
    rate = (n - len(failed)) / ph["wall_s"]
    t = measure.tail(lat)
    shown = [f"serve_p50_ms = {statistics.median(lat):.2f} ms (n={n})",
             f"serve_p{t[0]:g}_ms = {t[1]:.2f} ms (n={n}; highest percentile with >= 10 samples beyond)"
             if t else f"serve_tail_ms = unsupported ({n} samples)",
             f"serve_qps = {rate:.3f} queries/s ({ctx['cores']} closed-loop clients)",
             f"serve.repeat_share = {measure.repeat_share([op['idx'] for op in ph['ops']]):.3f}"]
    return ph["ops"], failed, lines, {"latency_ms": statistics.median(lat), "rate_per_s": rate}, shown


def eval_batch(raw, phase, ctx):
    ph = raw[phase]
    if "report_wrong" not in ctx:
        wrong = oracle.check_analytic(ctx["root"], os.path.join(ctx["inputs"], "star"),
                                      os.path.join(ctx["out"], "check"))
        ctx["report_wrong"] = {**wrong, **raw["dump_errors"]}
    wrong = ctx["report_wrong"]
    lines = [f"wrong result, {n}: {why}" for n, why in sorted(wrong.items())]
    load = ph["load"]
    load_ok = True
    for op in [load] + ([raw["warmup"]] if phase == "untraced" else []):
        rows = ctx["rows"][op["iter"]]
        bad = [op[k] for k in ("convert_error", "query_error") if op[k]] or oracle.check_ingest(
            op["inputs"], op["conv_dir"], op["result"], gen.ingest_schemas(rows), rows, gen.INGEST_SQL)
        lines += [f"table set {op['iter']}: {b}" for b in bad]
        if bad and op is load:
            load_ok = False
    ops, failed = [load] + ph["report"], [] if load_ok else [load]
    for op in ph["report"]:
        if op["error"]:
            lines.append(f"error, {op['name']}: {op['error']}")
        if op["error"] or op["name"] in wrong:
            failed.append(op)
    rows = sum(gen.INGEST_ROWS.values())
    # a failed step misses every limit and adds nothing to a rate
    report_ms = math.inf if any(op in failed for op in ph["report"]) else sum(
        op["ms"] for op in ph["report"])
    convert_rate = rows / (load["convert_ms"] / 1000) if load_ok else 0.0
    load_rate = rows / (load["ms"] / 1000) if load_ok else 0.0
    shown = [f"analytic_wall_s = {report_ms / 1000:.3f} s ({len(REPORT_QUERIES)}-query report)",
             f"ingest_rows_per_s = {convert_rate:.0f} rows/s (table set of {rows} rows, conversion)",
             f"ingest_query_s = {load['query_ms'] / 1000:.3f} s",
             f"load_rows_per_s = {load_rate:.0f} rows/s (conversion + query)",
             f"batch_pass_s = {(load['ms'] + report_ms) / 1000:.3f} s (load + report)"]
    return ops, failed, lines, {"latency_ms": report_ms, "rate_per_s": load_rate}, shown


EVAL = {"serve": eval_serve, "batch": eval_batch}


def per_layer(workload, raw, ctx):
    """Per-layer metrics of the traced phase. Both workloads report every
    metric; a layer the workload does not exercise reads 0. "Per query"
    divides by serve queries or report query executions; other batch
    figures are per phase (one table set load plus one report)."""
    ph = raw["traced"]
    with open(os.path.join(ctx["out"], "spans.json")) as f:
        st = measure.self_times(json.load(f))
    m = {k: 0.0 for k in PER_LAYER}
    if workload == "serve":
        ops, nq = ph["ops"], len(ph["ops"])
        per, io = nq, ph["counters"]
        m["exec.jobs_per_query"] = sum(op.get("jobs", 0) for op in ops) / nq
        m["exec.tasks_per_query"] = sum(op.get("tasks", 0) for op in ops) / nq
        m["exec.driver_gap_ms_per_query"] = sum(op["ms"] - op.get("busy_ms", 0) for op in ops) / nq
        m["exec.task_ms"] = sum(op.get("task_ms", 0) for op in ops) / nq
        m["io.rows_read_per_result_row"] = io["input_rows"] / max(sum(op["rows"] for op in ops), 1)
        m["serve.repeat_share"] = measure.repeat_share([op["idx"] for op in raw["untraced"]["ops"]])
    else:
        per, nq = 1, len(ph["report"])
        rep, load, counts = ph["report"], ph["load"], ph["counters"]
        io = counts["report"]
        m["exec.jobs_per_query"] = io["jobs"] / nq
        m["exec.tasks_per_query"] = io["tasks"] / nq
        m["exec.task_ms"] = io["task_ms"]
        m["exec.core_busy_ratio"] = io["task_ms"] / (sum(op["ms"] for op in rep) * raw["cores"])
        check = os.path.join(ctx["out"], "check")  # one result per report query
        result_rows = max(sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                              for d, _, fs in os.walk(check) for f in fs if f.endswith(".parquet")), 1)
        m["io.rows_read_per_result_row"] = io["input_rows"] / result_rows
        for op in rep:
            m[f"queries.{op['name']}_s"] = op["ms"] / 1000
        m["sources.convert_s"] = load["convert_ms"] / 1000
        m["sources.scan_tasks"] = statistics.median(load["det_scan_partitions"])
        m["sources.catalog_write_ms"] = sum(
            ms for k, ms in counts["load"]["actions_ms"].items() if "AsSelect" in k)
        m["stats.inject_ms"] = load["stats_inject_ms"]
        m["result.jobs"] = counts["load"]["result_jobs"]
    for name in ("dialect.parse", "dialect.translate", "catalyst.optimize", "catalyst.physical",
                 "result.collect", "result.write", "queries.build"):
        m[f"{name}_ms"] = st.get(name, (0, 0.0))[1] / per
    m["io.input_bytes"] = io["input_bytes"] / per
    m["shuffle.write_bytes"] = io["shuffle_write_bytes"] / per
    m["shuffle.read_bytes"] = io["shuffle_read_bytes"] / per
    m["spill.disk_bytes"] = io["spill_disk_bytes"] / per
    m["codegen.compiles_per_query"] = ph["codegen_compiles"] / nq
    m["codegen.compile_ms_per_query"] = ph["codegen_ms"] / nq
    m["jvm.gc_ms"] = ph["gc_ms"]
    m["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    m["jvm.retained_mb"] = raw["retained_mb"]
    m["tables.load_ms"] = raw["tables_load_ms"]
    return m


PER_LAYER = [
    "dialect.parse_ms", "dialect.translate_ms", "catalyst.optimize_ms", "catalyst.physical_ms",
    "codegen.compiles_per_query", "codegen.compile_ms_per_query", "exec.jobs_per_query",
    "exec.tasks_per_query", "exec.driver_gap_ms_per_query", "exec.task_ms", "exec.core_busy_ratio",
    "io.input_bytes", "io.rows_read_per_result_row", "shuffle.write_bytes", "shuffle.read_bytes",
    "spill.disk_bytes", "queries.build_ms"] + [f"queries.{q}_s" for q in REPORT_QUERIES] + [
    "tables.load_ms", "sources.convert_s", "sources.scan_tasks", "sources.catalog_write_ms",
    "stats.inject_ms", "result.collect_ms", "result.write_ms", "result.jobs", "jvm.gc_ms",
    "jvm.peak_rss_mb", "jvm.retained_mb", "serve.repeat_share", "trace.overhead_ratio"]


def layer_units():
    """Unit of each per-layer metric, from its name."""
    def unit(k):
        if k.endswith("_ms") or k.endswith("_ms_per_query"):
            return "ms"
        if k.endswith("_mb"):
            return "MB"
        if k.endswith("_s"):
            return "s"
        if k.endswith("_bytes"):
            return "bytes"
        if k.endswith("ratio") or k.endswith("share"):
            return "ratio"
        return "count"
    return {k: unit(k) for k in PER_LAYER}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(EVAL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check.py"):
        if not os.path.isfile(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a checkout of the engine")
    work = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(work, exist_ok=True)
    classpath = build(root, work)
    started = time.time()

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out, tmp = (os.path.join(run_dir, d) for d in ("inputs", "out", "tmp"))
    for d in (inputs, out, tmp):
        os.makedirs(d)
    cores = len(os.sched_getaffinity(0))
    ctx = {"root": root, "inputs": inputs, "out": out, "cores": cores}
    ctx.update(make_inputs(args.workload, args.seed, args.trace, inputs))

    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--inputs", inputs, "--out", out,
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores),
        "--queries", ",".join(REPORT_QUERIES)]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                                timeout=max(RUN_LIMIT_S - (time.time() - started), 10)).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        die(f"engine run failed ({rc})")
    with open(os.path.join(out, "raw.json")) as f:
        raw = json.load(f)

    ops, failed, failures, figures, shown = EVAL[args.workload](raw, "untraced", ctx)
    attempted, n_failed = len(ops), len(failed)
    metrics = {"setup_s": statistics.median(raw["setup_s"]), **figures}
    shown += [f"setup_s = {metrics['setup_s']:.3f} s (median of {len(raw['setup_s'])} set-ups)",
              f"jvm.retained_mb = {raw['retained_mb']:.1f} MB",
              f"jvm.peak_rss_mb = {raw['peak_rss_mb']:.1f} MB",
              f"error_rate = {n_failed / max(attempted, 1):.4f} ({n_failed} of {attempted} operations)"]
    units = dict(END_TO_END)
    report = {k: {"value": metrics[k], "unit": units[k]} for k, _ in END_TO_END}
    if args.trace:
        _, _, t_failures, t_figures, _ = EVAL[args.workload](raw, "traced", ctx)
        failures += [f for f in t_failures if f not in failures]
        layers = per_layer(args.workload, raw, ctx)
        layers["trace.overhead_ratio"] = t_figures["latency_ms"] / figures["latency_ms"] - 1
        lu = layer_units()
        report = {k: {"value": layers[k], "unit": lu[k]} for k in PER_LAYER}
        shown += [f"{k} = {layers[k]:.6g} {lu[k]}" for k in PER_LAYER]
    for s in shown:
        print(s)
    for f in failures:
        print(f"FAILED {f}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": n_failed,
                      "metrics": report}))


if __name__ == "__main__":
    main()
