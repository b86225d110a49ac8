#!/usr/bin/env python3
"""The repository's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the harness from
source (sbt, once per source fingerprint), generates the workload's tables
from the seed (`gen.py`), runs the JVM harness (`harness/`) over the
workload's fixed query list, checks every result against DuckDB running
`SparkEntry.oracleSql` (`oracle.py`), and prints one JSON object as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see `BENCHMARK.json` and `interactions.json`); the wall-clock
metrics, peak RSS, host load and steal, and any wrong or failed query go to
stderr.
Artifacts of the run (harness output, `result.json`, and with tracing the span
file and per-layer table) are written under `perfbench/.work/runs/`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

# Fixed query lists. Why each workload exists: BENCHMARK.json and
# interactions.json. Queries whose body writes under the program's fixed
# scratch root (scan_/sink_ file formats, bucketed and partitioned layouts,
# persisted indexes, the file-staged stream replays) are not used.
WORKLOADS = {
    # registry sample at sf0.1 rows, one cheap query per family: fixed
    # per-query cost dominates. Of the shared-index hooks it builds only
    # multimodal's: the others cost 1-22 s per set-up on a 4-core host and
    # set-up runs three times (see interactions.json). agg_approx_quantile
    # has no oracle and is hash-checked; stream_custom_source is the one
    # streaming query whose replay stays in memory.
    "registry_small": {"scale": 1, "queries": [
        "agg_approx_quantile", "ts_ewma", "sql_group_by_all",
        "text_length_profile", "pipeline_length_buckets", "emb_dim_variance",
        "multimodal_phash", "scan_parquet", "join_asof", "fn_string",
        "win_rank", "set_union", "filter_pred", "split_train_test",
        "limit_topk", "dataset_mix", "stream_custom_source"]},
    # industrial-ETL core at 5x sf0.1 rows: queries whose warm wall grows
    # most with rows (1x -> 5x here: 0.83 -> 1.50, 0.92 -> 2.05,
    # 1.18 -> 1.61 and 0.89 -> 1.79 s)
    "etl_large": {"scale": 5, "queries": [
        "join_interval_overlap", "join_range", "ts_rainflow_ranges",
        "win_topk_group"]},
}
JVM_HEAP = "3g"       # fixed (-Xms = -Xmx): the heap does not resize mid-run
RUN_DEADLINE_S = 170  # generation + harness + oracle check, build excluded

HOOKS = ["multimodal"]  # the shared-index builds the workloads consume
# The end-to-end metrics of BENCHMARK.json. On a shared 4-core VM the wall
# times of a run moved 20-80% (interquartile range over ten seeds) with the
# hypervisor's steal, so wall times are reported beside them (REPORTED) but
# the checked timings, set-up included, are the CPU time of the work itself
# (see WorkCpu in the harness), which steal and co-tenants stretch far less.
# Peak RSS is mostly the fixed heap (and without -Xms it moved 28% over five
# seeds, as G1 grew the heap by its own pause-time heuristics), so the checked
# memory metric is the live heap after a full GC.
END_TO_END = {"setup_s": "s", "cold_pass_cpu_s": "s", "pass_cpu_s": "s",
              "query_cpu_geomean_s": "s", "live_heap_mb": "MB"}
REPORTED = {"setup_wall_s": "s", "cold_pass_s": "s", "queries_per_s": "1/s",
            "query_p50_s": "s", "query_p90_s": "s", "query_geomean_s": "s",
            "peak_rss_mb": "MB"}
LAYER_SUMS = {  # summed over a pass's queries by the harness
    "entry.body_ms": "ms", "entry.sql_executions": "count",
    "entry.release_ms": "ms",
    "plan.analysis_ms": "ms", "plan.optimizer_ms": "ms",
    "plan.physical_ms": "ms", "plan.total_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.between_stage_ms": "ms", "sched.scheduler_delay_ms": "ms",
    "sched.task_deser_ms": "ms",
    "task.run_ms": "ms", "task.cpu_ms": "ms", "task.gc_ms": "ms",
    "task.failed": "count",
    "codegen.compile_ms": "ms", "codegen.classes": "count",
    "jvm.jit_ms": "ms", "jvm.gc_ms": "ms",
    "scan.records": "count", "scan.bytes": "bytes",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "spill.bytes": "bytes",
    "stream.batches": "count", "stream.input_rows": "count",
    "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.get_batch_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.state_commit_ms": "ms", "stream.state_update_ms": "ms",
    "stream.state_rows": "count", "stream.state_mem_bytes": "bytes",
    "stream.batch_p50_ms": "ms",
}
# counts that one client should repeat exactly from pass to pass
EXACT_COUNTS = ["entry.sql_executions", "sched.jobs", "sched.stages",
                "sched.tasks", "scan.records", "stream.batches",
                "stream.input_rows"]
PER_LAYER = dict(LAYER_SUMS, **{
    "entry.sql_exec_per_result": "ratio",
    "share.entry_pct": "%", "share.plan_pct": "%", "share.exec_pct": "%",
    "span.coverage_pct": "%",
    "cold.codegen_compile_ms": "ms", "cold.codegen_classes": "count",
    "cold.jvm_jit_ms": "ms", "cold.plan_total_ms": "ms",
    **{f"index.{h}_ms": "ms" for h in HOOKS},
    "index.cached_bytes": "bytes",
    "trace.overhead_pct": "%", "trace.nonrepeating_counts": "count",
    "error_rate": "ratio", "host.load1": "load", "host.steal_pct": "%",
})

JAVA_OPTS = [
    *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")],
    "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
    # JIT threads stay alive, so the harness can leave their CPU out
    "-XX:-UseDynamicNumberOfCompilerThreads",
    f"-Dperfbench.clk_tck={os.sysconf('SC_CLK_TCK')}",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- build ---------------------------------------------------------------

def _fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise SystemExit("[perfbench] no program sources next to perfbench/")
    stamp = os.path.join(WORK, "build.json")
    fp = _fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("fingerprint") == fp:
            return s["classpath"]
    log("building program and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
           "compile", "export harness/Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and ":" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("[perfbench] build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


# -- run -----------------------------------------------------------------

def run_harness(classpath, data, out, seconds, trace, queries, deadline):
    os.makedirs(os.path.join(out, "tmp"))
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *JAVA_OPTS,
           f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
           "-cp", classpath, "graft.perfbench.Harness", data, out,
           str(seconds), str(trace), ",".join(queries)]
    with open(os.path.join(out, "harness.log"), "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("[perfbench] harness ran past the deadline")
    if rc != 0:
        with open(os.path.join(out, "harness.log")) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"[perfbench] harness exited with {rc}")
    with open(os.path.join(out, "harness.json")) as f:
        return json.load(f)


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))]


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def end_to_end(h, warm):
    """END_TO_END and REPORTED metrics of the untraced warm passes. Latency
    percentiles are taken over the queries' median warm latencies, so each
    query weighs the same."""
    execs = [q for p in warm for q in p["queries"] if q["ok"]]
    wall, cpu = {}, {}
    for q in execs:
        wall.setdefault(q["name"], []).append(q["ms"] / 1e3)
        cpu.setdefault(q["name"], []).append(q["cpu_ms"] / 1e3)
    wall = [statistics.median(v) for v in wall.values()] or [float("nan")]
    cpu = [statistics.median(v) for v in cpu.values()] or [float("nan")]
    pass_s = lambda p, k: sum(q[k] for q in p["queries"]) / 1e3  # noqa: E731
    return {
        "setup_s": statistics.median(s["cpu_s"] for s in h["setups"]),
        "cold_pass_cpu_s": pass_s(h["passes"][0], "cpu_ms"),
        "pass_cpu_s": statistics.median(pass_s(p, "cpu_ms") for p in warm),
        "query_cpu_geomean_s": geomean(cpu),
        "peak_rss_mb": h["peak_rss_mb"],
        "live_heap_mb": h["live_heap_mb"],
        "setup_wall_s": statistics.median(s["s"] for s in h["setups"]),
        "cold_pass_s": h["passes"][0]["wall_ms"] / 1e3,
        "queries_per_s": sum(len(p["queries"]) for p in warm)
        / (sum(p["wall_ms"] for p in warm) / 1e3),
        "query_p50_s": pct(wall, 0.5),
        "query_p90_s": pct(wall, 0.9),
        "query_geomean_s": geomean(wall),
    }, len(execs)


def per_layer(h, warm, error_rate):
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    if len(traced) < 2:
        raise SystemExit("[perfbench] fewer than two traced warm passes")

    def med(k):
        return statistics.median(p["layers"].get(k, 0.0) for p in traced)
    m = {k: med(k) for k in LAYER_SUMS}
    wall = med("query.wall_ms") or float("nan")
    m["entry.sql_exec_per_result"] = (med("entry.results") / m["entry.sql_executions"]
                                      if m["entry.sql_executions"] else 0.0)
    # shares of query wall from spans measured apart; what they leave
    # uncovered is driver time outside every plan phase and job
    for layer in ("entry", "plan", "exec"):
        m[f"share.{layer}_pct"] = 100 * med(f"self.{layer}_ms") / wall
    m["span.coverage_pct"] = sum(m[f"share.{x}_pct"] for x in ("entry", "plan", "exec"))
    cold = h["passes"][0]["layers"]
    m["cold.codegen_compile_ms"] = cold.get("codegen.compile_ms", 0.0)
    m["cold.codegen_classes"] = cold.get("codegen.classes", 0.0)
    m["cold.jvm_jit_ms"] = cold.get("jvm.jit_ms", 0.0)
    m["cold.plan_total_ms"] = cold.get("plan.total_ms", 0.0)
    for hook in HOOKS:
        m[f"index.{hook}_ms"] = statistics.median(
            s["hooks_ms"].get(hook, 0.0) for s in h["setups"])
    m["index.cached_bytes"] = h["cached_bytes"]
    m["trace.overhead_pct"] = 100 * (
        statistics.median(p["wall_ms"] for p in traced) /
        statistics.median(p["wall_ms"] for p in untraced) - 1)
    nonrep = [k for k in EXACT_COUNTS
              if len({p["layers"].get(k, 0.0) for p in traced}) > 1]
    m["trace.nonrepeating_counts"] = len(nonrep)
    m["error_rate"] = error_rate
    m["host.load1"] = h["host"]["load1_end"]
    m["host.steal_pct"] = h["host"]["steal_pct"]
    return m, nonrep


def layer_table(workload, seed, metrics, nonrep):
    rows = [f"# Per-layer metrics: {workload}, seed {seed}", "",
            "Per warm pass (median over traced passes); `cold.*` from the "
            "traced cold pass; `index.*` median over set-ups.", "",
            "| metric | value | unit |", "|---|---:|---|"]
    rows += [f"| `{k}` | {metrics[k]:.6g} | {PER_LAYER[k]} |" for k in PER_LAYER]
    rows += ["", "Counts that did not repeat across traced passes: "
             + (", ".join(nonrep) or "none")]
    return "\n".join(rows) + "\n"


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    classpath = build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    data = os.path.join(WORK, "data", tag)
    out = os.path.join(WORK, "runs", tag)
    for d in (data, out):
        shutil.rmtree(d, ignore_errors=True)
    t0 = time.monotonic()
    gen.generate(data, a.seed, wl["scale"])
    t1 = time.monotonic()
    try:
        h = run_harness(classpath, data, out, a.seconds, a.trace,
                        wl["queries"], deadline)
        t2 = time.monotonic()
        verdict = oracle.check(data, os.path.join(out, "results"), h["oracle_sql"])
        log(f"generate {t1 - t0:.1f} s, harness {t2 - t1:.1f} s, "
            f"oracle check {time.monotonic() - t2:.1f} s")
    finally:
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(out, "local"), ignore_errors=True)

    # correctness: a query with a wrong result fails every execution
    wrong = {n: r for n, r in verdict.items() if r}
    wrong.update({f["name"]: f["error"] for f in h["result_failures"]})
    for n, hs in h["hashes"].items():
        if len(set(hs)) != 1 or hs[0].startswith("error"):
            wrong[n] = f"result hash differs across passes: {sorted(set(hs))}"
    timed = [q for p in h["passes"] for q in p["queries"]]
    failed = sum(1 for q in timed if q["name"] in wrong or not q["ok"])
    error_rate = failed / len(timed)
    for n, reason in sorted(wrong.items()):
        log(f"WRONG {n}: {reason}")
    for f in h["failures"]:
        log(f"FAILED {f['name']} (pass {f['pass']}): {f['error']}")

    warm = h["passes"][1:]
    if a.trace:
        metrics, nonrep = per_layer(h, warm, error_rate)
        units = PER_LAYER
        with open(os.path.join(out, "layers.md"), "w") as f:
            f.write(layer_table(a.workload, a.seed, metrics, nonrep))
        if nonrep:
            log(f"counts that did not repeat across traced passes: {nonrep}")
    else:
        metrics, n_ok = end_to_end(h, [p for p in warm if not p["traced"]])
        units = END_TO_END
        log(f"{n_ok} warm executions over {len(warm)} warm passes; " +
            ", ".join(f"{k} {metrics[k]:.4g} {u}" for k, u in REPORTED.items()))
    host = h["host"]
    log(f"host: load1 {host['load1_start']} -> {host['load1_end']}, "
        f"steal {host['steal_pct']:.2f}%; error_rate {error_rate:.4g} "
        f"({failed}/{len(timed)})")
    result = {"correct": failed == 0, "attempted": len(timed), "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(dict(result, reported={k: metrics[k] for k in REPORTED if k in metrics},
                       host=host, wrong=wrong, failures=h["failures"]), f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
