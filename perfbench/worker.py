"""One Spark driver process of a benchmark run.

``run.py`` starts this script with a JSON config as its only argument.
The script builds the session, runs its first job and prints ``READY`` --
the end of set-up, which ``run.py`` times from the moment it spawned the
process.  A ``probe`` process then fills any per-seed input cache and
exits.  It also takes the ``jvm_hash`` CPU probe, so the measuring process
does no Spark work before its cold pass.  A ``run`` process runs the
workload as a closed loop, one query at a time:

1. a cold pass, the first Spark work after its first job;
2. the oracle check, which re-runs and collects every DataFrame of the
   cold pass and compares it with the DuckDB digest;
3. ``warmup`` passes that are not measured: the JIT compiler still works
   through them;
4. warm passes until ``seconds`` have passed (at least ``min_warm``).  In
   a traced run they alternate untraced and traced passes.  The reported
   figure is the median of the untraced ones;
5. the ``jvm_hash`` probe again.

A pass is, for every query, construction plus one consuming action on the
query's own QueryExecution (``toRdd().count()``), then ``clearCache``.
Each pass records its wall time and the CPU time of the process tree
(the Python driver, the JVM and the Python worker daemon).  The result is
written as JSON to ``config["out"]``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import nullcontext

T_START = time.perf_counter()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import plan, trace  # noqa: E402


def dir_usage(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                size += os.lstat(os.path.join(dirpath, n)).st_size
                files += 1
            except OSError:
                continue
    return files, size


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every descendant,
    live or reaped."""
    ticks = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> tuple[float, dict[str, float]]:
    """Sum of the high-water RSS of this process and every descendant --
    the driver JVM, the Python worker daemon and its forked workers -- and
    the same by process name."""
    by_name: dict[str, float] = {}
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        name = fields.get("Name", "?").strip()
        by_name[name] = by_name.get(name, 0.0) + int(fields.get("VmHWM", "0 kB").split()[0]) / 1024
    return sum(by_name.values()), by_name


def jvm_hash_s(spark) -> float:
    """bench.py's CPU probe, scaled down: xxhash over a data-free range.
    Like bench.py it runs twice and times the second run; the first pays
    codegen."""
    from pyspark.sql import functions as F

    df = spark.range(50_000_000).select(F.bit_xor(F.xxhash64("id")))
    df.collect()
    t0 = time.perf_counter()
    df.collect()
    return time.perf_counter() - t0


class Runner:
    def __init__(self, spark, cfg: dict):
        from vunnel_spark.registry import all_queries

        self.spark, self.cfg = spark, cfg
        qs = all_queries()
        self.queries = [(n, qs[n]) for n in cfg["queries"]]
        self.tracer = trace.Tracer(spark.sparkContext)
        self.jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        self.attempted = 0
        self.failures: list[str] = []
        #: query -> executions that did not raise
        self.completed: dict[str, int] = {n: 0 for n, _ in self.queries}

    def one_pass(self, traced: bool, keep: bool = False) -> dict:
        """Run every query once; returns the pass record, with the
        DataFrames under ``dfs`` if ``keep``."""
        sf_dir, spark, tr = self.cfg["sf_dir"], self.spark, self.tracer

        def span(name, kind):
            return tr.span(name, kind) if traced else nullcontext()

        before = dir_usage(self.cfg["tmp"])
        undo, nodes, dfs, rows, per_query, by_query = [], [], {}, 0, {}, {}
        if traced:
            tr.pass_id += 1
            first_job = self.newest_job()
            undo = trace.install_wrappers(tr)
        cpu0 = tree_cpu_s()
        jit0 = self.jit.getTotalCompilationTime()
        t0 = time.perf_counter()
        try:
            with span("pass", "pass"):
                for name, fn in self.queries:
                    self.attempted += 1
                    try:
                        with span(name, "query"):
                            q0 = time.perf_counter()
                            with span("construct", "construct"):
                                df = fn(spark, sf_dir)
                            q1 = time.perf_counter()
                            with span("action", "action"):
                                rows += df._jdf.queryExecution().toRdd().count()
                            by_query[name] = [q1 - q0, time.perf_counter() - q1]
                            if traced:
                                with span("plan_walk", "bench"):
                                    q_nodes = plan.walk(df)
                                nodes.extend(q_nodes)
                                per_query[name] = plan.summarize(q_nodes) | dict(
                                    zip(("construct_s", "action_s"), by_query[name]))
                            with span("clear_cache", "bench"):
                                spark.catalog.clearCache()
                        dfs[name] = df
                        self.completed[name] += 1
                    except Exception as e:  # noqa: BLE001 - counted, not raised
                        self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                        spark.catalog.clearCache()
        finally:
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
            jit = (self.jit.getTotalCompilationTime() - jit0) / 1000
            trace.remove_wrappers(undo)
        after = dir_usage(self.cfg["tmp"])
        rec = {"wall_s": wall, "cpu_s": cpu, "jit_s": jit, "by_query": by_query,
               "files_written": after[0] - before[0], "bytes_written": after[1] - before[1]}
        if keep:
            rec["dfs"] = dfs
        if traced:
            m = self.layers(tr.pass_spans(tr.pass_id), nodes, first_job)
            m["exec.output_rows"] = rows
            m["sinks.files_written"] = rec["files_written"]
            m["sinks.bytes_written"] = rec["bytes_written"]
            rec["layers"] = m
            rec["per_query"] = per_query
        return rec

    def _jobs_newest_first(self):
        it = self.spark.sparkContext._jsc.sc().statusStore().jobsList(None).iterator()
        while it.hasNext():
            yield it.next()

    def newest_job(self) -> int:
        return next((j.jobId() for j in self._jobs_newest_first()), -1)

    def jobs(self, after_job: int) -> list[tuple[str, float, int, int]]:
        """(job group, seconds, stages, tasks) of every job newer than
        ``after_job``."""
        out = []
        for j in self._jobs_newest_first():
            if j.jobId() <= after_job:
                break
            group, sub, done = j.jobGroup(), j.submissionTime(), j.completionTime()
            secs = ((done.get().getTime() - sub.get().getTime()) / 1000
                    if sub.isDefined() and done.isDefined() else 0.0)
            out.append((group.get() if group.isDefined() else "", secs,
                        j.stageIds().size(), j.numTasks() - j.numSkippedTasks()))
        return out

    def layers(self, spans: list, nodes, first_job: int) -> dict[str, float]:
        by_id = {s.id: s for s in spans}
        m = plan.summarize(nodes)
        for k in ("queries.construct_s", "queries.eager_jobs", "queries.eager_job_s",
                  "operators.eager_jobs", "pipelines.eager_jobs", "sinks.call_s",
                  "sinks.jobs", "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks"):
            m[k] = 0
        for s in spans:
            if s.kind == "construct":
                m["queries.construct_s"] += s.duration
            elif s.kind == "action":
                m["exec.action_s"] += s.duration
            elif s.kind == "sinks" and trace.innermost(by_id, s.parent, ("sinks",)) is None:
                m["sinks.call_s"] += s.duration
        prefix = self.tracer.group_prefix
        for group, secs, stages, tasks in self.jobs(first_job):
            if not group.startswith(prefix):
                continue
            span_id = int(group[len(prefix):])
            if trace.innermost(by_id, span_id, ("action",)) is not None:
                m["exec.jobs"] += 1
                m["exec.stages"] += stages
                m["exec.tasks"] += tasks
                continue
            if trace.innermost(by_id, span_id, ("construct",)) is not None:
                m["queries.eager_jobs"] += 1
                m["queries.eager_job_s"] += secs
            layer = trace.innermost(by_id, span_id, ("operators", "pipelines", "sinks"))
            if layer is not None:
                m["sinks.jobs" if layer.kind == "sinks" else f"{layer.kind}.eager_jobs"] += 1
        return m


def run(spark, cfg: dict, setup: dict) -> dict:
    from perfbench import oracle

    r = Runner(spark, cfg)
    cold = r.one_pass(traced=False, keep=True)
    input_bytes = sum(
        os.path.getsize(os.path.join(cfg["sf_dir"], f"{t}.parquet")) for t in cfg["tables"]
    )
    want = oracle.expected(cfg["sf_dir"], cfg["queries"])
    wrong: dict[str, str] = {}
    for name, df in cold["dfs"].items():
        try:
            bad = oracle.mismatch(df, want[name])
        except Exception as e:  # noqa: BLE001
            bad = f"{type(e).__name__}: {str(e)[:300]}"
        if bad:
            wrong[name] = f"{name}: oracle mismatch: {bad}"

    from perfbench import kernels

    kernel_payloads = (kernels.payloads(spark, cfg["sf_dir"], cfg["queries"])
                       if cfg["trace"] else {})

    warmup = [r.one_pass(traced=False) for _ in range(cfg["warmup"])]
    warm, traced, kernel_runs = [], [], []
    deadline = time.perf_counter() + cfg["seconds"]
    while True:
        n_plain = len(warm)
        enough = n_plain >= cfg["min_warm"] and (not cfg["trace"] or traced)
        if enough and time.perf_counter() >= deadline:
            break
        do_trace = bool(cfg["trace"]) and len(traced) < n_plain
        rec = r.one_pass(traced=do_trace)
        (traced if do_trace else warm).append(rec)
        if do_trace and kernel_payloads:
            kernel_runs.append(kernels.time_kernels(kernel_payloads))
    hash_after = jvm_hash_s(spark)

    for kr in kernel_runs[1:]:
        for k, (_s, digest) in kr.items():
            if digest != kernel_runs[0][k][1]:
                r.failures.append(f"{k}: output digest changed between passes")

    rss, rss_by_process = peak_rss_mb()
    out = {
        "setup": setup,
        "attempted": r.attempted,
        # every pass builds the same query from the same inputs, so a query
        # whose checked result was wrong counts as failed in every pass
        "failed": len(r.failures) + sum(r.completed[n] for n in wrong),
        "failures": r.failures + list(wrong.values()),
        "cold_pass_s": cold["wall_s"],
        "cold_pass_cpu_s": cold["cpu_s"],
        "cold_by_query_s": cold["by_query"],
        "warmup_pass_s": [w["wall_s"] for w in warmup],
        "warm_pass_s": [w["wall_s"] for w in warm],
        "warm_pass_cpu_s": [w["cpu_s"] for w in warm],
        "cold_pass_jit_s": cold["jit_s"],
        "warm_pass_jit_s": [w["jit_s"] for w in warm],
        "store_bytes_per_input_byte": statistics.median(
            [w["bytes_written"] for w in warm]) / input_bytes,
        "peak_rss_mb": rss,
        "peak_rss_by_process_mb": rss_by_process,
        "jvm_hash_after_s": hash_after,
    }
    if cfg["trace"]:
        layer_keys = traced[0]["layers"].keys()
        layers = {k: statistics.median([t["layers"][k] for t in traced]) for k in layer_keys}
        for k in kernels.METRICS.values():
            layers[k] = (statistics.median([kr[k][0] for kr in kernel_runs])
                         if kernel_runs and k in kernel_runs[0] else 0.0)
        layers["session.get_spark_s"] = setup["get_spark_s"]
        layers["session.first_job_s"] = setup["first_job_s"]
        layers["store_bytes_per_input_byte"] = out["store_bytes_per_input_byte"]
        layers["peak_rss_mb"] = rss
        layers["cold_pass_s"] = cold["wall_s"]
        layers["warm_pass_s"] = statistics.median(out["warm_pass_s"])
        layers["trace.overhead_frac"] = (
            statistics.median([t["wall_s"] for t in traced])
            / statistics.median(out["warm_pass_s"]) - 1
        )
        out["layers"] = layers
        out["traced_pass_s"] = [t["wall_s"] for t in traced]
        out["per_query"] = [t["per_query"] for t in traced]
        out["spans"] = [vars(s) for s in r.tracer.spans]
        out["self_time_s"] = trace.self_time_by_name(r.tracer.spans)
    return out


def main() -> None:
    cfg = json.loads(sys.argv[1])
    from vunnel_spark.session import get_spark

    spark = get_spark("perfbench")
    t_session = time.perf_counter()
    spark.range(1).count()
    t_first = time.perf_counter()
    print("READY", flush=True)
    setup = {"get_spark_s": t_session - T_START, "first_job_s": t_first - t_session}
    try:
        if cfg["mode"] == "probe":
            if "osv1_fixdate_patch" in cfg["queries"]:
                from vunnel_spark.queries.pipelines_q import osv1_materialized_inputs

                osv1_materialized_inputs(spark, cfg["sf_dir"])
            with open(cfg["probe_out"], "w") as f:
                json.dump({"jvm_hash_s": jvm_hash_s(spark)}, f)
            return
        out = run(spark, cfg, setup)
        with open(cfg["out"], "w") as f:
            json.dump(out, f)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
