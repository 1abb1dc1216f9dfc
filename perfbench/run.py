#!/usr/bin/env python3
"""vunnel_spark benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload store_updates --seed 1 --seconds 6 --trace 0

Run it from the repository root.  Steps:

1. Write the seed's inputs (``gen.py``) and their DuckDB oracle digests
   under ``.perfbench/data/seed-<n>/``, once per seed, outside all timing.
2. Set up twice: a probe process and the measuring process, each timed
   from spawn to its first completed Spark job.  ``setup_s`` is the median
   (a third set-up would cost a sixth of a run).  The probe also fills
   per-seed input caches (osv1's) and takes the ``jvm_hash`` CPU probe.
3. The measuring process (``worker.py``) runs a cold pass, checks every
   query of that pass against its oracle, runs ``WARMUP_PASSES`` passes
   it does not measure, then measures warm passes for ``--seconds``.
   With ``--trace 1`` the warm passes alternate untraced and traced; the
   traced ones record spans and per-layer metrics.

The gated pass metrics are CPU seconds of the driver's process tree
(``cold_pass_cpu_s``, ``warm_pass_cpu_s``).  Wall times (``cold_pass_s``,
``warm_pass_s``) are reported too, but on a shared host they also move
with the CPU time other tenants take (steal), which shifts every figure of
a run together; CPU time moves much less.

Every process runs on ``local[<nproc>]`` with its own ``SPARK_LOCAL_DIRS``
and ``TMPDIR`` under ``.perfbench/runs/``, deleted when the run ends.  The
second-to-last stdout line is a JSON report (settings, CPU probe, samples,
failures); the last line is the result::

    {"correct": true, "attempted": 42, "failed": 0, "metrics": {...}}

``attempted`` counts query executions.  ``failed`` counts those that
raised, plus, for a query whose cold-pass result differed from the oracle,
every execution of it: each pass builds the same query from the same
inputs.  Any failure makes the exit code 1.  Seed 1, the default,
is the seed to check changes with; a claimed gain must also hold on a seed
not used while writing the change (such as 1009).  Spans of a traced run
are written to ``.perfbench/traces/<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

#: the driver JVM heap: fixed, so peak RSS compares across machines, and
#: small enough that several runs fit a 15 GiB box
DRIVER_MEM = "2g"
#: warm passes run and not measured.  The JIT compiler keeps working for
#: many passes, so a pass's CPU time keeps falling, fastest over the first
#: warm pass; a second warm-up pass did not make runs steadier
WARMUP_PASSES = 1
#: measured warm passes a run makes at least, whatever ``--seconds`` says;
#: their median is robust to one that is still warming up
MIN_WARM = 3
#: a run that has not finished by then is killed and reports nothing; the
#: workloads in BENCHMARK.json take about a minute, the others a few
RUN_LIMIT_S = 600.0
#: a process not set up by then counts as failed
READY_LIMIT_S = 60.0
#: unit of every end-to-end figure in the report line, gated or not
REPORTED_UNITS = {
    "setup_s": "s", "cold_pass_cpu_s": "s", "warm_pass_cpu_s": "s",
    "cold_pass_s": "s", "warm_pass_s": "s", "failed_frac": "ratio",
    "peak_rss_mb": "MB", "store_bytes_per_input_byte": "B/B",
}



def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def child_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
        # no hsperfdata file in /tmp, from the driver or from spark-submit's
        # launcher JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p),
        "PYTHONHASHSEED": "0",
    })
    return env


def _session(sid: int) -> list[int]:
    """Live processes of session ``sid``: a child started in its own
    session, its JVM, and the Python worker daemon, which moves to a
    process group of its own but stays in the session."""
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    state, _ppid, _pgrp, session = f.read().rsplit(")", 1)[1].split()[:4]
            except (OSError, ValueError):
                continue
            if int(session) == sid and state != "Z":
                out.append(int(entry))
    return out


class Child:
    """A worker process in its own session, with the JVM and Python
    workers it starts; ``setup_s`` is spawn -> its READY line."""

    def __init__(self, cfg: dict, env: dict, log_path: str):
        self.log = open(log_path, "ab")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            stdout=subprocess.PIPE, stderr=self.log, env=env, cwd=REPO,
            start_new_session=True,
        )
        ready, _, _ = select.select([self.proc.stdout], [], [], READY_LIMIT_S)
        line = self.proc.stdout.readline() if ready else b""
        self.setup_s = time.perf_counter() - t0
        self.ready = line.strip() == b"READY"

    def wait(self, deadline: float) -> int:
        try:
            return self.proc.wait(timeout=max(1.0, deadline - time.perf_counter()))
        finally:
            self.close()

    def close(self) -> None:
        """Kill whatever of the session still runs and wait until it ended."""
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        stop = time.perf_counter() + 30
        while (pids := _session(self.proc.pid)) and time.perf_counter() < stop:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
        self.proc.stdout.close()
        self.log.close()


def fail(msg: str, code: int = 2, log: str | None = None):
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its processes and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_begin = time.perf_counter()
    deadline = t_begin + RUN_LIMIT_S

    for need in ("vunnel_spark", "bench.py", os.path.join("scripts", "check_correctness.py"),
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(REPO, need)):
            fail(f"{need} not found next to perfbench/: run from a repository checkout")

    from perfbench import gen, oracle
    from perfbench.workloads import workloads

    end_to_end, per_layer = metric_units()

    wl = workloads().get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads())}")

    state = os.path.join(REPO, ".perfbench")
    sf_dir = gen.write_inputs(args.seed, os.path.join(state, "data", f"seed-{args.seed}"))
    oracle.expected(sf_dir, list(wl.queries))
    phases = {"inputs_and_oracle": time.perf_counter() - t_begin}

    run_dir = os.path.join(state, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    log = os.path.join(run_dir, "spark.log")
    children: list[Child] = []
    try:
        env = child_env(run_dir)
        cfg = {"sf_dir": sf_dir, "queries": list(wl.queries), "tables": list(wl.tables),
               "tmp": env["TMPDIR"], "seconds": args.seconds, "min_warm": MIN_WARM,
               "warmup": WARMUP_PASSES,
               "trace": args.trace, "out": os.path.join(run_dir, "result.json"),
               "probe_out": os.path.join(run_dir, "probe.json")}
        setups = []
        c = Child({**cfg, "mode": "probe"}, env, log)
        children.append(c)
        if not c.ready or c.wait(deadline) != 0:
            fail("set-up probe failed", 1, log)
        setups.append(c.setup_s)
        with open(cfg["probe_out"]) as f:
            hash_before = json.load(f)["jvm_hash_s"]
        phases["probe"] = time.perf_counter() - t_begin - sum(phases.values())
        c = Child({**cfg, "mode": "run"}, env, log)
        children.append(c)
        if not c.ready:
            fail("worker failed to start", 1, log)
        setups.append(c.setup_s)
        code = c.wait(deadline)
        phases["worker"] = time.perf_counter() - t_begin - sum(phases.values())
        if code != 0 or not os.path.exists(cfg["out"]):
            fail(f"worker exited with {code}", 1, log)
        with open(cfg["out"]) as f:
            res = json.load(f)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S:.0f} s", 1, log)
    finally:
        for c in children:
            c.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = res["failed"]
    for msg in res["failures"]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    values = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": res["cold_pass_s"],
        "warm_pass_s": statistics.median(res["warm_pass_s"]),
        "cold_pass_cpu_s": res["cold_pass_cpu_s"],
        "warm_pass_cpu_s": statistics.median(res["warm_pass_cpu_s"]),
        "failed_frac": failed / res["attempted"],
        "peak_rss_mb": res["peak_rss_mb"],
        "store_bytes_per_input_byte": res["store_bytes_per_input_byte"],
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "queries": list(wl.queries), "sf": gen.SF,
        "settings": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}
        | {"SPARK_LOCAL_DIRS": "per run, deleted", "TMPDIR": "per run, deleted"},
        "jvm_hash_s": {"before": hash_before, "after": res["jvm_hash_after_s"]},
        "setup_samples_s": setups,
        "cold_by_query_s": res["cold_by_query_s"],
        "warm_pass_samples_s": res["warm_pass_s"],
        "warm_pass_cpu_samples_s": res["warm_pass_cpu_s"],
        "cold_pass_jit_s": res["cold_pass_jit_s"],
        "warm_pass_jit_samples_s": res["warm_pass_jit_s"],
        "peak_rss_by_process_mb": res["peak_rss_by_process_mb"],
        "failures": res["failures"],
        "end_to_end": {k: {"value": v, "unit": REPORTED_UNITS[k]} for k, v in values.items()},
        "phases_s": phases,
        "wall_s": time.perf_counter() - t_begin,
    }
    if args.trace:
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        trace_path = os.path.join(state, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({k: res[k] for k in ("spans", "self_time_s", "layers", "traced_pass_s",
                                            "per_query")}
                      | {"warm_pass_s": res["warm_pass_s"]}, f)
        report["trace_file"] = os.path.relpath(trace_path, REPO)
        report["self_time_s"] = dict(
            sorted(res["self_time_s"].items(), key=lambda kv: -kv[1])[:12])
        # the pass span's own self time is the part no named span covers
        report["unattributed_frac"] = res["self_time_s"]["pass"] / sum(res["traced_pass_s"])
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in end_to_end.items()}
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
