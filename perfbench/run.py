#!/usr/bin/env python3
"""End-to-end benchmark of uts_spark, with an optional per-layer trace.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One driver process, one Spark session on
``local[nproc]`` with ``nproc`` shuffle partitions, one client: each
workload is a closed loop that issues its lanes in sequence through
``uts_spark.registry.QUERIES[name](spark, dir)`` and sinks each to the
``noop`` format. A run:

1. generates the workload's inputs from ``--seed`` (cached; not timed);
2. starts the session and runs one cold pass over the lanes, collecting
   each lane's rows for the correctness gate (``setup_s`` ends here);
3. runs ``SETTLE_PASSES`` untimed passes;
4. records host context: 1-min loadavg, ``bench._calib_spark`` and a
   probe of one-task jobs;
5. runs warm passes until ``--seconds`` have passed and at least
   ``MIN_LANE_RUNS`` lane runs are in the sample;
6. compares every lane's cold-pass rows with its DuckDB oracle
   (``registry.ORACLES``) on the same inputs, canonicalised by
   ``tools/oracle_check.py``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). A run with a failed lane
exits 1. The per-run detail (per-lane samples, structural fingerprints,
host context) is written under ``perfbench/.work/results/``.

With ``--trace 1`` warm passes alternate between untraced and traced;
the traced ones give the per-layer metrics (means per traced pass) and
``trace.overhead_frac`` compares the two kinds of pass. ``--smoke``
derives inputs from the sf0.001 base, settles for no passes and runs a
single warm pass (two with ``--trace 1``); the self-test
(``perfbench/selftest.py``) uses it.
"""

from __future__ import annotations

import argparse
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import engine  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402

BASE = os.path.join(HERE, "data", "sf0.01")
SMOKE_BASE = os.path.join(HERE, "data", "sf0.001")
MIN_LANE_RUNS = 40  # so that >= 10 warm lane runs lie beyond query_p75_s
PROBE_JOBS = 20     # one-task jobs in the scheduler probe

# Lanes per workload; BENCHMARK.json says why each workload exists.
# Inputs derive from the sf0.01 base.
# The lane counts keep query_p50_s and query_p75_s off the gap between
# two lanes of unlike wall: on uts_timeseries the p50 falls between two
# lanes of like wall and the p75 inside one lane's own samples.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "uts_timeseries": (
        "uts_global_agg",
        "uts_interval_mean_fill",
        "uts_derivative",
        "tpch_q6_forecast_revenue",
        "window_running_sum",
        "events_pattern_match",
    ),
    "service_cycle": (
        "versioned_wap_branch_publish",
        "cdc_merge_upserts",
        "cdc_table_changes_appendonly",
        "catalog_name_resolution",
        "similarity_topk_cosine",
        "stream_uts_interval_replay",
    ),
}
# Untimed passes between the cold pass and the measured window. Lane
# walls fall while the JVM compiles the hot paths: over ~8 passes on
# uts_timeseries, whose wall is mostly JVM execution, and ~3 on
# service_cycle, whose wall is mostly Python-side build. The median pass
# of the window lies past the slope when fewer than half of the
# window's passes are still on it.
SETTLE_PASSES = {"uts_timeseries": 5, "service_cycle": 0}

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p75_s": "s",
    "peak_rss_mb": "MB",
}
_LAYER_METRICS = {
    "sources": ("calls", "self_s", "jobs", "bytes_written"),
    "plans": ("calls", "self_s"),
    "operators": ("calls", "self_s", "jobs"),
    "functions": ("calls", "self_s", "jobs"),
    "streaming": ("calls", "self_s", "jobs"),
}
PER_LAYER_UNITS = {
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.gap_s": "s",
    **{
        f"{layer}.{m}": {"calls": "count", "self_s": "s", "jobs": "count",
                         "bytes_written": "B"}[m]
        for layer, ms in _LAYER_METRICS.items() for m in ms
    },
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.failed_tasks": "count",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.core_busy_frac": "frac",
    "engine.shuffle_write_bytes": "B",
    "engine.shuffle_read_bytes": "B",
    "engine.spill_bytes": "B",
    "engine.input_bytes": "B",
    "engine.persisted_rdds": "count",
    "python.run_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "trace.pass_s": "s",
    "trace.overhead_frac": "frac",
}


def _process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    ticks = int(stat[stat.rfind(")") + 2:].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _cpu_steal_s() -> float:
    """Host CPU time stolen from this VM so far (all CPUs), from /proc."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def plan_fingerprint(plan: str) -> tuple[int, str]:
    """(Exchange count, sha256 of the plan with expression ids, plan
    ids and file locations stripped) of a formatted physical plan."""
    s = re.sub(r"#\d+L?", "#", plan)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"file:[^,\]\s]*", "file:", s)
    n_exchange = len(re.findall(r"\b(?:Broadcast|Reused)?Exchange\b", s))
    return n_exchange, hashlib.sha256(s.encode()).hexdigest()[:16]


class Bench:
    """One run of one workload against one Spark session."""

    def __init__(self, spark, queries, data, lanes, tracer) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = queries
        self.data = data
        self.lanes = lanes
        self.tracer = tracer
        self.status = engine.StatusReader(spark)
        self.cores = self.sc.defaultParallelism
        self.failures: list[dict] = []
        self.attempted = 0
        self.peak_rss_mb = 0.0
        self.peak_rss_parts: dict[str, float] = {}
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def _sample_rss(self) -> None:
        """Peak RSS of the driver tree: the sum of each process's own
        peak (Python driver, JVM, Python workers)."""
        per = engine.tree_peak_rss_mb(os.getpid())
        total = sum(per.values())
        if total > self.peak_rss_mb:
            self.peak_rss_mb = total
            driver = per.get(os.getpid(), 0.0)
            jvm = per.get(self.jvm_pid, 0.0)
            self.peak_rss_parts = {
                "python_driver": driver, "jvm": jvm,
                "python_workers": total - driver - jvm,
                "processes": len(per),
            }

    def _lane(self, name: str, group: str, collect: bool, traced: bool):
        """Build and run one lane; None if it raised. The record holds
        ``build_s`` and ``action_s``; ``collect`` runs add ``result``
        (columns, rows, plan), warm runs the status ``mark`` taken before
        the lane, and traced runs the lane's ``jobs`` and ``python``
        metrics."""
        self.sc.setJobGroup(group, name)
        self.attempted += 1
        mark = None if collect else self.status.mark()
        t0 = time.perf_counter()
        try:
            if traced:
                self.tracer.lane_run = group
                df = self.tracer.span(
                    "queries", f"build:{name}", self.queries[name],
                    self.spark, self.data,
                )
            else:
                df = self.queries[name](self.spark, self.data)
            t1 = time.perf_counter()
            if collect:
                plan = df._jdf.queryExecution().executedPlan().toString()
                rows = [tuple(r) for r in df.collect()]
                result = (df.columns, rows, plan)
            else:
                result = None
                writer = df.write.format("noop").mode("overwrite")
                if traced:
                    self.tracer.span("queries", f"exec:{name}", writer.save)
                else:
                    writer.save()
            t2 = time.perf_counter()
        except Exception as ex:  # a failing lane is counted, not fatal
            self.failures.append({
                "lane": name, "group": group,
                "error": f"{type(ex).__name__}: {str(ex).splitlines()[0][:300]}",
            })
            return None
        rec = {"build_s": t1 - t0, "action_s": t2 - t1, "group": group}
        if collect:
            rec["result"] = result
        else:
            rec["mark"] = mark
        if traced:
            rec["jobs"] = self.status.jobs(mark, group)
            rec["python"] = self.status.python_metrics(mark, self.status.mark())
        return rec

    def cold_pass(self) -> dict[str, dict]:
        out = {}
        for name in self.lanes:
            got = self._lane(name, f"cold:{name}", collect=True, traced=False)
            if got is not None:
                out[name] = got
        self._sample_rss()
        return out

    def passes(self, label: str, seconds: float, min_runs: int,
               alternate: bool) -> list[dict]:
        """Closed loop of whole passes for ``seconds`` and at least
        ``min_runs`` untraced lane runs. With ``alternate``, passes
        alternate untraced/traced. Returns the list of pass records."""
        passes = []
        t_end = time.perf_counter() + seconds
        min_passes = 2 if alternate else 1
        runs = 0
        while (
            len(passes) < min_passes
            or time.perf_counter() < t_end
            or runs < min_runs
        ):
            k = len(passes)
            traced = alternate and k % 2 == 1
            rec = {
                "index": k, "traced": traced,
                "loadavg_1m": round(os.getloadavg()[0], 2),
                "lanes": {},
            }
            if self.tracer is not None:
                self.tracer.enabled = traced
            rec["start_mark"] = self.status.mark()
            t0 = time.perf_counter()
            for name in self.lanes:
                group = f"{label}{k}:{name}"
                lane = self._lane(name, group, collect=False, traced=traced)
                if lane is not None:
                    rec["lanes"][name] = lane
            rec["wall_s"] = time.perf_counter() - t0
            rec["end_mark"] = self.status.mark()
            if self.tracer is not None:
                self.tracer.enabled = False
            rec["persisted_rdds"] = self.status.persisted_rdds()
            self._sample_rss()
            passes.append(rec)
            runs += 0 if traced else len(rec["lanes"])
        return passes

    def scheduler_probe(self) -> float:
        """Median wall (ms) of a one-task JVM RDD job (no Python
        worker): the scheduler's per-job floor on this host now."""
        one = self.sc._jvm.java.util.ArrayList()
        one.add(0)
        rdd = self.sc._jsc.parallelize(one, 1)
        walls = []
        for _ in range(PROBE_JOBS):
            t0 = time.perf_counter()
            rdd.count()
            walls.append((time.perf_counter() - t0) * 1e3)
        return statistics.median(walls)


def check_oracles(data: str, cold: dict, oracles: dict) -> dict[str, dict]:
    """Hash-compare each lane's cold-pass rows with its DuckDB oracle."""
    import duckdb

    from tools.oracle_check import canon_rows

    con = duckdb.connect()
    try:
        for t in inputs.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data}/{t}.parquet/*.parquet')"
            )
        out = {}
        for name, lane in cold.items():
            cols, rows, _ = lane["result"]
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            s_cols, s_canon = canon_rows(cols, rows)
            o_cols, o_canon = canon_rows(ocols, res.fetchall())
            s_hash = hashlib.sha256(repr((s_cols, s_canon)).encode()).hexdigest()
            o_hash = hashlib.sha256(repr((o_cols, o_canon)).encode()).hexdigest()
            out[name] = {
                "rows": len(rows), "match": s_hash == o_hash,
                "hash": s_hash[:16], "oracle_hash": o_hash[:16],
            }
        return out
    finally:
        con.close()


def end_to_end(setup_s: float, passes: list[dict], peak_rss_mb: float):
    """The end-to-end metrics from the untraced warm passes, and the
    number of lane runs they pool."""
    untraced = [p for p in passes if not p["traced"]]
    lane_walls = [
        ln["build_s"] + ln["action_s"]
        for p in untraced for ln in p["lanes"].values()
    ]
    p75 = (
        statistics.quantiles(lane_walls, n=4)[2]
        if len(lane_walls) > 1 else lane_walls[0]
    )
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall_s"] for p in untraced),
        "query_p50_s": statistics.median(lane_walls),
        "query_p75_s": p75,
        "peak_rss_mb": peak_rss_mb,
    }, len(lane_walls)


def per_layer(tracer, passes: list[dict], cores: int) -> dict[str, float]:
    """Per-layer metrics: means per traced pass (``persisted_rdds``: the
    count after the last pass)."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    tot = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    spans_by_run: dict[str, list[tuple]] = {}
    for s in tracer.spans:
        spans_by_run.setdefault(s[6], []).append(s)
    own = layers.self_times(tracer.spans)
    for s in tracer.spans:
        if s[2] in _LAYER_METRICS:
            tot[f"{s[2]}.calls"] += 1
            tot[f"{s[2]}.self_s"] += own[s[0]]
    covered = 0.0
    for p in traced:
        for ln in p["lanes"].values():
            spans = spans_by_run.get(ln["group"], [])
            tot["queries.build_s"] += ln["build_s"]
            tot["queries.exec_s"] += ln["action_s"]
            lane_spans = [s for s in spans if s[2] == "queries"]
            lo = min(s[4] for s in lane_spans) + tracer.epoch_offset
            hi = max(s[5] for s in lane_spans) + tracer.epoch_offset
            jobs = ln["jobs"]
            busy = engine.union_s(
                [(j["submitted"], j["completed"] or hi) for j in jobs], lo, hi
            )
            covered += busy
            tot["queries.gap_s"] += (hi - lo) - busy
            owner = layers.attribute_jobs(spans, jobs, tracer.epoch_offset)
            for j in jobs:
                # a streaming query's jobs run on its own thread, after
                # the streaming layer built its plan
                span = owner[j["id"]]
                if j["stream"]:
                    layer = "streaming"
                else:
                    layer = span[2] if span is not None else "queries"
                if f"{layer}.jobs" in tot:
                    tot[f"{layer}.jobs"] += 1
                if layer == "sources":
                    tot["sources.bytes_written"] += j["outputBytes"]
                tot["engine.jobs"] += 1
                tot["engine.stages"] += j["stages"]
                tot["engine.tasks"] += j["numTasks"]
                tot["engine.failed_tasks"] += j["numFailedTasks"]
                tot["engine.executor_run_s"] += j["executorRunTime"] / 1e3
                tot["engine.executor_cpu_s"] += j["executorCpuTime"] / 1e9
                tot["engine.gc_s"] += j["jvmGcTime"] / 1e3
                tot["engine.shuffle_write_bytes"] += j["shuffleWriteBytes"]
                tot["engine.shuffle_read_bytes"] += j["shuffleReadBytes"]
                tot["engine.spill_bytes"] += (
                    j["memoryBytesSpilled"] + j["diskBytesSpilled"]
                )
                tot["engine.input_bytes"] += j["inputBytes"]
            for key, v in ln["python"].items():
                tot[key] += v
    n = len(traced)
    out = {k: v / n for k, v in tot.items()}
    out["engine.core_busy_frac"] = (
        tot["engine.executor_run_s"] / (covered * cores) if covered else 0.0
    )
    out["engine.persisted_rdds"] = passes[-1]["persisted_rdds"]
    t_med = statistics.median(p["wall_s"] for p in traced)
    u_med = statistics.median(p["wall_s"] for p in untraced)
    out["trace.pass_s"] = t_med
    out["trace.overhead_frac"] = t_med / u_med - 1.0
    return out


def check_python(status, passes: list[dict]) -> list[str]:
    """Each traced pass's python.* must equal the sum over the SQL
    executions between the pass's own start and end: the lanes read
    neither earlier executions nor miss any of their own."""
    bad = []
    for p in passes:
        if not p["traced"]:
            continue
        whole = status.python_metrics(p["start_mark"], p["end_mark"])
        for key, v in whole.items():
            lanes = sum(ln["python"][key] for ln in p["lanes"].values())
            if abs(lanes - v) > 1e-9 * max(1.0, abs(v)):
                bad.append(f"pass {p['index']}: {key} lanes {lanes} != pass {v}")
    return bad


def fingerprints(lanes, cold: dict, shape: dict) -> dict[str, dict]:
    """Per-lane structure: Exchange count and plan hash from the cold
    pass's physical plan, jobs and stages from the last warm pass."""
    out = {}
    for name in lanes:
        fp = {}
        if name in cold:
            fp["exchanges"], fp["plan_hash"] = plan_fingerprint(
                cold[name]["result"][2]
            )
        if name in shape:
            fp["jobs"], fp["stages"] = shape[name]
        out[name] = fp
    return out


def shutdown(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for all."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = engine.tree_pids(os.getpid()) - {os.getpid()}
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        engine.wait_gone(children, timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001-derived inputs and one warm pass")
    args = ap.parse_args(argv)
    t_proc = _process_start_epoch()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import uts_spark  # noqa: F401  fail before any work without it
    except ImportError as ex:
        print(f"perfbench: uts_spark is not importable: {ex}", file=sys.stderr)
        return 2
    lanes = WORKLOADS[args.workload]

    t0 = time.perf_counter()
    data, generated = inputs.ensure(
        os.path.join(WORK, "inputs"), SMOKE_BASE if args.smoke else BASE,
        args.seed,
    )
    gen_s = time.perf_counter() - t0

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    import tempfile

    tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir
    os.environ["UTS_SPARK_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    phases = {"generated": time.time() - t_proc}
    tracer = None
    n_wrapped = 0
    if args.trace:
        tracer = layers.Tracer()
        n_wrapped = layers.install(tracer)
    from uts_spark.registry import ORACLES, QUERIES
    from uts_spark.session import get_spark

    nproc = os.cpu_count() or 1
    spark = get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(run_dir, "local"),
            # the heap starts at its maximum, so how far the JVM grew it
            # (which follows GC pauses, and so the host's load) does not
            # move peak_rss_mb
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -Xms1g",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and SQL execution of a run readable
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    phases["session"] = time.time() - t_proc
    try:
        spark.sparkContext.setLogLevel("ERROR")
        runner = Bench(spark, QUERIES, data, lanes, tracer)
        cold = runner.cold_pass()
        phases["cold"] = time.time() - t_proc
        setup_s = phases["cold"] - gen_s
        n_settle = 0 if args.smoke else SETTLE_PASSES[args.workload]
        settle = runner.passes(
            "settle", 0, n_settle * len(lanes), alternate=False
        ) if n_settle else []
        phases["settled"] = time.time() - t_proc

        import bench as repo_bench

        context = {
            "loadavg_1m_start": round(os.getloadavg()[0], 2),
            "calib_spark_sec": repo_bench._calib_spark(spark),
            "scheduler_probe_ms": runner.scheduler_probe(),
            "settle_pass_s": [p["wall_s"] for p in settle],
        }
        phases["context"] = time.time() - t_proc
        steal0 = _cpu_steal_s()
        passes = runner.passes(
            "warm",
            0 if args.smoke else args.seconds,
            0 if args.smoke or args.trace else MIN_LANE_RUNS,
            alternate=bool(args.trace),
        )
        context["cpu_steal_s_in_warm_passes"] = _cpu_steal_s() - steal0
        phases["warm"] = time.time() - t_proc
        last = passes[-1]
        marks = [ln["mark"] for ln in last["lanes"].values()]
        marks.append(last["end_mark"])
        shape = {
            name: runner.status.shape(a, b)
            for name, a, b in zip(last["lanes"], marks, marks[1:])
        }
        python_problems = check_python(runner.status, passes)
        oracle = check_oracles(data, cold, ORACLES)
        phases["oracle"] = time.time() - t_proc
    finally:
        shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    phases["stopped"] = time.time() - t_proc
    for name, res in oracle.items():
        if not res["match"]:
            runner.failures.append({"lane": name, "group": f"cold:{name}",
                                   "error": "oracle mismatch"})

    e2e, n_lane_runs = end_to_end(setup_s, passes, runner.peak_rss_mb)
    metrics = e2e
    units = END_TO_END_UNITS
    if args.trace:
        metrics = per_layer(tracer, passes, runner.cores)
        units = PER_LAYER_UNITS

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "smoke": args.smoke, "cores": nproc, "lanes": list(lanes),
        "inputs": {"dir": os.path.relpath(data, ROOT), "generated": generated,
                   "generation_s": gen_s, "digest": inputs.digest(data)},
        "host": context,
        "phases_s_since_process_start": phases,
        "end_to_end": e2e,
        "warm_lane_runs": n_lane_runs,
        "peak_rss_mb_parts": runner.peak_rss_parts,
        "failed_frac": len(runner.failures) / runner.attempted,
        "failures": runner.failures,
        "oracle": oracle,
        "fingerprint": fingerprints(lanes, cold, shape),
        "cold_s": {n: c["build_s"] + c["action_s"] for n, c in cold.items()},
        "passes": [
            {**{k: v for k, v in p.items() if k != "lanes"},
             "lanes": {n: {"build_s": ln["build_s"],
                           "action_s": ln["action_s"]}
                       for n, ln in p["lanes"].items()}}
            for p in passes
        ],
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    if tracer is not None:
        detail["per_layer"] = metrics
        detail["wrapped_functions"] = n_wrapped
        detail["spans"] = len(tracer.spans)
        detail["span_nesting_problems"] = layers.check_nesting(tracer.spans)[:20]
        detail["python_metric_problems"] = python_problems
        layers.write_spans(os.path.join(out_dir, f"{tag}.spans.jsonl"),
                           tracer.spans)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)

    failed = len(runner.failures)
    for key, val in e2e.items():
        print(f"{key} = {val:.4f} {END_TO_END_UNITS[key]}")
    print(f"failed_frac = {failed / runner.attempted:.4f} frac "
          f"({failed} of {runner.attempted} lane runs)")
    print(f"warm lane runs = {n_lane_runs}; inputs generated in {gen_s:.2f} s "
          f"(not in setup_s); detail: {os.path.relpath(out_dir, ROOT)}/{tag}.json")
    for f in runner.failures:
        print(f"FAILED {f['lane']} ({f['group']}): {f['error']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
