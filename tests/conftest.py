"""Shared fixtures + the sharded suite runner (optimization r12).

VERDICT r11 #1: the full suite (492 Spark-heavy tests, ~30 min
single-process) no longer fits the driver's verify window — and
pytest-xdist is not installable here (no network). The runner below
is a minimal process-level sharder living entirely in this conftest:

- the PARENT pytest (the process the driver invokes) collects as
  usual, groups test files into N weight-balanced shards, and runs
  one child ``pytest -q <files>`` per shard CONCURRENTLY;
- each CHILD really executes its tests and streams one JSON line per
  test result to a shard file (hook below);
- the parent then REPLAYS every child result through its own
  reporting hooks in collection order — dots, failure tracebacks,
  counts, ``-x`` semantics and the exit code are all computed by
  pytest itself from the relayed reports, so the parent's output is a
  faithful record of tests that genuinely ran (in children).

Isolation: every shard gets its OWN Spark session (its process's
session fixture) and its OWN warehouse root (UTS_SPARK_WAREHOUSE —
honored by uts_spark.queries.llm_ops._warehouse_dir), so two shards
never contend on one lane's service-state dir. Set UTS_TEST_SHARDS=1
to disable sharding (the child processes themselves run with the
shard var set and never recurse).
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uts_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # small local session for tests: 4 threads keeps startup + shuffle cheap
    s = get_spark("uts-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# --------------------------------------------------------------------------
# sharded runner

_SHARD_ENV = "UTS_TEST_SHARD"
_RESULT_ENV = "UTS_TEST_RESULT_FILE"

# measured per-file seconds: the sum of each file's call durations in
# a full sharded run (`pytest tests/ --durations=0`, four shards on a
# 4-vCPU host, so every figure carries the same contention) — a
# BALANCING hint only; files absent here weight by test count.
# Staleness only unbalances shards, never breaks them.
_FILE_WEIGHTS = {
    "tests/test_llm_ops.py": 1330.0,
    "tests/test_sinks.py": 980.0,
    "tests/test_plan_properties.py": 770.0,
    "tests/test_streaming.py": 490.0,
    "tests/test_index_protocol.py": 360.0,
    "tests/test_property_model.py": 90.0,
    "tests/test_operators.py": 70.0,
    "tests/test_corpus_ops.py": 60.0,
    "tests/test_mining.py": 60.0,
    "tests/test_uts_goldens.py": 40.0,
    "tests/test_timeseries.py": 25.0,
}


def pytest_runtest_logreport(report):
    """CHILD side: stream each test's primary result to the shard's
    result file (one JSON line; the parent replays them)."""
    path = os.environ.get(_RESULT_ENV)
    if not path:
        return
    interesting = report.when == "call" or (
        report.when in ("setup", "teardown") and report.outcome != "passed"
    )
    if not interesting:
        return
    rec = {
        "nodeid": report.nodeid,
        "when": report.when,
        "outcome": report.outcome,
        "duration": getattr(report, "duration", 0.0),
        "longrepr": (
            str(report.longrepr) if report.longrepr is not None else None
        ),
        # set by the xfail plugin: relayed so the parent counts the
        # result as xfailed / xpassed rather than skipped / passed
        "wasxfail": getattr(report, "wasxfail", None),
    }
    with open(path, "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def _partition(files: list[tuple[str, int]], n: int) -> list[list[str]]:
    """Greedy longest-processing-time bin packing of (file, n_tests)
    into n shards using _FILE_WEIGHTS as the size hint."""
    weighted = sorted(
        files,
        key=lambda fn: -_FILE_WEIGHTS.get(fn[0], 2.0 * fn[1]),
    )
    bins: list[list[str]] = [[] for _ in range(n)]
    loads = [0.0] * n
    for f, cnt in weighted:
        i = loads.index(min(loads))
        bins[i].append(f)
        loads[i] += _FILE_WEIGHTS.get(f, 2.0 * cnt)
    return [b for b in bins if b]


def _shard_heap(n_shards: int) -> str:
    """Default driver heap per shard JVM: half of MemTotal split between
    the shards, capped at 6g (an explicitly set SPARK_GRAFT_DRIVER_MEM
    still wins). The other half is for what a heap does not count: each
    JVM's off-heap memory (metaspace, code cache, thread stacks, direct
    buffers) and each shard's Python workers. With MemTotal / n_shards
    as heaps on a 16 GB host, the four JVMs reached 2.6-5.2 GB RSS
    beside ~2.5 GB of Python workers and the OOM killer took the
    largest JVM."""
    cap_mb = 6 * 1024
    try:
        with open("/proc/meminfo") as fh:
            total_kb = next(
                int(line.split()[1]) for line in fh
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return f"{cap_mb}m"
    return f"{min(cap_mb, total_kb // 1024 // (2 * n_shards))}m"


def _relay(session, item, rec, fallback_msg):
    """Replay one child result (or its absence) through the parent's
    reporting hooks — pytest's own Session/TerminalReporter hooks then
    handle counts, dots, -x and the exit code."""
    from _pytest.reports import TestReport

    if rec is None:
        outcome, when = "failed", "call"
        longrepr = fallback_msg
        duration = 0.0
    else:
        outcome = rec["outcome"]
        when = rec["when"]
        duration = rec.get("duration") or 0.0
        longrepr = rec.get("longrepr")
        if outcome == "skipped":
            # terminal reporting expects (path, lineno, reason) for skips
            longrepr = (str(item.path), 0, longrepr or "skipped (in shard)")
    rep = TestReport(
        nodeid=item.nodeid,
        location=item.location,
        keywords={item.name: 1},
        outcome=outcome,
        longrepr=longrepr,
        when=when,
        sections=[],
        duration=duration,
        start=0.0,
        stop=duration,
    )
    if rec is not None and rec.get("wasxfail") is not None:
        rep.wasxfail = rec["wasxfail"]
    item.ihook.pytest_runtest_logreport(report=rep)


def pytest_runtestloop(session):
    if os.environ.get(_SHARD_ENV) is not None:
        return None  # child process: run normally
    n = int(os.environ.get("UTS_TEST_SHARDS", "4"))
    cfg = session.config
    if (
        n <= 1
        or len(session.items) < 100  # targeted runs: not worth 4 JVMs
        or cfg.option.collectonly
        or cfg.option.keyword
        or cfg.option.markexpr
        or getattr(cfg.option, "pdb", False)
    ):
        return None

    by_file: dict[str, int] = {}
    for item in session.items:
        by_file[item.nodeid.split("::", 1)[0]] = (
            by_file.get(item.nodeid.split("::", 1)[0], 0) + 1
        )
    bins = _partition(list(by_file.items()), n)
    if len(bins) < 2:
        return None

    heap = _shard_heap(len(bins))
    tmp = tempfile.mkdtemp(prefix="uts_shards_")
    procs = []
    try:
        for i, files in enumerate(bins):
            env = os.environ.copy()
            env[_SHARD_ENV] = str(i)
            env[_RESULT_ENV] = os.path.join(tmp, f"res{i}.jsonl")
            env["UTS_SPARK_WAREHOUSE"] = os.path.join(tmp, f"wh{i}")
            # concurrent local[4] JVMs: split the machine's memory
            # between the shards (see _shard_heap) so that heaps plus
            # off-heap plus Python workers cannot outgrow RAM together
            env.setdefault("SPARK_GRAFT_DRIVER_MEM", heap)
            cmd = [sys.executable, "-m", "pytest", "-q", *files]
            maxfail = cfg.getoption("maxfail", 0)
            if maxfail:
                cmd.append(f"--maxfail={maxfail}")
            log = open(os.path.join(tmp, f"log{i}.txt"), "w")
            procs.append(
                (
                    i,
                    subprocess.Popen(
                        cmd,
                        stdout=log,
                        stderr=subprocess.STDOUT,
                        env=env,
                        cwd=str(cfg.rootpath),
                    ),
                    log,
                )
            )
        rcs = {}
        for i, p, log in procs:
            rcs[i] = p.wait()
            log.close()

        results: dict[str, dict] = {}
        shard_of: dict[str, int] = {}
        for i, files in enumerate(bins):
            for f in files:
                shard_of[f] = i
            rf = os.path.join(tmp, f"res{i}.jsonl")
            if not os.path.exists(rf):
                continue
            with open(rf) as fh:
                for line in fh:
                    rec = json.loads(line)
                    prev = results.get(rec["nodeid"])
                    # a failure (setup/call/teardown) wins over a pass
                    if prev is None or prev["outcome"] == "passed":
                        results[rec["nodeid"]] = rec

        try:
            for item in session.items:
                shard = shard_of.get(item.nodeid.split("::", 1)[0], -1)
                rc = rcs.get(shard)
                fallback = (
                    f"no result from shard {shard} (exit {rc}) — the "
                    f"child aborted before this test ran; child log: "
                    f"{os.path.join(tmp, f'log{shard}.txt')}"
                )
                _relay(session, item, results.get(item.nodeid), fallback)
        except (session.Failed, session.Interrupted):
            pass  # -x / maxfail tripped by a relayed failure: stop here

        if session.testsfailed:
            # keep the evidence: dump each failing child's output tail
            for i, _, _ in procs:
                lf = os.path.join(tmp, f"log{i}.txt")
                if rcs.get(i) and os.path.exists(lf):
                    with open(lf) as fh:
                        tail = fh.read()[-4000:]
                    sys.stderr.write(
                        f"\n===== shard {i} output tail (exit {rcs[i]}) "
                        f"=====\n{tail}\n"
                    )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return True
