#!/usr/bin/env python3
"""Self-test of the benchmark (a few minutes on 4 cores).

    python3 perfbench/selftest.py [workload ...]

Checks, on sf0.001-derived inputs with one warm pass (``run.py --smoke``):

- the input generator is deterministic per seed (byte-identical sets from
  two generations with one seed; a different set from another seed);
- every workload, untraced and traced, exits 0 and emits exactly the
  declared end-to-end or per-layer metrics, each with its unit;
- the traced spans nest: each child lies inside its parent and no span
  has negative self time;
- a traced pass's ``python.*`` equal those of the SQL executions between
  the pass's own start and end (``run.check_python``);
- on ``service_cycle``, ``python.run_s`` (``similarity_topk_cosine``
  runs a Python worker) and ``streaming.calls``/``streaming.jobs``
  (``stream_uts_interval_replay``) are > 0.

Exits 1 if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

SEED = 11


def check_generator() -> list[str]:
    work = os.path.join(run.WORK, "selftest")
    os.makedirs(work, exist_ok=True)
    roots = [tempfile.mkdtemp(dir=work) for _ in range(2)]
    try:
        a, _ = inputs.ensure(roots[0], run.SMOKE_BASE, SEED)
        b, _ = inputs.ensure(roots[1], run.SMOKE_BASE, SEED)
        c, _ = inputs.ensure(roots[1], run.SMOKE_BASE, SEED + 1)
        da, db, dc = inputs.digest(a), inputs.digest(b), inputs.digest(c)
    finally:
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)
    bad = []
    if da != db:
        bad.append(f"seed {SEED} generated two different sets")
    if da == dc:
        bad.append(f"seeds {SEED} and {SEED + 1} generated the same set")
    return bad


def check_run(name: str, trace: int) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
           "--seed", str(SEED), "--seconds", "0", "--trace", str(trace),
           "--smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    tag = f"{name} trace={trace}"
    if proc.returncode != 0:
        return [f"{tag}: exit {proc.returncode}: {proc.stdout[-800:]}"
                f"{proc.stderr[-800:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    bad = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        bad.append(f"{tag}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        bad.append(f"{tag}: correct={result['correct']} failed={result['failed']}")
    units = run.PER_LAYER_UNITS if trace else run.END_TO_END_UNITS
    got = result["metrics"]
    if set(got) != set(units):
        bad.append(f"{tag}: metrics differ: missing {sorted(set(units) - set(got))}"
                   f" extra {sorted(set(got) - set(units))}")
    for key, m in got.items():
        if m.get("unit") != units.get(key) or not isinstance(m.get("value"), (int, float)):
            bad.append(f"{tag}: {key} = {m}")
    if trace:
        out = os.path.join(run.WORK, "results", f"{name}-seed{SEED}-trace1")
        with open(f"{out}.json") as fh:
            detail = json.load(fh)
        bad += [f"{tag}: {p}" for p in detail["python_metric_problems"]]
        if name == "service_cycle":
            for key in ("python.run_s", "streaming.calls", "streaming.jobs"):
                if not got[key]["value"] > 0:
                    bad.append(f"{tag}: {key} is 0")
        spans_path = f"{out}.spans.jsonl"
        with open(spans_path) as fh:
            spans = [tuple(json.loads(line)) for line in fh]
        layer_spans = [s for s in spans if s[2] in layers.LAYERS]
        if not layer_spans:
            bad.append(f"{tag}: no library spans were recorded")
        bad += [f"{tag}: {p}" for p in layers.check_nesting(spans)[:10]]
    return bad


def main() -> int:
    names = sys.argv[1:] or list(run.WORKLOADS)
    problems = check_generator()
    for name in names:
        for trace in (0, 1):
            found = check_run(name, trace)
            print(f"{name} trace={trace}: {'ok' if not found else 'FAILED'}",
                  flush=True)
            problems += found
    for p in problems:
        print("PROBLEM", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
