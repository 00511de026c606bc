"""Seeded input generator for the benchmark workloads.

Each workload's inputs are derived from a checked-in base dataset
(``data/sf0.01``, or ``data/sf0.001`` for smoke runs; copies of the
generator's TPC-H-ish tables plus ``events``/``documents``/``embeddings``).
The seed changes three things and nothing else:

- row order: every table is written in a seeded permutation;
- file split: every table is a directory of parquet files (one per
  1000 rows, at most 4) cut at seeded row offsets;
- surrogate-key offsets: ``event_id``, ``l_orderkey``/``o_orderkey`` and
  ``doc_id`` are shifted by a seeded multiple of their key span.

Output is a pure function of (base files, seed): pyarrow
writes the same bytes for the same table and options, so the same seed
gives byte-identical files. Generated sets are cached under the
benchmark's work directory, keyed by base and seed.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# surrogate key column and offset group per table; lineitem shares the
# orders group so l_orderkey keeps matching o_orderkey
KEYS = {
    "events": ("event_id", "events"),
    "orders": ("o_orderkey", "orders"),
    "lineitem": ("l_orderkey", "orders"),
    "documents": ("doc_id", "documents"),
}
_CACHE_KEEP = 8  # generated sets kept on disk; older ones are deleted
MAX_FILES = 4
ROWS_PER_FILE = 1000


def _rng(seed: int, *salt: str) -> np.random.Generator:
    h = hashlib.sha256(":".join((str(seed),) + salt).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _key_span(base_dir: str, group: str) -> int:
    """1 + the largest key of any table in the offset group."""
    span = 0
    for table, (col, g) in KEYS.items():
        if g == group:
            path = os.path.join(base_dir, f"{table}.parquet")
            keys = pq.read_table(path, columns=[col])[col]
            span = max(span, int(pc.max(keys).as_py()) + 1)
    return span


def derive_table(base_dir: str, table: str, seed: int) -> list[pa.Table]:
    """The seeded copy of one base table, as the list of file slices."""
    full = pq.read_table(os.path.join(base_dir, f"{table}.parquet"))
    if table in KEYS:
        col, group = KEYS[table]
        off = int(_rng(seed, "offset", group).integers(0, 1000))
        off *= _key_span(base_dir, group)
        full = full.set_column(
            full.schema.get_field_index(col), col,
            pc.add(full[col], pa.scalar(off, full[col].type)),
        )
    full = full.combine_chunks()
    order = _rng(seed, "order", table).permutation(full.num_rows)
    full = full.take(pa.array(order))
    # the file count follows the table size, so scan parallelism is the
    # same for every seed; the seed moves each cut by up to a tenth of
    # a file's share
    n = full.num_rows
    n_files = min(MAX_FILES, max(1, n // ROWS_PER_FILE))
    jitter = _rng(seed, "split", table).uniform(-0.1, 0.1, n_files - 1)
    cuts = [round(n * (i + 1 + j) / n_files) for i, j in enumerate(jitter)]
    bounds = [0, *cuts, n]
    return [full.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]


def generate(out_dir: str, base_dir: str, seed: int) -> None:
    """Write every table of ``base_dir`` into ``out_dir`` as
    ``<table>.parquet/part-<i>.parquet``."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for table in TABLES:
        tdir = os.path.join(tmp, f"{table}.parquet")
        os.makedirs(tdir)
        parts = derive_table(base_dir, table, seed)
        for i, part in enumerate(parts):
            pq.write_table(
                part, os.path.join(tdir, f"part-{i:05d}.parquet"),
                compression="snappy",
            )
    os.replace(tmp, out_dir)


def ensure(cache_root: str, base_dir: str, seed: int) -> tuple[str, bool]:
    """Path of the generated set for (base, seed), generating it when it
    is not cached. Returns ``(path, generated_now)``."""
    tag = os.path.basename(os.path.normpath(base_dir)).replace(".", "_")
    out = os.path.join(cache_root, f"{tag}-s{seed}")
    if os.path.isdir(out):
        os.utime(out)
        return out, False
    os.makedirs(cache_root, exist_ok=True)
    generate(out, base_dir, seed)
    sets = sorted(
        (os.path.join(cache_root, d) for d in os.listdir(cache_root)
         if not d.endswith(".tmp")),
        key=os.path.getmtime,
    )
    for old in sets[:-_CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return out, True


def digest(path: str) -> str:
    """sha256 over every file of a generated set (relative name + bytes)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
