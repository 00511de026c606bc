#!/usr/bin/env python3
"""Larger-SF scaling probe (optimization r12, VERDICT r11 #6).

sf0.1 8-vs-32-core ratios are overhead-dominated (nothing exceeded
2.22x on a 4x core budget in PERF_r11) and cannot certify that a lane
parallelises at scale. This tool derives a ~Nx corpus from the sf0.1
parquet inputs into a scratch dir and times selected lanes at two core
counts with the bench's own methodology (noop sink, cold pass
discarded, min/median of warm passes) so the 8<->32 ratio is measured
where data-plane work, not fixed scheduling cost, dominates.

Derivation (build mode) — honest scaling, no result reuse:
  - documents: N copies, doc_id offset per copy, text alphabet ROTATED
    per copy (a..z -> rotate by copy index). Within-copy near-dup and
    shingle structure is preserved exactly; across copies shingles are
    disjoint (letters dominate the corpus), so pair/cluster work grows
    ~linearly in N instead of quadratically — the realistic shape of a
    bigger crawl.
  - events: N copies, event_id/ingest_id offset per copy, same
    event_type/value/ts marginals (groups get Nx deeper — exactly the
    axis the grouped-median/window lanes must survive).
  - lineitem/orders: N copies, l_orderkey/o_orderkey offset so joins
    keep 1:N structure without manufacturing cross-copy key collisions.
  - everything else: symlinked from the source dir (dimension tables).

Usage:
  python3 tools/scale_probe.py build --mult 5 [--sf /root/testdata/sf0.1] \
      --out /tmp/uts_scale_x5
  python3 tools/scale_probe.py time --dir /tmp/uts_scale_x5 --cpus 32 \
      [--passes 3] lane [lane ...]

`time` prints one JSON line per lane: {"lane", "cpus", "cold", "warm":
[...], "min", "median"} and a trailing {"probe_total", ...} line.
Run `time` once per core count from a fresh process (fresh JVM) so the
scheduler state is honest; never inside the bench window.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALED = {
    "documents": ("doc_id",),
    "events": ("event_id", "ingest_id"),
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
}

_AZ = "abcdefghijklmnopqrstuvwxyz"


def build(sf_dir: str, out: str, mult: int) -> None:
    from pyspark.sql import functions as F

    from uts_spark.session import get_spark
    from uts_spark.sources.tables import TABLE_NAMES

    spark = get_spark("scale-probe-build")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    os.makedirs(out, exist_ok=True)
    for name in TABLE_NAMES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        if name not in SCALED:
            os.symlink(src, dst)
            continue
        raw = spark.read.parquet(src)
        # each key is its own id space: offset every copy by that key's
        # own span, so copies never collide on any of them
        keys = [k for k in SCALED[name] if k in raw.columns]
        spans = raw.agg(*(F.max(k) + 1 for k in keys)).first()
        copies = []
        for i in range(mult):
            c = raw.withColumns(
                {k: F.col(k) + F.lit(i * sp) for k, sp in zip(keys, spans)}
            )
            if name == "documents":
                rot = _AZ[i % 26:] + _AZ[: i % 26]
                c = c.withColumn(
                    "text", F.translate(F.col("text"), _AZ, rot)
                )
                c = c.withColumn(
                    "url",
                    F.concat(F.lit(f"c{i}-"), F.col("url")),
                ) if "url" in raw.columns else c
            copies.append(c)
        allc = copies[0]
        for c in copies[1:]:
            allc = allc.unionByName(c)
        # file layout: ~mult x the source's partition count, so the
        # scan-side parallelism scales with the data (guide §6)
        allc.repartition(max(mult * 4, 8)).write.mode(
            "overwrite"
        ).parquet(dst)
        print(f"built {name}: {mult}x", file=sys.stderr)
    print(json.dumps({"built": out, "mult": mult}))


def time_lanes(
    data_dir: str, cpus: int, passes: int, lanes: list[str],
    confs: list[str] = (),
) -> None:
    from uts_spark.registry import QUERIES
    from uts_spark.session import get_spark

    # shuffle partitions follow the bench's own convention (= cpus, see
    # session.get_spark) so the probe measures the lanes as benched,
    # not a different partitioning regime
    spark = get_spark(
        f"scale-probe-{cpus}", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    for kv in confs:
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)

    def run(name: str) -> float:
        t0 = time.time()
        QUERIES[name](spark, data_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.time() - t0

    total = 0.0
    for name in lanes:
        spark.sparkContext.setJobDescription(f"scale-probe {name}")
        cold = round(run(name), 3)
        warm = [round(run(name), 3) for _ in range(passes)]
        total += min(warm)
        print(json.dumps({
            "lane": name, "cpus": cpus, "cold": cold, "warm": warm,
            "min": min(warm), "median": round(statistics.median(warm), 3),
        }), flush=True)
    print(json.dumps({
        "probe_total_min_sec": round(total, 3), "cpus": cpus,
        "dir": data_dir, "loadavg": [round(x, 2) for x in os.getloadavg()],
    }))


def main() -> None:
    args = sys.argv[1:]
    if not args or args[0] not in ("build", "time"):
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    mode, args = args[0], args[1:]

    def opt(flag: str, default=None):
        if flag in args:
            i = args.index(flag)
            v = args[i + 1]
            del args[i:i + 2]
            return v
        return default

    if mode == "build":
        build(
            opt("--sf", "/root/testdata/sf0.1"),
            opt("--out", "/tmp/uts_scale_x5"),
            int(opt("--mult", "5")),
        )
    else:
        confs = []
        while "--conf" in args:
            i = args.index("--conf")
            confs.append(args[i + 1])
            del args[i:i + 2]
        time_lanes(
            opt("--dir", "/tmp/uts_scale_x5"),
            int(opt("--cpus", "32")),
            int(opt("--passes", "3")),
            args,
            confs,
        )


if __name__ == "__main__":
    main()
