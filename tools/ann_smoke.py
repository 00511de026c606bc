#!/usr/bin/env python3
"""ANN probe A/B at synthetic scale: persisted IVF (exact rerank of all
probed-cell members) vs persisted IVF-PQ (ADC shortlist -> exact rerank
of 40) vs brute force, on a CLUSTERED corpus (64 hash-derived centers +
noise — real embeddings cluster, and cluster structure is what IVF
exploits; the driver testdata's diffuse vectors undersell every ANN
family).

Measures wall seconds and recall@10 vs brute force for 5 anchors.
Run: python3 tools/ann_smoke.py [n_vectors]
Prints one JSON line (recorded in SCALE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 64
N_CELLS = 8
N_PROBE = 3
K = 10


def _synth_emb(spark, n: int):
    from pyspark.sql import functions as F

    center = F.pmod(F.xxhash64("id"), F.lit(64))

    def comp(j: int):
        c = (F.pmod(F.xxhash64(center, F.lit(j)), F.lit(1000)) / 500.0) - 1.0
        nz = (F.pmod(F.xxhash64("id", F.lit(j)), F.lit(1000)) / 500.0) - 1.0
        return c + 0.15 * nz

    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[comp(j) for j in range(DIM)]).alias("embedding"),
    )


def ivf_append_ab() -> None:
    """IVF append cost vs frozen-centroid full rebuild when a 1% vector
    batch arrives (snapshot verbs). Run:
    python3 tools/ann_smoke.py --ivf-append [n_vectors]"""
    from pyspark.sql import functions as F

    from uts_spark.functions.vindex import ivf_vindex_append, ivf_vindex_build
    from uts_spark.session import get_spark
    from uts_spark.sources.versioned import read_version

    n = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark("ivf-append-ab")
    spark.sparkContext.setLogLevel("ERROR")
    emb = _synth_emb(spark, n).cache()
    emb.count()
    base = emb.filter(F.col("vec_id") % 100 != 7)
    batch = emb.filter(F.col("vec_id") % 100 == 7)

    timings: dict[str, float] = {}

    def timed(name, thunk):
        t = time.time()
        thunk()
        timings[name] = round(time.time() - t, 2)

    scratch = tempfile.mkdtemp(prefix="ivf_app_")
    p_app, p_re = os.path.join(scratch, "a"), os.path.join(scratch, "r")
    try:
        timed("base_build_once", lambda: ivf_vindex_build(
            base, p_app, n_cells=N_CELLS))
        timed("append_batch", lambda: ivf_vindex_append(batch, p_app))
        timed("rebuild_full", lambda: ivf_vindex_build(
            emb, p_re, n_cells=N_CELLS, centroid_src=base))
        a, r = read_version(spark, p_app), read_version(spark, p_re)
        same = a.count() == r.count() and a.drop("embedding").exceptAll(
            r.drop("embedding")).isEmpty()
        print(json.dumps({
            "vectors": n,
            "batch": batch.count(),
            "cells_agree": same,
            "timings": timings,
            "loadavg": os.getloadavg()[0],
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


def ann_delete_ab() -> None:
    """Erasure cost (bare-id pruned copy-on-write) vs full
    rebuild-without for the three snapshot vector-index families. Run:
    python3 tools/ann_smoke.py --ann-delete [n_vectors] [mod]
    (mod=10 → 10% takedown-sized erasure batch)."""
    from pyspark.sql import functions as F

    from uts_spark.functions import vindex as vx
    from uts_spark.session import get_spark
    from uts_spark.sources.versioned import list_versions, read_version

    n = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    mod = int(sys.argv[3]) if len(sys.argv) > 3 else 100  # 1% erasure
    spark = get_spark("ann-delete-ab")
    spark.sparkContext.setLogLevel("ERROR")
    emb = _synth_emb(spark, n).cache()
    emb.count()
    erase = emb.filter(F.col("vec_id") % mod == 7).select("vec_id")
    keep = emb.filter(F.col("vec_id") % mod != 7)

    timings: dict[str, float] = {}

    def timed(name, thunk):
        t = time.time()
        out = thunk()
        timings[name] = round(time.time() - t, 2)
        return out

    out: dict = {"vectors": n, "erased": erase.count(), "families": {}}
    scratch = tempfile.mkdtemp(prefix="ann_del_")
    try:
        fams = {
            "lsh": (
                lambda p: vx.lsh_vindex_build(emb, p, DIM),
                lambda p: vx.lsh_vindex_delete(spark, erase, p),
                lambda p: vx.lsh_vindex_build(keep, p, DIM),
            ),
            "ivf": (
                lambda p: vx.ivf_vindex_build(emb, p, n_cells=N_CELLS),
                lambda p: vx.ivf_vindex_delete(spark, erase, p),
                # rebuild keeps the BUILD corpus's centroids (frozen
                # quantizer contract) so rows are comparable
                lambda p: vx.ivf_vindex_build(
                    keep, p, n_cells=N_CELLS, centroid_src=emb
                ),
            ),
            "ivfpq": (
                lambda p: vx.ivfpq_vindex_build(emb, p, DIM, n_cells=N_CELLS),
                lambda p: vx.ivfpq_vindex_delete(spark, erase, p),
                lambda p: vx.ivfpq_vindex_build(
                    keep, p, DIM, n_cells=N_CELLS, centroid_src=emb
                ),
            ),
        }
        for fam, (build, delete, rebuild) in fams.items():
            p_del = os.path.join(scratch, fam + "_d")
            p_re = os.path.join(scratch, fam + "_r")
            timed(f"{fam}_build_once", lambda: build(p_del))
            timed(f"{fam}_delete", lambda: delete(p_del))
            timed(f"{fam}_rebuild_without", lambda: rebuild(p_re))
            chain = list_versions(p_del)
            removed = chain[0]["n_rows"] - chain[-1]["n_rows"]
            a = read_version(spark, p_del).drop("embedding")
            r = read_version(spark, p_re).drop("embedding")
            same = a.count() == r.count() and a.exceptAll(r).isEmpty()
            out["families"][fam] = {
                "rows_removed": removed,
                "rows_agree": same,
                "delete_sec": timings[f"{fam}_delete"],
                "rebuild_sec": timings[f"{fam}_rebuild_without"],
            }
        out["timings"] = timings
        out["loadavg"] = os.getloadavg()[0]
        print(json.dumps(out))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--ivf-append":
        ivf_append_ab()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--ann-delete":
        ann_delete_ab()
        return
    import numpy as np
    from pyspark.sql import functions as F

    from uts_spark.functions.similarity import cosine_topk_blocked
    from uts_spark.functions.vindex import (
        ivf_vindex_build,
        ivf_vindex_probe,
        ivfpq_vindex_build,
        ivfpq_vindex_probe,
    )
    from uts_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark("ann-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    center = F.pmod(F.xxhash64("id"), F.lit(64))

    def comp(j: int):
        c = (F.pmod(F.xxhash64(center, F.lit(j)), F.lit(1000)) / 500.0) - 1.0
        nz = (F.pmod(F.xxhash64("id", F.lit(j)), F.lit(1000)) / 500.0) - 1.0
        return c + 0.15 * nz

    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[comp(j) for j in range(DIM)]).alias("embedding"),
    ).cache()
    emb.count()
    anchors = emb.filter(F.col("vec_id") < 5).cache()
    anchors.count()

    timings: dict[str, float] = {}
    results: dict[str, dict[int, set]] = {}

    def run(name, thunk):
        t = time.time()
        rows = thunk().collect()
        timings[name] = round(time.time() - t, 2)
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r.anchor_id, set()).add(r.neighbor_id)
        results[name] = got

    run("brute_force", lambda: cosine_topk_blocked(emb, anchors, k=K))

    scratch = tempfile.mkdtemp(prefix="ann_ab_")
    path = os.path.join(scratch, "ivf")
    try:
        t = time.time()
        ivf_vindex_build(emb, path, n_cells=N_CELLS)
        timings["ivf_index_build_once"] = round(time.time() - t, 2)

        run("ivf_probe_exact_rerank", lambda: ivf_vindex_probe(
            spark, path, anchors, k=K, n_probe=N_PROBE))

        pq_names = []
        for n_cent, rerank in ((16, 40), (256, 400)):
            pq_path = os.path.join(scratch, f"ivfpq_{n_cent}")
            t = time.time()
            ivfpq_vindex_build(
                emb, pq_path, DIM, n_cells=N_CELLS,
                m_sub=8, n_cent=n_cent)
            timings[f"ivfpq_index_build_c{n_cent}_once"] = round(
                time.time() - t, 2)
            name = f"ivfpq_probe_c{n_cent}_r{rerank}"
            pq_names.append(name)
            run(name, lambda p=pq_path, r=rerank: ivfpq_vindex_probe(
                spark, p, anchors, k=K, n_probe=N_PROBE, rerank=r))

        truth = results["brute_force"]
        recalls = {
            name: round(sum(
                len(truth[a] & results[name].get(a, set())) / K
                for a in truth
            ) / len(truth), 3)
            for name in ["ivf_probe_exact_rerank"] + pq_names
        }
        print(json.dumps({
            "vectors": n,
            "dim": DIM,
            "timings": timings,
            "recall_at_10": recalls,
            "loadavg": os.getloadavg()[0],
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
