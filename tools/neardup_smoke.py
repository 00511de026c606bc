#!/usr/bin/env python3
"""Near-dup pipeline (MinHash -> LSH banding -> exact-Jaccard verify ->
connected components) scale smoke at 1-5M synthetic docs — empirical
validation of the candidate-bound story (VERDICT r3 #5): LSH candidate
volume must stay ∝ true near-dup pairs (bucket collisions), never n².

Corpus is generated JVM-SIDE (spark.range + xxhash64-derived words, no
Python in the data path, no files): 40-word docs; 10% of the 5-doc
families are near-dup clusters whose members share 37 of 40 words
(3-gram-shingle Jaccard ≈ 0.62 per pair — above the 0.5 verify
threshold), the other 90% of docs draw doc-unique vocabularies. Ground
truth: each dup family contributes C(5,2)=10 verified pairs and 4
dropped docs.

Run: python3 tools/neardup_smoke.py [docs]
Prints one JSON line with candidate counts, candidates-per-doc, verified
pairs, CC drop counts and per-stage timings (recorded in SCALE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAMILY = 5          # docs per family
DUP_FAMILY_MOD = 10  # 1 in 10 families is a near-dup cluster
WORDS = 40
VAR_POS = (13, 26, 39)  # member-specific word slots inside dup families
VOCAB = 50_000


def _shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes so far, via the UI REST API (the only
    public surface exposing stage shuffle metrics to PySpark)."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete", timeout=10
        ) as r:
            stages = json.loads(r.read())
        return sum(st.get("shuffleWriteBytes", 0) for st in stages)
    except Exception:
        return -1


def _build_verified(spark, n_docs):
    """The shared front of the pipeline: synthetic corpus -> verified
    near-dup pair list (cached) + doc ids."""
    from pyspark.sql import functions as F

    from uts_spark.functions.dedup import (
        doc_shingle_arrays,
        minhash_band_candidates,
        minhash_signatures,
        pair_jaccard,
    )

    fam = F.expr(f"id div {FAMILY}")
    member = F.pmod(F.col("id"), F.lit(FAMILY))
    is_dup = F.pmod(fam, F.lit(DUP_FAMILY_MOD)) == 0

    def word(j: int):
        if j in VAR_POS:
            dup_key = F.xxhash64(fam, F.lit(j), member)
        else:
            dup_key = F.xxhash64(fam, F.lit(j))
        uniq_key = F.xxhash64(F.col("id"), F.lit(j + 1_000_000))
        key = F.when(is_dup, dup_key).otherwise(uniq_key)
        return F.concat(F.lit("w"), F.pmod(key, F.lit(VOCAB)).cast("string"))

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word(j) for j in range(WORDS)]).alias("text"),
    )
    arrays = doc_shingle_arrays(docs, "text", "doc_id", n=3).cache()
    sig = minhash_signatures(docs, "text", "doc_id", n=3, k=32, arrays=arrays)
    cand = minhash_band_candidates(sig, k=32, bands=8)
    verified = (
        pair_jaccard(cand, arrays)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    return docs, verified


def cc_ab() -> None:
    """A/B the two connected_components paths (local union-find
    contraction vs min-label pointer jumping) on the near-dup verdict
    at 250k and 500k docs, recording levels/rounds, wall seconds and
    shuffle-write bytes per path. Run:
    python3 tools/neardup_smoke.py --cc-ab [docs ...]"""
    from uts_spark.functions import clustering as cl
    from uts_spark.session import get_spark

    sizes = [int(a) for a in sys.argv[2:]] or [250_000, 500_000]
    # UI on: the REST stage API is the shuffle-bytes source
    spark = get_spark("cc-ab", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    out = []
    for n_docs in sizes:
        docs, verified = _build_verified(spark, n_docs)
        n_edges = verified.count()
        row = {"docs": n_docs, "edges": n_edges, "loadavg": os.getloadavg()[0]}
        results = {}
        for name, rounds_key in (("uf", "uf_levels"), ("jump", "jump_rounds")):
            best = None
            for _pass in range(2):  # warm pass wins (codegen amortizes)
                b0 = _shuffle_write_bytes(spark)
                t0 = time.time()
                labels = cl.connected_components(
                    verified, src="id_a", dst="id_b", algorithm=name
                )
                n_nodes = labels.count()
                dt = round(time.time() - t0, 2)
                sb = _shuffle_write_bytes(spark) - b0
                if best is None or dt < best["sec"]:
                    best = {"sec": dt, "shuffle_mb": round(sb / 1e6, 1)}
            best["rounds"] = cl.LAST_CC_INFO.get(rounds_key)
            row[name] = best
            results[name] = {
                (r["node"], r["component"]) for r in labels.collect()
            }
        row["labels_agree"] = results["uf"] == results["jump"]
        out.append(row)
        print(json.dumps(row))
    spark.stop()


def _synth_docs(spark, n_docs):
    """The shared planted-family corpus (module docstring)."""
    from pyspark.sql import functions as F

    fam = F.expr(f"id div {FAMILY}")
    member = F.pmod(F.col("id"), F.lit(FAMILY))
    is_dup = F.pmod(fam, F.lit(DUP_FAMILY_MOD)) == 0

    def word(j: int):
        if j in VAR_POS:
            dup_key = F.xxhash64(fam, F.lit(j), member)
        else:
            dup_key = F.xxhash64(fam, F.lit(j))
        uniq_key = F.xxhash64(F.col("id"), F.lit(j + 1_000_000))
        key = F.when(is_dup, dup_key).otherwise(uniq_key)
        return F.concat(F.lit("w"), F.pmod(key, F.lit(VOCAB)).cast("string"))

    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word(j) for j in range(WORDS)]).alias("text"),
    )


def index_probe_ab() -> None:
    """Persisted (snapshot) MinHash-index probe vs full recompute on the
    same new-batch dedup question (new x old pairs, jaccard >= 0.5).
    The probe must (a) return the identical pair set and (b) cost a
    BATCH-shaped wall, while the one-time index build amortizes across
    every future batch. Run:
    python3 tools/neardup_smoke.py --index-probe [docs]"""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from uts_spark.functions.dedup import (
        _band_bucket_rows,
        doc_shingle_arrays_portable,
        minhash_signatures_portable,
        pair_jaccard,
    )
    from uts_spark.functions.vindex import (
        minhash_vindex_build,
        minhash_vindex_probe,
    )
    from uts_spark.session import get_spark

    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    mod = int(sys.argv[3]) if len(sys.argv) > 3 else 11
    spark = get_spark("minhash-index-ab")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _synth_docs(spark, n_docs)
    new = docs.filter(F.col("doc_id") % mod == 3)
    old = docs.filter(F.col("doc_id") % mod != 3)
    n_new = new.count()

    timings: dict[str, float] = {}

    def timed(name, thunk):
        t = time.time()
        out = thunk()
        timings[name] = round(time.time() - t, 2)
        return out

    scratch = tempfile.mkdtemp(prefix="mh_idx_")
    path = os.path.join(scratch, "idx")
    try:
        timed("index_build_once", lambda: minhash_vindex_build(
            old, "text", "doc_id", path))
        probe = minhash_vindex_probe(
            spark, path, new, old, "text", "doc_id").cache()
        n_probe = timed("probe_batch", probe.count)

        # recompute baseline: BOTH sides sketched fresh, same portable
        # machinery, same new x old candidate quadrant
        def recompute():
            arrays = doc_shingle_arrays_portable(
                docs, "text", "doc_id", 3).cache()
            sig = minhash_signatures_portable(arrays, 32)
            bk = _band_bucket_rows(sig, 32, 8)
            a = bk.filter(F.col("id") % mod == 3).select(
                F.col("id").alias("id_a"), "band", "bucket")
            b = bk.filter(F.col("id") % mod != 3).select(
                F.col("id").alias("id_b"), "band", "bucket")
            cand = (a.join(b, ["band", "bucket"])
                    .select("id_a", "id_b").distinct())
            return (pair_jaccard(cand, arrays)
                    .filter(F.col("jaccard") >= 0.5)
                    .select(F.col("id_a").alias("id_new"),
                            F.col("id_b").alias("id_old")).cache())

        re = recompute()
        n_re = timed("recompute_full", re.count)
        got = {(r.id_new, r.id_old)
               for r in probe.select("id_new", "id_old").collect()}
        want = {(r.id_new, r.id_old) for r in re.collect()}
        print(json.dumps({
            "docs": n_docs,
            "batch_mod": mod,
            "new_batch": n_new,
            "probe_pairs": n_probe,
            "recompute_pairs": n_re,
            "pairs_agree": got == want,
            "timings": timings,
            "loadavg": os.getloadavg()[0],
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--cc-ab":
        cc_ab()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--index-probe":
        index_probe_ab()
        return
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from pyspark.sql import functions as F

    from uts_spark.functions.clustering import cluster_assignment
    from uts_spark.functions.dedup import (
        doc_shingle_arrays,
        minhash_band_candidates,
        minhash_signatures,
        pair_jaccard,
    )
    from uts_spark.session import get_spark

    spark = get_spark("neardup-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    fam = F.expr(f"id div {FAMILY}")
    member = F.pmod(F.col("id"), F.lit(FAMILY))
    is_dup = F.pmod(fam, F.lit(DUP_FAMILY_MOD)) == 0

    def word(j: int):
        if j in VAR_POS:
            dup_key = F.xxhash64(fam, F.lit(j), member)
        else:
            dup_key = F.xxhash64(fam, F.lit(j))
        uniq_key = F.xxhash64(F.col("id"), F.lit(j + 1_000_000))
        key = F.when(is_dup, dup_key).otherwise(uniq_key)
        return F.concat(F.lit("w"), F.pmod(key, F.lit(VOCAB)).cast("string"))

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word(j) for j in range(WORDS)]).alias("text"),
    )

    timings: dict[str, float] = {}

    def timed(name, thunk):
        t = time.time()
        out = thunk()
        timings[name] = round(time.time() - t, 2)
        return out

    arrays = doc_shingle_arrays(docs, "text", "doc_id", n=3).cache()
    sig = minhash_signatures(docs, "text", "doc_id", n=3, k=32, arrays=arrays)
    cand = minhash_band_candidates(sig, k=32, bands=8).cache()
    n_cand = timed("signatures_banding_candidates", cand.count)

    verified = pair_jaccard(cand, arrays).filter(F.col("jaccard") >= 0.5)
    verified = verified.select("id_a", "id_b").cache()
    n_ver = timed("exact_jaccard_verify", verified.count)

    labeled = cluster_assignment(
        docs.select("doc_id"), verified, "doc_id", dedupe_edges=False
    )
    n_drop = timed(
        "connected_components_verdict",
        labeled.filter(~F.col("keep")).count,
    )

    n_dup_fams = len(range(0, n_docs // FAMILY, DUP_FAMILY_MOD))
    expect_pairs = n_dup_fams * (FAMILY * (FAMILY - 1) // 2)
    expect_drop = n_dup_fams * (FAMILY - 1)
    print(json.dumps({
        "docs": n_docs,
        "candidates": n_cand,
        "cand_per_doc": round(n_cand / n_docs, 4),
        "verified_pairs": n_ver,
        "expected_pairs": expect_pairs,
        "dropped": n_drop,
        "expected_dropped": expect_drop,
        "timings": timings,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
