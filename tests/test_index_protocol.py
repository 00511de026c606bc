"""Facade parity: uts_spark.functions.index_protocol must route every
verb to the same kernels the per-family lanes use, so the SAME inputs
through the facade or the family's own snapshot verbs produce
IDENTICAL results — the facade owns family dispatch, never semantics.
Every verb refuses a path without a snapshot manifest chain (empty, or
an index in the legacy marker layout), naming vindex_migrate."""

import inspect
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import uts_spark.functions.index_protocol as ip
import uts_spark.functions.vindex as vx
from uts_spark.functions.index_protocol import (
    index_append,
    index_build,
    index_compact,
    index_delete,
    index_probe,
)

SF = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _dim(emb):
    return len(emb.select("embedding").first()["embedding"])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_default_protocol_is_snapshot(spark, emb, tmp_path):
    """One commit protocol: no verb takes a ``protocol`` switch, there
    is no default to pick, and a facade build commits a snapshot
    manifest chain (version 0, family on the manifest)."""
    from uts_spark.sources.versioned import list_versions

    assert not hasattr(ip, "DEFAULT_PROTOCOL")
    for verb in (index_build, index_append, index_delete, index_probe,
                 index_compact, ip.index_service_tick, ip.erase_everywhere):
        assert "protocol" not in inspect.signature(verb).parameters, verb
    path = str(tmp_path / "ivf")
    assert index_build(emb, "ivf", path, n_cells=4) == 0
    assert list_versions(path)[-1]["family"] == "ivf"


def test_facade_lsh_probe_parity_across_protocols(spark, emb, tmp_path):
    """Facade build + probe == the LSH family's own snapshot verbs."""
    dim = _dim(emb)
    anchors = emb.orderBy("vec_id").limit(3)
    p_fac, p_fam = str(tmp_path / "lsh_facade"), str(tmp_path / "lsh_family")
    index_build(emb, "lsh", p_fac, dim=dim)
    vx.lsh_vindex_build(emb, p_fam, dim)
    got = _rows(index_probe(spark, p_fac, anchors, k=5))
    assert got == _rows(vx.lsh_vindex_probe(spark, p_fam, anchors, k=5))
    assert len(got) > 0


def test_facade_ivf_full_lifecycle_parity(spark, emb, tmp_path):
    """build -> append -> delete -> compact -> probe through the
    facade equals the same chain through the IVF family verbs."""
    base = emb.filter(F.col("vec_id") % 4 != 3)
    batch = emb.filter(F.col("vec_id") % 4 == 3)
    dele = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id")
    anchors = emb.orderBy("vec_id").limit(3)
    p_fac, p_fam = str(tmp_path / "ivf_facade"), str(tmp_path / "ivf_family")
    index_build(base, "ivf", p_fac)
    index_append(batch, p_fac)
    index_delete(spark, dele, p_fac)
    index_compact(spark, p_fac)
    vx.ivf_vindex_build(base, p_fam)
    vx.ivf_vindex_append(batch, p_fam)
    vx.ivf_vindex_delete(spark, dele, p_fam)
    vx.ivf_vindex_compact(spark, p_fam)
    got = _rows(index_probe(spark, p_fac, anchors, k=5))
    assert got == _rows(vx.ivf_vindex_probe(spark, p_fam, anchors, k=5))
    assert len(got) > 0


def test_facade_minhash_probe_parity(spark, docs, tmp_path):
    corpus = docs.select("doc_id", "text").filter(F.col("doc_id") % 3 != 0).limit(300)
    probe_new = docs.select("doc_id", "text").filter(F.col("doc_id") % 3 == 0).limit(50)
    p_fac, p_fam = str(tmp_path / "mh_facade"), str(tmp_path / "mh_family")
    index_build(corpus, "minhash", p_fac, text_col="text", id_col="doc_id")
    vx.minhash_vindex_build(corpus, "text", "doc_id", p_fam)
    got = _rows(index_probe(spark, p_fac, (probe_new, corpus, "text", "doc_id")))
    want = _rows(vx.minhash_vindex_probe(
        spark, p_fam, probe_new, corpus, "text", "doc_id"
    ))
    assert got == want


def test_facade_ivfpq_build_append_probe_parity(spark, emb, tmp_path):
    dim = _dim(emb)
    base = emb.filter(F.col("vec_id") % 5 != 4)
    batch = emb.filter(F.col("vec_id") % 5 == 4)
    anchors = emb.orderBy("vec_id").limit(3)
    p_fac, p_fam = str(tmp_path / "pq_facade"), str(tmp_path / "pq_family")
    index_build(base, "ivfpq", p_fac, dim=dim)
    index_append(batch, p_fac)
    vx.ivfpq_vindex_build(base, p_fam, dim)
    vx.ivfpq_vindex_append(batch, p_fam)
    got = _rows(index_probe(spark, p_fac, anchors, k=5))
    assert got == _rows(vx.ivfpq_vindex_probe(spark, p_fam, anchors, k=5))
    assert len(got) > 0


def test_facade_family_resolution_from_manifest(spark, emb, tmp_path):
    """The facade resolves family+config from the snapshot manifest,
    so append/probe never re-state config (a silent mismatch is the
    classic index-corruption mode the manifests exist to prevent)."""
    dim = _dim(emb)
    path = str(tmp_path / "lsh_m")
    index_build(emb, "lsh", path, dim=dim, planes=4, tables=2)
    fam, m = ip._family_config(path)
    assert fam == "lsh" and m["planes"] == 4 and m["tables"] == 2
    # probe resolves planes=4 from the manifest — no kwargs needed
    out = index_probe(spark, path, emb.orderBy("vec_id").limit(2), k=3)
    assert out.count() > 0


def test_facade_rejects_unknown_family_and_protocol(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="unknown index family"):
        index_build(emb, "kdtree", str(tmp_path / "x"))
    with pytest.raises(TypeError):
        index_build(emb, "ivf", str(tmp_path / "y"), protocol="marker")


def _legacy_layout(emb, root):
    """An index directory in the retired marker layout, written by the
    kept legacy writers (the input vindex_migrate upgrades)."""
    from uts_spark.functions.dedup import index_manifest_write
    from uts_spark.functions.similarity import ivf_index_write

    path = str(root / "legacy_ivf")
    ivf_index_write(emb, path, n_cells=4)
    index_manifest_write(path, "f0", n_cells=4)
    return path


@pytest.mark.parametrize("layout", ["legacy", "empty"])
@pytest.mark.parametrize(
    "entry",
    ["append", "delete", "probe", "compact", "service_tick",
     "erase_everywhere", "set_retention", "maintenance_tick",
     "probe_by_name"],
)
def test_no_snapshot_manifest_fails_loudly(
    spark, emb, tmp_path, layout, entry
):
    """A path with no snapshot manifest chain — an index in the legacy
    marker layout, or an empty dir — makes every entry point raise a
    ValueError naming vindex_migrate: the facade verbs,
    erase_everywhere, and the catalog's set_retention, maintenance
    tick and probe-by-name. Nothing is skipped or guessed, and
    nothing is written."""
    from uts_spark.sources import catalog as cat

    if layout == "legacy":
        path = _legacy_layout(emb, tmp_path)
    else:
        path = str(tmp_path / "empty")
        os.makedirs(path)
    before = sorted(os.listdir(path))
    ids = emb.select("vec_id").limit(3)
    catalog = str(tmp_path / "cat")
    cat.register_entry(catalog, "idx", path, kind="index")
    calls = {
        "append": lambda: index_append(emb.limit(3), path),
        "delete": lambda: index_delete(spark, ids, path),
        "probe": lambda: index_probe(spark, path, emb.limit(2), k=3),
        "compact": lambda: index_compact(spark, path),
        "service_tick": lambda: ip.index_service_tick(
            spark, emb.limit(3), path, batch_id=0
        ),
        "erase_everywhere": lambda: ip.erase_everywhere(spark, ids, [path]),
        "set_retention": lambda: cat.set_retention(catalog, "idx", 2),
        "maintenance_tick": lambda: cat.catalog_maintenance_tick(
            spark, catalog
        ),
        "probe_by_name": lambda: cat.index_probe_by_name(
            spark, catalog, "idx", emb.limit(2), k=3
        ),
    }
    with pytest.raises(ValueError, match="vindex_migrate"):
        calls[entry]()
    assert sorted(os.listdir(path)) == before


def test_facade_service_tick_parity_ivf(spark, emb, tmp_path):
    """index_service_tick routes to the family's control loop: the
    facade tick on one index must commit the same rows and the same
    monitor ints as the direct vindex tick on a twin."""
    from uts_spark.functions.index_protocol import index_service_tick
    from uts_spark.functions.vindex import (
        ivf_vindex_build,
        ivf_vindex_ingest_tick,
        ivf_vindex_probe,
    )

    base = emb.filter(F.col("vec_id") % 4 != 3)
    batch = emb.filter(F.col("vec_id") % 4 == 3)
    anchors = emb.orderBy("vec_id").limit(3)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    ivf_vindex_build(base, pa, fingerprint="f0")
    ivf_vindex_build(base, pb, fingerprint="f0")

    direct = ivf_vindex_ingest_tick(
        spark, batch, pa, batch_id=0, fingerprint="f1"
    )
    via = index_service_tick(spark, batch, pb, batch_id=0, fingerprint="f1")
    assert via["family"] == "ivf" and "protocol" not in via
    for k in ("fit_sum", "fit_n", "flagged", "reclustered"):
        assert via[k] == direct[k], k
    ra = sorted(map(tuple, ivf_vindex_probe(spark, pa, anchors, k=5).collect()))
    rb = sorted(map(tuple, ivf_vindex_probe(spark, pb, anchors, k=5).collect()))
    assert ra == rb
    # replay through the facade: exactly-once (the tick reports it
    # and the committed stats come back identical)
    again = index_service_tick(spark, batch, pb, batch_id=0, fingerprint="f1")
    assert again["replayed"] is True
    assert again["fit_sum"] == via["fit_sum"]


def test_facade_service_tick_lsh_and_marker_refusal(spark, emb, tmp_path):
    """The LSH tick is an honest idempotent append (no monitor to
    run); a legacy marker-layout index is refused, naming
    vindex_migrate — and once migrated, the same tick runs."""
    from uts_spark.functions.index_protocol import index_service_tick

    dim = _dim(emb)
    base = emb.filter(F.col("vec_id") % 4 != 3)
    batch = emb.filter(F.col("vec_id") % 4 == 3)

    p_snap = str(tmp_path / "lsh_snap")
    index_build(base, "lsh", p_snap, dim=dim)
    out = index_service_tick(spark, batch, p_snap, batch_id=0)
    assert out["monitor"] == "none" and out["family"] == "lsh"

    legacy = _legacy_layout(emb, tmp_path)
    with pytest.raises(ValueError, match="vindex_migrate"):
        index_service_tick(spark, batch, legacy, batch_id=0)
    migrated = str(tmp_path / "migrated")
    vx.vindex_migrate(spark, legacy, migrated)
    assert index_service_tick(spark, batch, migrated, batch_id=0)["family"] == "ivf"


def test_facade_erase_everywhere(spark, emb, docs, tmp_path):
    """One facade call erases a takedown batch from two index families
    AND a stats-pruned data table, and the self-audit reports zero
    leaks everywhere."""
    from uts_spark.functions.index_protocol import erase_everywhere
    from uts_spark.functions.vindex import (
        ivf_vindex_build,
        lsh_vindex_build,
    )
    from uts_spark.sources.versioned import write_snapshot

    dim = len(emb.select("embedding").first()["embedding"])
    dele = emb.filter(F.col("vec_id") % 10 == 4).select("vec_id")

    p_ivf = str(tmp_path / "ivf")
    p_lsh = str(tmp_path / "lsh")
    p_tbl = str(tmp_path / "tbl")
    ivf_vindex_build(emb, p_ivf, fingerprint="f0")
    lsh_vindex_build(emb, p_lsh, dim, fingerprint="f0")
    write_snapshot(
        emb.select("vec_id", "embedding"), p_tbl, stats_col="vec_id"
    )

    n_total = emb.count()
    n_del = dele.count()
    acct = erase_everywhere(
        spark, dele, [p_ivf, p_lsh], [(p_tbl, "vec_id")],
        fingerprint="gdpr",
    )
    assert len(acct) == 3
    assert all(a["leaked"] == 0 for a in acct), acct
    by_target = {a["target"]: a for a in acct}
    assert by_target[p_tbl]["rows_after"] == n_total - n_del
    # ivf stores one row per vector; lsh one per (vector, table)
    assert by_target[p_ivf]["rows_after"] == n_total - n_del
    assert by_target[p_lsh]["rows_after"] % (n_total - n_del) == 0


def test_facade_erase_everywhere_mixed_protocols_custom_id(
    spark, emb, docs, tmp_path
):
    """VERDICT r9 #1: one facade call reaches several families — an
    IVF and an LSH index built with a CUSTOM id column (the audit
    resolves it from the manifest, never a hardcoded 'vec_id') and a
    minhash index — and the self-audit is PRUNED: it probes only the
    rewritten dirs and folds rows_after from manifest arithmetic. A
    target list holding a legacy-layout path refuses BEFORE erasing
    anything, so a takedown never half-applies."""
    from uts_spark.functions.index_protocol import erase_everywhere
    from uts_spark.sources.versioned import list_versions

    dim = _dim(emb)
    emb_c = emb.withColumnRenamed("vec_id", "item_id")
    dele_ids = emb_c.filter(F.col("item_id") % 7 == 3).select("item_id")

    p_ivf = str(tmp_path / "ivf_custom")
    index_build(emb_c, "ivf", p_ivf, id_col="item_id", fingerprint="f0")
    p_lsh = str(tmp_path / "lsh_custom")
    index_build(emb_c, "lsh", p_lsh, dim=dim, id_col="item_id")

    legacy = _legacy_layout(emb, tmp_path)
    with pytest.raises(ValueError, match="vindex_migrate"):
        erase_everywhere(spark, dele_ids, [p_ivf, legacy], fingerprint="x")
    assert len(list_versions(p_ivf)) == 1, "nothing may be erased first"

    n = emb_c.count()
    n_del = dele_ids.count()
    acct = erase_everywhere(
        spark, dele_ids, [p_ivf, p_lsh], fingerprint="gdpr",
    )
    by_target = {a["target"]: a for a in acct}
    assert all(a["leaked"] == 0 for a in acct), acct
    assert all("protocol" not in a for a in acct)
    ivf = by_target[p_ivf]
    assert ivf["rows_after"] == n - n_del
    assert ivf["rows_removed"] == n_del
    # pruned audit: the only auditable dir is the rewrite's kept delta
    assert ivf["audited_dirs"] <= 1
    lsh = by_target[p_lsh]
    assert lsh["rows_removed"] == n_del * lsh["rows_after"] // (n - n_del)

    # MINHASH route: bare doc ids, same facade call shape
    p_mh = str(tmp_path / "mh")
    index_build(docs, "minhash", p_mh, text_col="text", id_col="doc_id")
    d_ids = docs.filter(F.col("doc_id") % 11 == 2).select("doc_id")
    acct2 = erase_everywhere(spark, d_ids, [p_mh], fingerprint="gdpr2")
    assert acct2[0]["leaked"] == 0 and acct2[0]["rows_removed"] > 0


def test_erase_everywhere_table_mode_mor(spark, tmp_path):
    """table_mode='mor': the facade's table erasure commits a deletion
    vector in O(keys) and audits by re-reading the erased ids through
    the pruned point-lookup (leaked must be 0, row accounting exact);
    the cow default is unchanged; bad modes refuse."""
    import pytest

    from uts_spark.functions.index_protocol import erase_everywhere
    from uts_spark.sources.versioned import (
        list_versions,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt_mor_facade")
    df = spark.range(0, 500).selectExpr("id AS k", "CAST(id*2 AS LONG) AS v")
    write_snapshot(df, path, stats_col="k", bloom_col="k")
    ids = spark.range(100, 130).selectExpr("id AS k")

    with pytest.raises(ValueError, match="cow | mor"):
        erase_everywhere(spark, ids, [], [(path, "k")], table_mode="zap")

    acct = erase_everywhere(spark, ids, [], [(path, "k")], table_mode="mor")
    a = acct[0]
    assert a["leaked"] == 0 and a["rows_removed"] == 30
    assert a["rows_after"] == 470
    pm = list_versions(path)[-1]
    assert pm["operation"] == "delete_mor" and len(pm["dv"]) == 1
    assert read_version(spark, path).count() == 470
    # a second, disjoint batch through the default cow path composes
    # (materializes the vector first, then rewrites)
    acct2 = erase_everywhere(
        spark, spark.range(200, 210).selectExpr("id AS k"), [], [(path, "k")]
    )
    assert acct2[0]["leaked"] == 0 and acct2[0]["rows_removed"] == 10
    assert not list_versions(path)[-1].get("dv")
    assert read_version(spark, path).count() == 460


def test_erase_everywhere_index_mode_mor(spark, emb, tmp_path):
    """index_mode='mor': snapshot-index targets erase via deletion
    vectors (unchanged dir list, O(ids) commit) with the pruned masked
    re-read as the self-audit; accounting exact, leaked 0."""
    from uts_spark.functions.index_protocol import erase_everywhere
    from uts_spark.functions.vindex import ivf_vindex_build
    from uts_spark.sources.versioned import list_versions

    path = str(tmp_path / "ivf_mor_facade")
    ivf_vindex_build(emb, path, fingerprint="f0", n_cells=8)
    pre_rows = list_versions(path)[-1]["n_rows"]
    ids = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")
    n_ids = ids.count()

    acct = erase_everywhere(spark, ids, [path], [], index_mode="mor")
    a = acct[0]
    assert a["leaked"] == 0 and a["rows_removed"] == n_ids
    assert a["rows_after"] == pre_rows - n_ids
    pm = list_versions(path)[-1]
    assert pm["operation"] == "delete_mor" and len(pm["dv"]) == 1
    assert pm["family"] == "ivf" and "centroids_dir" in pm
