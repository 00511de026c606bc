"""Tests for the corpus-level operators added in round 2b: line dedup,
heavy hitters (exact + Misra-Gries), count-min sketch, Gopher quality
rules, triangle counting."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from uts_spark.functions.clustering import triangle_stats
from uts_spark.functions.freq import mg_heavy_hitters
from uts_spark.registry import QUERIES


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_triangle_count_k4(spark):
    # complete graph on 4 vertices: C(4,3)=4 triangles, 6 edges,
    # every vertex degree 3 -> wedges = 4*3 = 12, coefficient 1.0
    k4 = _pairs(spark, [(a, b) for a in range(4) for b in range(4) if a < b])
    row = triangle_stats(k4).collect()[0]
    assert (row.n_edges, row.n_nodes, row.n_triangles, row.n_wedges) == (
        6, 4, 4, 12,
    )
    assert row.global_clustering == 1.0


def test_triangle_count_path_and_cycle(spark):
    # path a-b-c-d: 0 triangles, 2 wedges; adding d-a makes C4: still 0
    path = _pairs(spark, [(0, 1), (1, 2), (2, 3)])
    assert triangle_stats(path).collect()[0].n_triangles == 0
    c4 = _pairs(spark, [(0, 1), (1, 2), (2, 3), (0, 3)])
    row = triangle_stats(c4).collect()[0]
    assert row.n_triangles == 0 and row.n_wedges == 4
    # close one diagonal -> exactly 2 triangles
    c4d = _pairs(spark, [(0, 1), (1, 2), (2, 3), (0, 3), (0, 2)])
    assert triangle_stats(c4d).collect()[0].n_triangles == 2


def test_mg_heavy_hitters_matches_exact(spark):
    # skewed synthetic stream: zipf-ish counts, fixed seed; MG result
    # must equal the exact cnt*k > n filter regardless of partitioning
    rng = random.Random(7)
    stream = []
    for i in range(40):
        stream += [f"t{i}"] * (2000 // (i + 1))
    rng.shuffle(stream)
    terms = spark.createDataFrame(
        [(t,) for t in stream], "term string"
    ).repartition(7)  # deliberately awkward partitioning
    k = 16
    got = {
        r.term: r.cnt for r in mg_heavy_hitters(terms, k=k).collect()
    }
    from collections import Counter

    exact = Counter(stream)
    n = len(stream)
    want = {t: c for t, c in exact.items() if c * k > n}
    assert got == want
    assert len(want) > 0  # the test actually exercised the threshold


def test_countmin_one_sided_error(spark, sf_dir):
    rows = QUERIES["sketch_countmin_terms"](spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.cms_est >= r.exact_cnt
        assert r.overcount == r.cms_est - r.exact_cnt


def test_line_dedup_flags_shared_lines(spark, monkeypatch):
    import uts_spark.queries.llm_ops as llm

    docs = spark.createDataFrame(
        [
            (1, "UNIQUE one\nshared footer\n\nalpha"),
            (2, "different text\nShared Footer  \nbeta"),
            (3, "no overlap at all"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(llm, "table", lambda s, d, n: docs)
    out = {r.doc_id: r for r in QUERIES["text_line_dedup"](spark, "x").collect()}
    # 'shared footer' normalizes identically (trim+lower) in docs 1 and 2
    assert out[1].n_lines == 3 and out[1].n_dup_lines == 1
    assert out[2].n_lines == 3 and out[2].n_dup_lines == 1
    assert out[3].n_dup_lines == 0
    assert out[1].chars_dup == len("shared footer")
    assert 0.0 < out[1].dup_char_ratio < 1.0


def test_gopher_pass_boundaries(spark, monkeypatch):
    import uts_spark.queries.llm_ops as llm

    good = "the quick brown fox " * 20 + "and it is that for a good story"
    short = "too short"
    bullets = "\n".join(f"- item {i} of the list for sure" for i in range(30))
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, bullets)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(llm, "table", lambda s, d, n: docs)
    out = {
        r.doc_id: r for r in QUERIES["text_gopher_quality"](spark, "x").collect()
    }
    assert out[1].gopher_pass is True
    assert out[2].gopher_pass is False  # word count below 50
    assert out[3].gopher_pass is False  # bullet_line_ratio = 1.0 > 0.9
    assert out[3].bullet_line_ratio == 1.0


def test_kcore_peels_chains_keeps_cliques(spark):
    from uts_spark.functions.clustering import kcore_nodes

    # triangle {0,1,2} + pendant chain 2-3-4: the chain peels away
    # (3 and 4 never hold 2 neighbors), the triangle survives as 2-core
    g = _pairs(spark, [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)])
    rows = {r.node: r.deg for r in kcore_nodes(g, k=2, rounds=8).collect()}
    assert rows == {0: 2, 1: 2, 2: 2}
    # k=3 empties it
    assert kcore_nodes(g, k=3, rounds=8).count() == 0


def test_kcore_nonconvergence_raises(spark):
    import pytest

    from uts_spark.functions.clustering import kcore_nodes

    # a 12-node path needs ~6 peel rounds; rounds=2 must fail loudly
    path = _pairs(spark, [(i, i + 1) for i in range(12)])
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore_nodes(path, k=2, rounds=2)


def test_incremental_dedup_quadrants(spark, sf_dir):
    # the incremental pair set must contain NO old-old pairs, and its
    # new-new quadrant must agree with the full-corpus pair run
    from uts_spark.functions.sampling import hash_u

    inc = QUERIES["dedup_incremental_batch"](spark, sf_dir).collect()
    full = {
        (r.id_a, r.id_b)
        for r in QUERIES["dedup_simhash_pairs"](spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new_ids = {
        r.doc_id
        for r in docs.select("doc_id")
        .filter(hash_u("incr", F.col("doc_id")) < 0.1)
        .collect()
    }
    assert len(inc) > 0
    for r in inc:
        a_new, b_new = r.id_a in new_ids, r.id_b in new_ids
        assert a_new or b_new  # old-old never generated
        assert r.pair_type == ("new-new" if (a_new and b_new) else "new-old")
        # every incremental pair is a pair of the full run too
        assert (r.id_a, r.id_b) in full


# --- Pretrained BPE apply (round 6, VERDICT r5 #1) --------------------------

def test_bpe_int_kernel_matches_string_kernel():
    """Optimization r12 (VERDICT r11 #4): the packed-int merge kernel
    the apply lanes now run must reproduce the string kernel's token
    sequence — byte level and char level, on curated unicode edges and
    randomized inputs — and its final ids must BE the vocab ids."""
    import random
    import string

    from uts_spark.functions.bpe_pretrained import (
        _ALL_BYTES,
        _CHAR_BASE,
        apply_int_ids,
        bpe_apply_bytes,
        bpe_apply_lowest_rank,
        ids_for,
        int_id_syms,
        int_pair_table,
        pretrained_byte_merges,
        pretrained_byte_vocab_ids,
        pretrained_merges,
        pretrained_vocab_ids,
    )

    assert ids_for(pretrained_byte_merges(), _ALL_BYTES) == (
        pretrained_byte_vocab_ids()
    )
    assert ids_for(pretrained_merges(), _CHAR_BASE) == pretrained_vocab_ids()

    bm = pretrained_byte_merges()
    bp = int_pair_table(bm, _ALL_BYTES)
    bsyms = int_id_syms(bm, _ALL_BYTES)
    bids = pretrained_byte_vocab_ids()
    rng = random.Random(42)
    samples = [" the", " merged", "naïve", " 東京", "...", "'re", ",", "x"]
    samples += [
        "".join(
            rng.choice(" abcdefghijklmnopqrstuvwxyzABC0123,.'é東ü")
            for _ in range(rng.randrange(1, 14))
        )
        for _ in range(400)
    ]
    for pt in samples:
        toks = bpe_apply_bytes(pt)
        seg = apply_int_ids([b + 1 for b in pt.encode("utf-8")], bp)
        assert [bsyms[i - 1] for i in seg] == toks, pt
        assert sum(bids[t] for t in toks) == sum(seg)

    cp = int_pair_table(pretrained_merges(), _CHAR_BASE)
    cids = pretrained_vocab_ids()
    for _ in range(400):
        w = "".join(
            rng.choice(string.ascii_lowercase)
            for _ in range(rng.randrange(1, 15))
        )
        toks = bpe_apply_lowest_rank(w)
        seg = apply_int_ids([ord(c) - 96 for c in w], cp)
        assert len(toks) == len(seg) and sum(cids[t] for t in toks) == sum(seg)


def test_bpe_ids_for_rejects_duplicate_output_token():
    """A merge whose output already has an id (a repeated merge, or one
    re-creating a base symbol) would give two ids one token string and
    silently collide in the packed-int table: it must raise instead."""
    import pytest

    from uts_spark.functions.bpe_pretrained import ids_for, int_pair_table

    base = ("a", "b", "c")
    assert ids_for((("a", "b"), ("ab", "c")), base) == {
        "a": 1, "b": 2, "c": 3, "ab": 4, "abc": 5,
    }
    with pytest.raises(AssertionError, match="ab"):
        ids_for((("a", "b"), ("c", "a"), ("a", "b")), base)
    with pytest.raises(AssertionError, match="ab"):
        int_pair_table((("a", "b"),), ("a", "b", "ab"))


def test_bpe_pretrained_table_shape():
    """>=1024 merges, unique vocab strings, creator-before-consumer
    (every merge's components are base chars or outputs of EARLIER
    merges) — the invariant the oracle's in-order equivalence rests on."""
    from uts_spark.functions.bpe_pretrained import (
        pretrained_merges,
        pretrained_vocab_ids,
    )

    merges = pretrained_merges()
    assert len(merges) >= 1024
    ids = pretrained_vocab_ids()
    assert len(ids) == 26 + len(merges)  # bijection: no string collisions
    seen = set("abcdefghijklmnopqrstuvwxyz")
    for x, y in merges:
        assert x in seen and y in seen, (x, y)
        seen.add(x + y)


def test_bpe_apply_variants_agree_on_live_vocab(spark, sf_dir):
    """lowest-rank-first (the registered Spark lane) == in-order
    replace-all (the DuckDB oracle's list_reduce) on every distinct
    word of the live corpus."""
    from uts_spark.functions.bpe_pretrained import (
        bpe_apply_in_order,
        bpe_apply_lowest_rank,
    )

    words = [
        r["word"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("word")
        )
        .distinct()
        .collect()
    ]
    assert words
    for w in words:
        assert bpe_apply_lowest_rank(w) == bpe_apply_in_order(w), w


def test_bpe_apply_variants_agree_randomized():
    """Same equivalence on adversarial random [a-z]+ words (repetitive
    strings are where greedy-scan order disagreements would hide);
    also: concatenating tokens reconstructs the word exactly."""
    import random

    from uts_spark.functions.bpe_pretrained import (
        bpe_apply_in_order,
        bpe_apply_lowest_rank,
    )

    rng = random.Random(606)
    alpha = "etaoinshr"  # high-frequency letters -> dense merge hits
    for _ in range(300):
        n = rng.randint(1, 24)
        w = "".join(rng.choice(alpha) for _ in range(n))
        a = bpe_apply_lowest_rank(w)
        b = bpe_apply_in_order(w)
        assert a == b, w
        assert "".join(a) == w


def test_bpe_byte_table_invariants():
    """Byte-level table: 512 merges over hex-pair symbols, components
    always in-vocab, vocab a bijection over 256 base bytes + merges."""
    from uts_spark.functions.bpe_pretrained import (
        pretrained_byte_merges,
        pretrained_byte_vocab_ids,
    )

    merges = pretrained_byte_merges()
    assert len(merges) >= 512
    ids = pretrained_byte_vocab_ids()
    assert len(ids) == 256 + len(merges)
    seen = {bytes([i]).hex() for i in range(256)}
    for x, y in merges:
        assert x in seen and y in seen, (x, y)
        assert len(x) % 2 == 0 and len(y) % 2 == 0
        seen.add(x + y)


def test_bpe_byte_apply_variants_agree_unicode():
    """Byte-lane equivalence (lowest-rank-first == in-order replace,
    the oracle's formulation) on adversarial random strings INCLUDING
    punctuation, digits, and multi-byte UTF-8; token hex concatenation
    must reconstruct the exact UTF-8 byte sequence."""
    import random

    from uts_spark.functions.bpe_pretrained import (
        bpe_apply_bytes,
        bpe_apply_bytes_in_order,
    )

    rng = random.Random(707)
    pool = "etaoins ,.!?'—“”éüñ東京42%€№\t"
    for _ in range(400):
        n = rng.randint(1, 18)
        w = "".join(rng.choice(pool) for _ in range(n))
        a = bpe_apply_bytes(w)
        b = bpe_apply_bytes_in_order(w)
        assert a == b, w
        assert bytes.fromhex("".join(a)) == w.encode("utf-8")


def test_bpe_byte_pretokenizer_parity_spark_vs_python(spark, sf_dir):
    """The GPT-2-style pre-tokenizer regex must split the derived mixed
    text IDENTICALLY in Spark (Java regex) and DuckDB (RE2) — parity is
    pinned end-to-end by the hash-exact oracle; here we pin the Spark
    split against DuckDB directly on the live corpus rows so a regex
    engine divergence fails with the offending doc visible."""
    import duckdb

    from uts_spark.queries.sketch_ops import _MIXED_SQL, _PRETOK_RE

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["doc_id"]: r["pts"]
        for r in docs.select(
            "doc_id",
            F.regexp_extract_all(
                F.expr(_MIXED_SQL.format(styp="STRING")), F.lit(_PRETOK_RE), 0
            ).alias("pts"),
        ).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = {
        d: p
        for d, p in con.sql(
            f"""SELECT doc_id,
                regexp_extract_all({_MIXED_SQL.format(styp='VARCHAR')},
                                   '{_PRETOK_RE.replace("'", "''")}')
                FROM documents"""
        ).fetchall()
    }
    assert got == want


def test_nfc_normalize_idempotent_and_duckdb_parity():
    """The two engine-parity facts the unicode lane rests on, pinned on
    adversarial random strings (combining marks, precomposed forms,
    ligatures, CJK, astral emoji): (a) NFC is idempotent —
    NFC(NFC(x)) == NFC(x); (b) Python unicodedata (the Spark kernel)
    and DuckDB nfc_normalize (the oracle) agree byte-for-byte."""
    import random
    import unicodedata

    import duckdb

    rng = random.Random(4242)
    pool = [
        "é", "é", "ä", "ä", "Å", "Å", "ñ", "ﬁ",
        "Ω", "東", "京", "😀", "́", "̈", " ", "x", "q",
        "ṩ",  # dot-below + dot-above: order-sensitive pair
    ]
    con = duckdb.connect()
    for _ in range(2000):
        s = "".join(rng.choice(pool) for _ in range(rng.randint(0, 10)))
        n = unicodedata.normalize("NFC", s)
        assert unicodedata.normalize("NFC", n) == n, repr(s)
        d = con.sql("SELECT nfc_normalize(?)", params=[s]).fetchone()[0]
        assert d == n, (repr(s), repr(d), repr(n))


def test_minhash_portable_hashing_handles_unicode(spark):
    """The portable (md5-based) shingle/signature machinery must hash
    multi-byte text identically in Spark and DuckDB — pinned by running
    the full portable sketch on unicode docs in Spark and re-deriving
    the shingle md5s in DuckDB."""
    import duckdb

    from uts_spark.functions.dedup import doc_shingle_arrays_portable

    rows = [
        (1, "café naïve 東京 café naïve 東京 über señor"),
        (2, "café naïve 東京 café naïve 東京 über madam"),
        (3, "Ångström ﬁt ṩ marks é combine here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["id"]: sorted(r["sh"])
        for r in doc_shingle_arrays_portable(df, "text", "doc_id", 3).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    from uts_spark.functions.text import duck_tokens, duck_word_ngrams

    grams = duck_word_ngrams(duck_tokens("text"), 3)
    want = {
        i: sorted(sh)
        for i, sh in con.sql(
            f"""SELECT doc_id, list_transform(list_distinct({grams}),
                  g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT))
                FROM t"""
        ).fetchall()
    }
    assert got == want


def test_python_pretokenizer_scanner_parity(spark, sf_dir):
    """The handwritten Python scanner (streaming kernel — stdlib re
    has no \\p{L}) must split IDENTICALLY to the Spark-side Java regex
    on the live corpus's derived mixed text, and to DuckDB's RE2 on
    adversarial random strings."""
    import random

    import duckdb

    from uts_spark.functions.bpe_pretrained import pretokenize
    from uts_spark.queries.sketch_ops import _MIXED_SQL, _PRETOK_RE

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = docs.select(
        F.expr(_MIXED_SQL.format(styp="STRING")).alias("mt"),
        F.regexp_extract_all(
            F.expr(_MIXED_SQL.format(styp="STRING")), F.lit(_PRETOK_RE), 0
        ).alias("pts"),
    ).collect()
    assert rows
    for r in rows:
        assert pretokenize(r["mt"]) == r["pts"], r["mt"]

    con = duckdb.connect()
    q = f"SELECT regexp_extract_all(?, '{_PRETOK_RE.replace(chr(39), chr(39) * 2)}')"
    rng = random.Random(99)
    # \x0b and \x0c included on purpose (ADVICE r7): Java's \s covers
    # U+000B but RE2's does not — the explicit whitespace class in
    # _PRETOK_RE must keep both engines agreeing on these characters
    pool = "abc XY12 ,.!?'—“”éüñ東京42%€№\t\n\x0b\x0c '" + "'s 're "
    for _ in range(1500):
        s = "".join(rng.choice(pool) for _ in range(rng.randint(0, 20)))
        assert con.sql(q, params=[s]).fetchone()[0] == pretokenize(s), repr(s)


def test_bpe_bytes_full_coverage_vs_char_gap(spark, sf_dir):
    """The round-7 motivation in one number: on mixed text the byte
    lane tokenizes every byte (coverage == 1.0 exactly — the
    pre-tokenizer tiles the string), the char lane drops everything
    outside [a-z]+ runs (measured 0.71 at sf0.01) at no better
    bytes-per-token."""
    from uts_spark.registry import QUERIES  # registry first: import trap

    rows = {
        r["lane"]: r
        for r in QUERIES["text_bpe_bytes_compression_eval"](
            spark, sf_dir
        ).collect()
    }
    b, c = rows["bytes_512"], rows["char_1024"]
    assert b["coverage"] == 1.0
    assert c["coverage"] < 0.9
    assert b["n_tokens"] > c["n_tokens"]


def test_byte_bpe_lanes_null_and_empty_text(spark):
    """NULL/empty-text behavior of the round-7 byte lanes, pinned
    against what the oracles do (the ADVICE r6 class: str(None)
    silently tokenizing as a word): NULL text propagates NULL through
    the mixed-text concat and the doc DROPS from per-doc output (no
    row, not a zero row); empty text still yields the decoration
    tokens."""
    from uts_spark.queries.sketch_ops import (
        _MIXED_SQL,
        _PRETOK_RE,
        _bpe_byte_pretoken_tokens,
    )

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    mixed = F.expr(_MIXED_SQL.format(styp="STRING"))
    dpts = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(mixed, F.lit(_PRETOK_RE), 0)
        ).alias("p", "pt"),
    )
    out = (
        dpts.join(_bpe_byte_pretoken_tokens(dpts.select("pt").distinct()), "pt")
        .groupBy("doc_id")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    rows = {r["doc_id"]: r["n_tokens"] for r in out.collect()}
    assert 2 not in rows  # NULL text: doc absent, matching the oracle
    assert rows[1] > rows[3] > 0  # empty text keeps decoration tokens


def test_bpe_compression_pretrained_beats_toy(spark, sf_dir):
    """The 1024-merge pretrained table must compress the corpus
    strictly better than the 3-round trained toy — the whole point of
    carrying a real merge table (measured at sf0.01: 4.22 vs 1.09
    chars/token, 87% vs 9% merged-token share)."""
    from uts_spark.registry import QUERIES  # registry first: import trap

    rows = {
        r["lane"]: r
        for r in QUERIES["text_bpe_compression_eval"](spark, sf_dir).collect()
    }
    p, t = rows["pretrained_1024"], rows["trained_3round"]
    assert p["chars_per_token"] > t["chars_per_token"] * 2
    assert p["multi_share"] > t["multi_share"]
    assert p["n_chars"] == t["n_chars"]  # same corpus, same explode


def test_bpe_byte_roundtrip_lossless_corpus_wide(spark, sf_dir):
    """VERDICT r7 #3: the decode lane must prove losslessness for EVERY
    document (roundtrip_ok all-1, decoded byte count == original byte
    count), and its token accounting must agree with the apply lane."""
    import uts_spark.registry as reg

    rt = {
        r["doc_id"]: r
        for r in reg.QUERIES["text_bpe_roundtrip"](spark, sf_dir).collect()
    }
    assert rt
    assert all(r["roundtrip_ok"] == 1 for r in rt.values())
    assert all(r["dec_n_bytes"] == r["n_bytes"] for r in rt.values())
    ap = {
        r["doc_id"]: r
        for r in reg.QUERIES["text_bpe_apply_bytes"](spark, sf_dir).collect()
    }
    assert set(rt) == set(ap)
    assert all(rt[d]["n_tokens"] == ap[d]["n_tokens"] for d in rt)


def test_ulang_id_script_gates_and_lexicons(spark):
    """VERDICT r7 #5: the unicode cascade — kana gates before Han
    (Japanese text mixes both), Han -> zh, Cyrillic/Greek resolve via
    the extended lexicons, accented Latin stays lexicon-routed, and
    text with no signal is unknown."""
    from uts_spark.functions.text import ulang_id

    rows = [
        (1, "これは 東京 の きれいな まち です"),     # kana + Han -> ja
        (2, "東京都是一個大城市"),                      # Han only -> zh
        (3, "и это не дом в котором мы были"),          # Cyrillic -> ru
        (4, "και το σπίτι είναι με τον για τα"),        # Greek -> el
        (5, "le café est dans la rue pour que"),        # accented fr
        (6, "xyzzy qwerty plugh"),                      # no signal
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["l"]
        for r in df.select("doc_id", ulang_id(F.col("text")).alias("l")).collect()
    }
    assert out == {1: "ja", 2: "zh", 3: "ru", 4: "el", 5: "fr", 6: "unknown"}


def test_unicode_pii_regexes_catch_what_ascii_misses(spark):
    """The IDN/accented email and the fullwidth digit run escape the
    ASCII patterns whole and are caught by the unicode ones; plain
    ASCII PII is caught by both (the unicode classes are a superset)."""
    from uts_spark.functions.text import (
        redaction_count,
        uredact,
        uredaction_count,
    )

    rows = [
        (1, "write to naïve.user@exämple.com or call ０１２３４５ now"),
        (2, "plain user@example.com and 123456789 here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["na"], r["nu"], r["clean"])
        for r in df.select(
            "doc_id",
            redaction_count(F.col("text")).alias("na"),
            uredaction_count(F.col("text")).alias("nu"),
            uredact(F.col("text")).alias("clean"),
        ).collect()
    }
    assert got[1][0] == 0 and got[1][1] == 2
    assert got[1][2] == "write to <EMAIL> or call <NUM> now"
    assert got[2][0] == 2 and got[2][1] == 2
    assert got[2][2] == "plain <EMAIL> and <NUM> here"


def test_ulang_id_v2_routes_out_of_set_to_unknown(spark):
    """VERDICT r8 #6: the calibrated router. (a) Out-of-set scripts
    (Arabic, Hangul, Thai) route to EXACTLY 'unknown' even when the
    text carries Latin loanwords that fool v1's argmax; (b) the 1/8
    lexicon margin sends evidence-free mostly-Latin text to 'unknown'
    where one stray stopword fooled v1; (c) in-set behavior is
    unchanged from v1 on clean text."""
    from uts_spark.functions.text import ulang_id, ulang_id_v2

    rows = [
        # out-of-set scripts WITH Latin loanword contamination: one
        # English stopword is enough for v1's best>0 argmax
        (1, "هذا هو البيت الكبير في المدينة ونحن هنا معهم اليوم the web"),
        (2, "이것은 매우 좋은 집이고 우리는 오늘 여기에 있다 그리고 the app"),
        (3, "นี่คือบ้านที่ดีมากและเราอยู่ที่นี่วันนี้และนี่เป็นสิ่งที่ the site"),
        # mostly-Latin gibberish with ONE stopword in 12 tokens: v1
        # says 'en', the 1/8 margin says evidence-free
        (4, "xq zr the plugh wombat zyx qet vnm lorp quux blarg"),
        # clean in-set controls
        (5, "le café est dans la rue pour que une vie est là"),
        (6, "これは 東京 の きれいな まち です"),
        (7, "и это не дом в котором мы были"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["v1"], r["v2"])
        for r in df.select(
            "doc_id",
            ulang_id(F.col("text")).alias("v1"),
            ulang_id_v2(F.col("text")).alias("v2"),
        ).collect()
    }
    # (a) script-coverage majority: v2 unknown, v1 fooled by loanwords
    for i in (1, 2, 3):
        assert got[i][1] == "unknown", got
        assert got[i][0] == "en", got  # the v1 failure this fixes
    # (b) margin: 1 hit / 12 tokens < 1/8
    assert got[4] == ("en", "unknown"), got
    # (c) in-set parity
    for i, want in ((5, "fr"), (6, "ja"), (7, "ru")):
        assert got[i] == (want, want), got


def test_ulang_v2_confusion_is_diagonal_plus_unknown(spark):
    """The registered v2 confusion lane's shape claim, pinned in
    pytest too: exactly 11 cells — the 8 in-set labels diagonal, and
    ar/ko/th mapping ONLY to 'unknown'."""
    cells = {
        (r["label_lang"], r["pred_lang"])
        for r in QUERIES["text_langid_confusion_v2"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    in_set = {"en", "de", "fr", "es", "ru", "el", "ja", "zh"}
    assert cells == {(l, l) for l in in_set} | {
        ("ar", "unknown"), ("ko", "unknown"), ("th", "unknown")
    }


def test_ulang_id_v3_promotes_ar_ko_th_and_keeps_unknown_tail(spark):
    """Round-10 candidate #5: ar/ko/th are IN-SET script routes in v3
    (v2 discarded them to 'unknown' — a third of a realistic non-Latin
    crawl), while the calibrated 'unknown' still catches the REMAINING
    out-of-set scripts (Hebrew, Devanagari) and the 1/8 margin rule is
    unchanged. Gate order is mixing-aware: Hangul with hanja (Han)
    present routes ko, not zh."""
    from uts_spark.functions.text import ulang_id_v2, ulang_id_v3

    rows = [
        # the three promotions (with Latin loanword contamination — the
        # case that fooled v1 and that v2 could only call unknown)
        (1, "هذا هو البيت الكبير في المدينة ونحن هنا معهم اليوم the web"),
        (2, "이것은 매우 좋은 집이고 우리는 오늘 여기에 있다 그리고 the app"),
        (3, "นี่คือบ้านที่ดีมากและเราอยู่ที่นี่วันนี้และนี่เป็นสิ่งที่ the site"),
        # Korean with hanja: Hangul must gate BEFORE Han
        (4, "이것은 韓國 에서 매우 좋은 집이고 우리는 여기에 있다"),
        # remaining out-of-set scripts: the unknown tail stays calibrated
        (5, "זהו בית גדול מאוד בעיר ואנחנו כאן היום עם כולם the web"),
        (6, "यह शहर में एक बहुत बड़ा घर है और हम आज यहाँ सब के साथ the app"),
        # margin rule unchanged: evidence-free mostly-Latin -> unknown
        (7, "xq zr the plugh wombat zyx qet vnm lorp quux blarg"),
        # in-set parity with v2
        (8, "le café est dans la rue pour que une vie est là"),
        (9, "これは 東京 の きれいな まち です"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["v2"], r["v3"])
        for r in df.select(
            "doc_id",
            ulang_id_v2(F.col("text")).alias("v2"),
            ulang_id_v3(F.col("text")).alias("v3"),
        ).collect()
    }
    for i, want in ((1, "ar"), (2, "ko"), (3, "th")):
        assert got[i] == ("unknown", want), got  # the v2 gap this closes
    assert got[4][1] == "ko", got
    for i in (5, 6):
        assert got[i][1] == "unknown", got
    assert got[7][1] == "unknown", got
    for i, want in ((8, "fr"), (9, "ja")):
        assert got[i] == (want, want), got


def test_ulang_v3_confusion_is_diagonal_plus_unknown(spark):
    """The registered v3 confusion lane's shape claim: exactly 13
    cells — 11 in-set labels diagonal (incl. the three new script
    routes) and he/hi mapping ONLY to 'unknown'."""
    cells = {
        (r["label_lang"], r["pred_lang"])
        for r in QUERIES["text_langid_confusion_v3"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    in_set = {
        "en", "de", "fr", "es", "ru", "el", "ja", "zh", "ar", "ko", "th"
    }
    assert cells == {(l, l) for l in in_set} | {
        ("he", "unknown"), ("hi", "unknown")
    }


def test_mix_trained_merges_cut_nonlatin_fertility(spark):
    """VERDICT r8 #2: the mix-trained byte table must materially drop
    non-Latin fertility vs the shipped English-seed table (the
    measured tax this round removes), pay at most the classic
    multilingual en regression, and compress the cross-language
    fertility spread."""
    fert = {
        r["label_lang"]: (r["fertility_ascii"], r["fertility_mix"])
        for r in QUERIES["text_bpe_fertility_mix_trained"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(fert) == {"en", "de", "fr", "es", "ru", "el", "ja", "zh"}
    # non-Latin languages must improve by >= 1.5x
    for lang in ("ru", "el", "ja", "zh"):
        a, m = fert[lang]
        assert m < a / 1.5, (lang, a, m)
    # the en regression is bounded (mix tax, not collapse)
    a_en, m_en = fert["en"]
    assert m_en < 2 * a_en, fert["en"]
    # spread compression: max/min fertility ratio shrinks
    spread = lambda i: max(v[i] for v in fert.values()) / min(  # noqa: E731
        v[i] for v in fert.values()
    )
    assert spread(1) < spread(0) / 2, (spread(0), spread(1))


def test_mix_merges_match_distributed_trainer_prefix(spark):
    """The shipped mix-trained table is what the DISTRIBUTED byte
    trainer produces on the same weighted sample: run the Spark
    pair-count/top-pair/merge rounds (the text_bpe_train_bytes
    machinery) over the sample pre-tokens and pin the first rounds'
    merges against the driver-trained table prefix."""
    from uts_spark.functions.bpe_pretrained import (
        mix_trained_byte_merges,
        pretokenize,
    )
    from uts_spark.queries.sketch_ops import _bpe_merge_round
    from uts_spark.queries.unicode_ops import _MIX_TRAIN_SAMPLE

    from collections import Counter

    counts = Counter()
    for text, weight in _MIX_TRAIN_SAMPLE:
        for pt in pretokenize(text):
            counts[pt] += weight
    rows = [
        (
            w,
            f,
            "|".join(
                w.encode("utf-8")[i : i + 1].hex()
                for i in range(len(w.encode("utf-8")))
            ),
        )
        for w, f in sorted(counts.items())
    ]
    words = spark.createDataFrame(rows, "word string, freq long, seg string")
    got = []
    for _ in range(5):
        top, words = _bpe_merge_round(words)
        r = top.collect()[0]
        got.append((r["x"], r["y"]))
    assert tuple(got) == mix_trained_byte_merges(_MIX_TRAIN_SAMPLE)[:5]


def test_langid_margin_sweep_plateau_and_knee(spark):
    """The router's margin tuning curve: every margin inside the
    measured separated band [0.087, 0.391) behaves identically (the
    plateau the shipped 1/8 sits on), the 1/2 margin crosses the
    in-set distribution (docs drop to unknown — the knee), and NO
    margin ever misroutes an out-of-set doc (that guard is the
    coverage gate's, margin-independent)."""
    rows = {
        r["margin_den"]: r
        for r in QUERIES["text_langid_margin_sweep"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {2, 4, 8, 16, 32}
    plateau = [
        (
            rows[d]["n_in_correct"],
            rows[d]["n_in_unknown"],
            rows[d]["n_in_misrouted"],
            rows[d]["n_out_unknown"],
            rows[d]["n_out_misrouted"],
        )
        for d in (4, 8, 16, 32)
    ]
    assert len(set(plateau)) == 1, plateau
    assert rows[2]["n_in_unknown"] > 0  # the knee
    assert rows[2]["n_in_correct"] < rows[4]["n_in_correct"]
    for d in rows:
        assert rows[d]["n_out_misrouted"] == 0, d
        assert rows[d]["n_in_misrouted"] == 0, d


def test_ulang_id_v4_disambiguates_arabic_script(spark):
    """Within-script disambiguation: (a) Persian and Urdu text route
    fa/ur where v3's blanket script gate said 'ar'; (b) Arabic still
    routes ar; (c) an Arabic-script doc with no member's lexicon
    evidence routes 'unknown' (v4 doesn't guess the member); (d)
    non-Arabic routes are untouched vs v3."""
    from uts_spark.functions.text import ulang_id_v3, ulang_id_v4

    rows = [
        (1, "است که این را با برای های می آن خود در شهر بزرگ ما"),
        (2, "یہ ہے کے میں کی اور سے کا ہیں نے ہم آج یہاں"),
        (3, "هذا هو البيت الكبير في المدينة ونحن هنا معهم اليوم"),
        # Arabic-script gibberish with no function words: evidence-free
        (4, "قطقط مرمر زلزل فلفل بلبل دحرج خربش طرطق عسعس"),
        (5, "le café est dans la rue pour que une vie est là"),
        (6, "นี่คือบ้านที่ดีมากและเราอยู่ที่นี่วันนี้"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["v3"], r["v4"])
        for r in df.select(
            "doc_id",
            ulang_id_v3(F.col("text")).alias("v3"),
            ulang_id_v4(F.col("text")).alias("v4"),
        ).collect()
    }
    assert got[1] == ("ar", "fa"), got  # the member v3 guessed wrong
    assert got[2] == ("ar", "ur"), got
    assert got[3] == ("ar", "ar"), got
    assert got[4] == ("ar", "unknown"), got  # v4 doesn't guess
    for i, want in ((5, "fr"), (6, "th")):
        assert got[i] == (want, want), got


def test_ulang_v4_confusion_is_diagonal_plus_unknown(spark):
    """15 cells: 13 in-set diagonal (fa/ur resolved WITHIN the Arabic
    script) + he/hi on 'unknown'."""
    cells = {
        (r["label_lang"], r["pred_lang"])
        for r in QUERIES["text_langid_confusion_v4"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    in_set = {
        "en", "de", "fr", "es", "ru", "el", "ja", "zh",
        "ar", "ko", "th", "fa", "ur",
    }
    assert cells == {(l, l) for l in in_set} | {
        ("he", "unknown"), ("hi", "unknown")
    }
