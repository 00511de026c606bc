"""Query registry: one named entry per implemented operator from
SURVEY.md §2 (and the north-star extensions), each with a DuckDB oracle
encoding the REFERENCE's semantics (not naive SQL) so the driver's hash
comparison validates quirk fidelity.

Conventions for oracle-exactness:
- float sums go through DECIMAL(38,6) on BOTH engines (order-independent,
  bit-identical; see operators/aggregates.stable_sum);
- timestamps in outputs are epoch-ms BIGINTs (Spark ``unix_millis`` ↔
  DuckDB ``epoch_ns(..)//1000000``) — never raw timestamp cells;
- every computed column is aliased identically on both sides;
- deterministic tie-breaks (unique ids) wherever a top-k or arg-max could
  tie.

``NOW_MS`` anchors the events queries at 2024-02-01T00:00:00Z — just past
the generator's last event — so interval bins are deterministic.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from uts_spark.plans.tsdb import Series
from uts_spark.session import configure_session
from uts_spark.sources.tables import load_events, load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Library demos NOT exposed through the driver-facing ``queries()``
# contract: operators whose outputs are engine-private by nature (native
# HLL++/GK sketch registers, MLlib k-means cell assignments, eigensolver
# sign/order) and therefore can never hash-match an external oracle.
# Their deterministic siblings (approx_sketches, similarity_ann_ivf_det,
# pca invariants in tests/) hold the green correctness rows; these stay
# runnable and pytest-gated (tests/test_demos.py) as documentation of the
# engine-native path.
DEMOS: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

NOW_MS = 1706745600000  # 2024-02-01T00:00:00Z
DAY = 86_400_000
HOUR = 3_600_000

# DuckDB-side epoch-ms for the events table's TIMESTAMP_NS column
MS = "epoch_ns(ts)//1000000"


def FDIV(x: str, d: int) -> str:
    """Floor division, DuckDB side.

    DuckDB's integer ``//`` TRUNCATES toward zero (verified:
    ``-1 // 86400000 = 0``), exactly like Spark's ``div`` — it is NOT
    Python's flooring ``//``.  Spark-side bucket computations use
    ``F.floor(col / lit(d))`` (the correct time-bucket semantic: a
    pre-epoch timestamp belongs to the lower bucket), so every oracle
    bucket must floor too.  Double division is exact enough here:
    |x| < 2^53 for epoch-ms values, and the quotient's distance to an
    integer boundary (>= 1/d) dwarfs the quotient ulp.
    """
    return f"CAST(floor(({x}) / {float(d)!r}) AS BIGINT)"


def DSUM(expr: str) -> str:
    """Decimal-stable sum, DuckDB side (mirror of aggregates.stable_sum)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def demo(name: str):
    """Register an engine-native demo (see DEMOS) — never driver-facing."""
    def deco(fn):
        DEMOS[name] = fn
        return fn
    return deco


def events_series(spark: SparkSession, sf_dir: str) -> Series:
    configure_session(spark)
    return Series(load_events(spark, sf_dir), time_col="ts_ms", order_col="ingest_id")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_session(spark)
    return load_table(spark, sf_dir, name)


# --- register all query modules (import side effects fill QUERIES/ORACLES).
# Imports are UNGUARDED on purpose: a broken transitive import must crash
# the registry, not silently shrink the gate denominator (a bare
# `except ImportError: pass` here once meant "0 fail" could hide an entire
# missing query family). The size floor below is a second tripwire.
from uts_spark.queries import uts_core  # noqa: E402,F401
from uts_spark.queries import analytics  # noqa: E402,F401
from uts_spark.queries import llm_ops  # noqa: E402,F401
from uts_spark.queries import streaming_replay  # noqa: E402,F401
from uts_spark.queries import sampling_ops  # noqa: E402,F401
from uts_spark.queries import timeseries_ops  # noqa: E402,F401
from uts_spark.queries import tpch_extra  # noqa: E402,F401
from uts_spark.queries import advanced_ops  # noqa: E402,F401
from uts_spark.queries import mining  # noqa: E402,F401
from uts_spark.queries import sketch_ops  # noqa: E402,F401
from uts_spark.queries import unicode_ops  # noqa: E402,F401

# Registry-size floor: bump when adding families, never lower (the one
# sanctioned decrease: round 4 demoted the 3 engine-native no-oracle
# entries to DEMOS per VERDICT r3 #1, 227 → 224; every remaining entry
# has a declared oracle). If this fires, a module stopped registering
# queries — find out why.
_REGISTRY_FLOOR = 417  # round 11: +streaming-maintained view replay
# prior floor 416 — +composite-key CDF +chained views
# prior floor 414 — +min/max aggregate views (hybrid IVM)
# prior floor 413 — +branch-staged MOR erasure (WAP takedowns)
# prior floor 412 — +SQL-view movers-only refresh
# prior floor 411 — +incremental aggregate view (IVM
# over the table's own change feed, exactly-once cursor on the view
# manifest)
# prior floor 410 — +multi-key KMV synopses
# (kmv_extra per-column sketches; plan_join resolves either key)
# prior floor 409 — +catalog SQL-surface stats join
# (register_sql_views hint-through-view CBO — VERDICT r10 #4) and
# prior floor 408 — +age-based retention vacuum
# (committed_at manifest stamps + max_age_secs window — VERDICT r10 #2)
# prior floor 407 — round 10 (cont. 2): +manifest-planned join
# (KMV estimate -> physical strategy) and +streaming CDC across a
# positional delete
# prior floor 405 — +positional deletion
# vectors (keyless MOR erasure by physical address — r11 candidate #3)
# prior floor 404 — +per-dir KMV distinct
# sketches on the versioned-table manifest (distinct/join/overlap
# estimates from manifests alone — r11 candidate #1)
# prior floor 402 — meta_cols + filtered
# probes on the OTHER three index families (LSH / IVF-PQ / minhash —
# the r11 candidate #2 matrix completed)
# prior floor 399 — round 10 (cont.): +deletion-vector MOR erasure
# (table + index), +filtered ANN (pre/post modes), +filtered recall
# eval, +consistent multi-table catalog snapshot, +streaming CDC
# across MOR
# (versioned_point_lookup_read - the GDPR right-of-ACCESS verb:
# read_rows_for_ids scans only bloom/stats-admitting dirs),
# +1 streaming-WAP replay lane
# (stream_wap_branch_ingest_replay - exactly-once staged ingest on a
# branch via write_to_branch batch keys, audit via branch_changes,
# one-commit publish), +1 incremental-replication lane
# (versioned_replicate_converges - CDF-driven replica with committed
# cursor: seed / append-fast-path / key-diff apply), +1 bloom-pruned
# erasure lane
# (cdc_bloom_pruned_erasure_read - per-dir _BLOOM.json sidecars: content
# pruning for hash-distributed takedown keys where min/max stats admit
# every dir), +1 xent-refit scoring lane
# (text_quality_model_xent_score — the gate-passing _QM_W_XENT swap,
# VERDICT r9 #3 acted on) and +1 in-engine gate-eval lane
# (text_quality_model_xent_gate_eval — holdout confusions + micro-F1
# for incumbent vs refit against the train-only bigram-perplexity
# labels; the F1s DIFFER, so the gate demonstrably discriminates).
# Earlier round 10: +4 facade-routed service-tick replay
# lanes (index_service_tick through the protocol facade for all four
# families, family lanes' oracles reused verbatim) and +1 one-call GDPR
# lane (index_gdpr_erase_everywhere — three index families + a table
# target behind a closed-form accounting oracle, pruned self-audit),
# +1 WAP lane (versioned_wap_branch_publish — writable branches),
# +1 catalog lane (catalog_name_resolution — name->path shim),
# +1 column-level streaming CDC lane (stream_cdc_apply_columns_replay),
# +1 band-index change-feed lane (dedup_minhash_index_cdf).
# Round 9c floor was 376: +1 protocol-facade lifecycle lane,
# +2 Arabic-family confidence/per-member-sweep lanes, +2 versioned-table
# change-data-feed lanes (dir-diff fast path + key-diff across rewrites),
# +1 schema-evolution read lane, +1 CDC incremental-apply convergence lane,
# +1 streaming CDC consumer (committed-cursor apply loop), +1 pruned-erasure
# read lane over an id-clustered append chain
# (similarity_ann_protocol_facade_probe — the index facade,
# functions/index_protocol.py).
# Round 9b floor was 367: +5 snapshot-ANN lanes (LSH/IVF/IVF-PQ
# vindex lifecycles, recluster, pin-across-recluster), the dedup
# ingest skew-cap replay, and the v3 router pair (ar/ko/th in-set +
# confusion), on top of round 9's +8 (compaction x pins, router v2 x2,
# fertility A/B, v6_mix, drift-recluster replay, qm6 compare,
# minhash vindex)
if len(QUERIES) < _REGISTRY_FLOOR:
    raise RuntimeError(
        f"query registry shrank: {len(QUERIES)} < floor {_REGISTRY_FLOOR} — "
        "a query module failed to register its entries"
    )

# Since round 4, EVERY driver-facing query must declare an oracle — a
# no-oracle entry reads as a red `err: no_oracle` row in the driver's
# correctness file. Engine-native ops without an expressible oracle
# belong in DEMOS (pytest-gated), not here.
_no_oracle = sorted(n for n in QUERIES if n not in ORACLES)
if _no_oracle:
    raise RuntimeError(
        f"driver-facing queries without oracles: {_no_oracle} — register "
        "them via @demo (registry.DEMOS) instead"
    )

# Headline set for bench.py — representative of each operator family,
# heaviest variants included on purpose.
HEADLINE = [n for n in (
    "uts_global_agg",
    "uts_interval_mean_fill",
    "uts_map_exploded",
    "uts_derivative",
    "tpch_q1_pricing",
    "tpch_q3_topk",
    "tpch_q5_region_revenue",
    "tpch_q6_forecast_revenue",
    "join_asof_last_error",
    "window_running_sum",
    "session_windows_per_user",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_cluster_cc",
    "text_decontaminate",
    "similarity_topk_cosine",
    "text_quality_score",
    "tpch_q8_market_share",
    "text_tfidf_top_terms",
    "join_asof_next_purchase",
    "ts_ohlc_hourly",
    "ts_twap_by_type",
    "cohort_retention_weekly",
    "ts_cusum_changepoint",
    "ts_interval_coverage",
    "graph_pagerank_trade",
    "text_line_dedup",
    "text_bpe_apply_pretrained",
    "text_bpe_apply_bytes",
    "ts_mad_anomaly",
    "events_pattern_match",
    "ts_holt_winters_hourly",
    # r4: the quantile/rank family is perf-tracked via the distributed
    # exact-rank plan (operators/distributed_rank) over the raw events
    # table — the heaviest member of the rerouted global-window set
    "histogram_equidepth_deciles",
    # r4: the real-codec lane — encode + inflate/unfilter 5k PNGs,
    # Arrow-batched and spread across cores (the multimodal perf story)
    "multimodal_png_decode",
    # r4b: the lossy-codec lane — full per-image Huffman entropy decode
    # + IDCT; tracks the Python-kernel batch path under load
    "multimodal_jpeg_decode",
    # r5: trained-BPE corpus-wide apply — train rounds on the distinct
    # word table + one corpus-sized dictionary join
    "text_bpe_apply",
    # r8: multilingual routing — script gates + unicode-token stopword
    # argmax over the derived 8-language corpus (the crawl-router lane)
    "text_lang_id_unicode",
    # r9: the fertility A/B — BOTH byte tables' merge work over the
    # distinct pre-tokens in one lane (tracks the tokenizer-eval cost)
    "text_bpe_fertility_mix_trained",
    # r9: the 6-feature quality path — adds the train-split unigram
    # xent kernel (one doc-term shuffle + dictionary join) to the
    # map-only five-feature model
    "text_quality_model6_compare",
    # r10: service economics in HEADLINE (VERDICT r9 #5) — the round-9
    # surfaces get round-over-round driver-visible perf signal:
    # the facade-routed minhash skew tick (cold pass = build + streamed
    # ingest + quarantine loop; warm passes = the serviced index's
    # probe), the WAP cycle (fork -> stage x2 -> audit -> publish,
    # re-run END TO END every pass — manifest-commit economics), and
    # the append-only CDF feed read (manifest-diff fast path).
    "facade_tick_minhash_skew_replay",
    "versioned_wap_branch_publish",
    "cdc_table_changes_appendonly",
    # r10 (cont.): deletion-vector economics — two MOR takedowns, a
    # re-using append, reads at both physical states, one materialize;
    # tracks the merge-on-read anti-join + pruned-rewrite walls
    "versioned_dv_mor_erasure",
    # r10 (cont. 2): filtered ANN at the index layer — warm passes are
    # the metadata-pushed cell-pruned probe against the persisted
    # meta_cols index (build amortizes across passes via the
    # fingerprint check); tracks the predicate+cell PushedFilters scan
    "similarity_ann_ivf_index_filtered_probe",
    # r10: the de-circularized refit gate reproduced in-engine — the
    # train-only bigram-perplexity labels (one (doc,bigram) shuffle +
    # dictionary joins) + two map-only model passes + 1-row confusions
    "text_quality_model_xent_gate_eval",
    # r11: the two new service cycles, driver-visible like the r10
    # set — WAP-staged erasure (fork -> key+positional vector staging
    # -> keyless audit feed -> one-commit publish, end to end every
    # pass: ~5.4s warm at sf0.1) and the IVM tick (seed + append feed
    # + MOR feed + replay no-op + group merges: ~4.8s warm).
    # versioned_agg_view_minmax is oracle-gated but NOT here: it is
    # the same IVM machinery plus the regression recompute, and the
    # bench wall grows 5x per lane added.
    "versioned_branch_staged_erasure",
    "versioned_incremental_agg_view",
    # NOT in headline: pipeline_training_prep_v6 (the flagship fused
    # DAG) measures ~45 s warm at sf0.1 — one composition would double
    # the whole bench wall and drown the per-operator signal; its
    # components are all individually tracked above
) if n in QUERIES]
