"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The query surface mirrors the reference's (TPC-H q1-q22 class SQL, reference
``tests/tpch.rs:168-194`` + ad-hoc aggregation/CTE tests,
``tests/distributed_aggregation.rs:19``, ``tests/distributed_repartitions.rs:18-37``)
plus the training-data pipeline operators. SQL-corpus queries share one ANSI
text between Spark and the DuckDB oracle; DataFrame-native operators carry a
semantically-equivalent hand-written oracle.

All 124 queries are declared as of round 15 (the round-14 staged operator
``minhash_index_upsert`` was promoted at the round-15 rotation). The
staged tier (``operators.staged_queries()`` / ``staged_oracles()`` +
``tests/test_staged_oracle.py`` + ``scripts/verify_staged.py``) holds at
most the one new operator each round's VERDICT budgets (empty this round
— round 15 is an optimization round); the 124-query surface cycles the
50-slot gate window every ceil(124/50) = 3 rounds — see ``query_tiers``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import sys as _sys

if "/root/repo" not in _sys.path:  # driver may exec this file from anywhere
    _sys.path.insert(0, "/root/repo")

from datafusion_distributed_experiment_spark import Engine
from datafusion_distributed_experiment_spark import queries as corpus

_SQL_QUERIES = [
    # events_window_funcs was a round-7 stale-budget sacrifice (last green
    # r05) and re-enters the round-8 window with the rest of that cohort
    "adhoc/events_window_funcs",
    *(f"tpch/q{i}" for i in range(1, 23)),
    "adhoc/events_agg_count",
    "adhoc/events_cte_join",
    "adhoc/events_daily",
    "adhoc/events_rolling",
    "adhoc/events_topk",
    "adhoc/events_rollup",
    "adhoc/events_cube",
    "adhoc/events_setops",
    "adhoc/events_median",
    "adhoc/events_latest",
    "adhoc/q1_decimal",
]


# WeakKeyDictionary keyed by the LIVE session (not id(spark): ids are
# recycled addresses — the scoped_session/custom-source identity lesson),
# mapping each session to the sf_dir its views CURRENTLY point at plus the
# per-table registration record. Temp views are ONE per-session namespace,
# so a session that switches sf_dirs must re-register everything — the old
# (session, dir, table) memo kept the stale dir's keys and silently served
# the other scale's data to any later call with the first dir.
import weakref

_registered: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _ensure_registered(spark: SparkSession, sf_dir: str) -> Engine:
    """Register the sf_dir tables once per session — schema probing and view
    creation are driver-side overhead worth paying a single time. Memoized
    per TABLE so a transient failure on one file is retried without masking
    the other nine, and a half-registered catalog can't be mistaken for a
    complete one; switching sf_dirs drops the whole record (the views are
    one namespace) and registers the new dir from scratch."""
    eng = Engine(spark)
    from datafusion_distributed_experiment_spark.engine import _TPCH_TABLES

    state = _registered.get(spark)
    if state is None or state[0] != sf_dir:
        state = (sf_dir, set())
        _registered[spark] = state
    done = state[1]
    pending = [t for t in _TPCH_TABLES if t not in done]
    if pending:
        failures = eng.register_sf_dir(sf_dir, tables=pending)
        for t in pending:
            if t not in failures:
                done.add(t)
    return eng


def _run_corpus(name: str) -> Callable[[SparkSession, str], DataFrame]:
    text = corpus.load(name)

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _ensure_registered(spark, sf_dir).sql(text)

    return run


def _run_q15_script() -> Callable[[SparkSession, str], DataFrame]:
    """q15 executes the reference's real 3-statement form (create view;
    select; drop view — reference benchmarks/src/tpch/run.rs:186-199) through
    Engine.sql_script; the oracle compares against the CTE rewrite."""
    script = corpus.load("tpch/q15_script")

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _ensure_registered(spark, sf_dir).sql_script(script, result_statement=1)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H q1 shape) on /root/testdata/sf0.001."""
    return _run_corpus("tpch/q1")(spark, "/root/testdata/sf0.001")


def query_tiers() -> list[tuple[str, dict[str, Callable[[SparkSession, str], DataFrame]]]]:
    """Queries grouped by tier, gate-ordered: the driver oracle-checks the
    FIRST 50 entries, so the window rotates round-over-round.

    STALE BUDGET (124-query surface): 124 queries over a 50-slot window
    means the full surface cycles every ceil(124/50) = 3 rounds. The real
    guarantee, pinned by tests/test_corpus_oracle.py: (a) never-verified
    count = 0 — every declared query holds a green row in SOME committed
    CORRECTNESS_r*.json before it may sit outside the window; (b) every
    query outside the window was green within the THREE most recent
    committed artifacts (exactly the 3-round cycle arithmetic; holds at
    every commit point, mid-rotation included); (c) the queries left to
    age furthest are chosen deepest-evidence-first.

    ROUND 15 — the window (50):
    * slot 1: minhash_index_upsert — the round-14 staged operator (the
      MAINTAIN step of the persisted MinHash LSH band index: signature
      only the CDC delta, rewrite only touched (band_idx, bucket)
      partitions, probe bit-identically to a from-scratch rebuild),
      PROMOTED this rotation (never driver-verified; leads the window).
    * slots 2-24: the 23 queries whose last green row is CORRECTNESS_r12
      (the round-14 sacrifice cohort — the rotation contract's re-entry
      point): top_terms, the four events temporal/cube re-entries
      (events_asof, events_cube, events_kmv_distinct, events_range_join),
      the fifteen TPC-H re-entries (q1, q3-q12, q14, q16, q18, q19), and
      the three text re-entries (fingerprint, lang_id, text_stats).
    * slots 25-50: the 26 SHALLOWEST of the r13-green queries by total
      green-row depth across all committed artifacts: ivf_pq_index_build
      (once-green), events_quantile_sketch (twice), the ten 4x-green
      (bfs_hops_t3, bm25_topk, bpe_merges_t2, cms_heavy_hitters,
      dsir_weights, lpa_communities_t3, span_scrub, stream_topk,
      triangle_count, winnow_fingerprints), and the 14
      alphabetically-first five-times-green (bloom_semi_agg,
      cdc_apply_changes, chunk_documents, corpus_pipeline,
      custom_source_scan, decontaminate, dedup_clusters_star, domain_mix,
      domain_resample, embedding_quantize, kmeans_assign, media_dedup,
      media_frames, media_meta_stats — the 11 alphabetically-last
      five-times-green sit out one more round). stream_topk is the one
      streaming query in the window; it sits in its own
      "shallow-r13-streaming" subtier.

    SACRIFICED this round (24 r13-green, deepest-evidence-first; they
    re-enter at round 16 alongside the shallowest r14-green): the 11
    alphabetically-last 5x-green (pack_sequences, pagerank_nations,
    pii_scrub, repetition_stats, rollup_incremental, sessionize,
    stream_click_attr, stream_dedup, stream_enrich, stream_sliding,
    user_sessions), the three 6x-green (dedup_clusters,
    dedup_incremental, quality_score), and the ten 7x-green (ann_ivf,
    ann_lsh, dedup_exact, embedding_dedup, minhash_dedup_pairs,
    minhash_signatures, ngram_jaccard_pairs, simhash_dedup_pairs,
    simhash_signatures, token_count). The 50 r14-green queries sit
    behind the window as the freshest cohort."""
    sql: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _SQL_QUERIES:
        sql[name.split("/", 1)[1]] = _run_corpus(name)
    sql["q15"] = _run_q15_script()  # exercise the multi-statement machinery

    from datafusion_distributed_experiment_spark.operators import pipeline_tiers

    by_name: dict[str, dict[str, Callable[[SparkSession, str], DataFrame]]] = dict(
        pipeline_tiers()
    )

    def _pop(tier: str, *names: str) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
        return {n: by_name[tier].pop(n) for n in names}

    def _pop_sql(*names: str) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
        return {n: sql.pop(n) for n in names}

    # --- slot 1: the promoted round-14 staged operator ------------------
    promoted = _pop("dedup", "minhash_index_upsert")
    # --- slots 2-24: last green r12, the round-14 sacrifice cohort ------
    stale_r12 = {
        **_pop("analytics", "top_terms"),
        **_pop("temporal", "events_asof", "events_kmv_distinct", "events_range_join"),
        **_pop("text", "fingerprint", "lang_id", "text_stats"),
        **_pop_sql(
            "q1",
            "q3",
            "q4",
            "q5",
            "q6",
            "q7",
            "q8",
            "q9",
            "q10",
            "q11",
            "q12",
            "q14",
            "q16",
            "q18",
            "q19",
            "events_cube",
        ),
    }
    # --- slots 25-35: r13-green with one to four green rows --------------
    shallow_r13 = {
        **_pop("similarity", "ivf_pq_index_build"),
        **_pop("sketches", "events_quantile_sketch", "cms_heavy_hitters"),
        **_pop("graph", "bfs_hops_t3", "lpa_communities_t3", "triangle_count"),
        **_pop("retrieval", "bm25_topk"),
        **_pop("bpe", "bpe_merges_t2"),
        **_pop("selection", "dsir_weights"),
        **_pop("dedup", "span_scrub", "winnow_fingerprints"),
    }
    # --- slots 36-49: the 14 alphabetically-first 5x-green r13 (minus
    # stream_topk, which is 4x-green and rides the streaming subtier) -----
    mid_r13 = {
        **_pop("joins", "bloom_semi_agg"),
        **_pop("cdc", "cdc_apply_changes"),
        **_pop("curation", "chunk_documents", "decontaminate", "domain_mix", "domain_resample"),
        **_pop("selection", "kmeans_assign"),
        **_pop("pipeline", "corpus_pipeline"),
        **_pop("custom", "custom_source_scan"),
        **_pop("dedup", "dedup_clusters_star"),
        **_pop("similarity", "embedding_quantize"),
        **_pop("multimodal", "media_dedup", "media_frames", "media_meta_stats"),
    }
    # --- slot 50: the one streaming query in the window, in its own
    # subtier ------------------------------------------------------------
    window_streaming = _pop("streaming", "stream_topk")
    # `sql` now holds only the r14-green SQL cohort (q2, q13, q15, q17,
    # q20-q22, q1_decimal, the events adhoc re-verified at r14 — the
    # freshest evidence)
    tail_tiers = (
        "selection",
        "dedup",
        "similarity",
        "multimodal",
        "curation",
        "joins",
        "cdc",
        "profile",
        "analytics",
        "graph",
        "retrieval",
        "bpe",
        "sketches",
        "custom",
        "pipeline",
        "temporal",
        "streaming",
        "stateful",
        "text",
    )
    out = [
        ("promoted", promoted),
        ("stale-r12", stale_r12),
        ("shallow-r13", shallow_r13),
        ("mid-r13", mid_r13),
        ("shallow-r13-streaming", window_streaming),
        # ---- window boundary: exactly 50 entries above this line ----
        ("sql", sql),
        *[(n, by_name[n]) for n in tail_tiers],
    ]
    return [(n, qs) for n, qs in out if qs]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for _, tier in query_tiers():
        out.update(tier)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for name in _SQL_QUERIES:
        out[name.split("/", 1)[1]] = corpus.strip_hints(corpus.load(name))

    from datafusion_distributed_experiment_spark.operators import pipeline_oracles

    out.update(pipeline_oracles())
    return out
