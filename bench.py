#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "builds": {name: sec, ...}, "sf": ...}.

Each query is executed to completion (count() materializes every row
through the full plan) after a warm-up of the input file scans.

Two timing regimes per query (VERDICT r4 item 5 — pin-shuffling must not
flatter the warm numbers):

- ``queries``: steady-state serving — min-of-3 after a warm run, pinned
  indexes (postings, bi-edges, LSH/audit tables) already built, exactly
  how ES/Neptune serve from prebuilt structures.
- ``builds``: cold serving — every pinned relation and tracked
  checkpoint is released first, then ONE timed run pays index build +
  serve. Whole-stage-codegen is already JIT-compiled by the warm pass,
  so the cold number measures build work, not JVM warm-up. Queries
  sharing a pin (e.g. the bizcard index) each pay its build here —
  per-query cold latency, not a deduplicated build ledger.

Cross-engine anchor (VERDICT r5 item 3): the reference publishes no
benchmark numbers (BASELINE.md), so ``duckdb`` times each headline
query's own ``oracle_sql()`` in DuckDB (all cores, same parquet, min of
2 runs) — an independent single-node engine executing the IDENTICAL
semantics. It is an external sanity anchor, not a like-for-like race:
DuckDB pays no JVM/driver coordination and holds no reusable index, so
compare it against Spark's cold ``builds`` numbers, and expect Spark's
warm ``queries`` numbers (prebuilt pinned indexes, how ES/Neptune
actually serve) to beat it on the index-backed queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline queries: the flagship graph traversals, search, and the scale-
# relevant pipeline operators. dedup_ngram_pairs is admitted now that its
# candidate generation is df-capped (bounded fan-out per shingle key);
# dedup_minhash_lsh remains the approximate scale path. The composed
# plans (dedup_clusters = LSH + connected components, corpus_curation =
# the full gate pipeline, pymk_bizcard_hydrated = parse → graph → PYMK →
# valueMap) are timed too, so regressions in composition — not just in
# constituents — show up (VERDICT r3 item 7).
BENCH_QUERIES = [
    "graph_edges",
    "graph_triangles",
    "graph_pagerank_top20",
    "pymk_user_3_jaccard",
    "docs_tfidf_top3",
    "customer_running_totals",
    "orders_monthly_growth",
    "events_wau",
    "events_zscores",
    "graph_closeness_landmarks",
    "events_trailing_24h",
    "events_day_pruned",
    "events_asof_last_click",
    "events_error_click_pairs_5m",
    "status_history_scd2",
    "split_contamination",
    # pymk_all_top5 precedes pymk_user_3: the batch pin is the fill,
    # the single-user query then times the Redis-GET serving path
    # (graph/pymk.py _pymk_served_from_pin plus hydration) — the
    # production order.
    "pymk_all_top5",
    "pymk_user_3",
    "pymk_user_3_ppr",
    "orders_topk_revenue",
    "pymk_bizcard_hydrated",
    "one_hop_paths",
    "search_documents",
    "search_bizcards",
    "status_latest",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_pairs",
    "dedup_editdistance",
    "dedup_clusters",
    "corpus_curation",
    "text_quality",
    "text_fingerprint",
    "docs_token_shards",
    "ann_bruteforce",
    "ann_ivf",
    "ann_lsh",
    "media_decode",
    "media_features",
    "dedup_containment",
    "events_mad_outliers",
    "orders_retention_cohorts",
    "graph_lpa_communities",
    "events_user_cms_top10",
    "events_zorder_pruned",
    "docs_repetition_metrics",
    "docs_domain_quota",
    "lineitem_bloom_pruned",
    "docs_lm_buckets",
    "events_scd2_join",
    "events_value_deciles",
    "ann_pq_rerank",
    "docs_token_entropy",
    "events_stratified_sample",
    "graph_harmonic_landmarks",
    "orders_revenue_ses",
    "events_value_p95_bucketed",
    "graph_weighted_paths",
    "dedup_substring",
    "events_monthly_users_exact",
    "docs_bpe_vocab_k8",
    "docs_bpe_tokens_per_doc",
    "docs_dsir_weights",
    "docs_source_mixture",
    "graph_components",
    "docs_training_manifest",
    "docs_substring_stripped",
    "split_decontaminated_train",
    "docs_bpe_encode_heldout",
    "docs_substring_clean_table",
    "split_neardup_contamination",
    "docs_unigram_vocab",
    "docs_unigram_encode",
    "docs_quality_classifier",
    "dedup_semantic",
    "docs_unigram_encode_heldout",
    "docs_bigram_logprob",
    "docs_boilerplate_grams",
    "docs_boilerplate_stripped",
    "docs_boilerplate_stats",
    "emb_sq8_codes",
    "ann_sq8_rerank",
    "docs_soft_dedup_weights",
    "split_source_balance",
    "emb_rp_projections",
    "ann_rp_rerank",
    "emb_rp_sq8_codes",
    "ann_rp_sq8_rerank",
    "media_phash",
    "dedup_media_phash",
    "media_dup_clusters",
    "emb_knn_graph",
    "docs_trigram_logprob",
    "media_training_manifest",
    "emb_diversity_prune",
    "media_video_frame_phash",
    "dedup_video_pairs",
    "docs_packed_sequences",
    "dedup_video_clip_pairs",
    "events_funnel_users",
    "media_audio_fingerprints",
    "dedup_audio_pairs",
    "docs_chunks_sliding",
    "docs_kn_logprob",
    "emb_knn_refined",
    "media_training_manifest_av",
    "docs_chunk_dupes",
    "emb_knn_refined2",
    "chunks_ann_topk",
    "chunks_ann_lsh",
    "emb_knn_refined_hi",
    "training_manifest_unified",
    "graph_modularity_communities",
    # streaming_ann_ivf joins the streaming-twin exclusion below.
    # streaming twins (streaming_bpe_encode, streaming_quality_gate,
    # streaming_boilerplate) are driver-verified but not headline
    # entries: each timed run replays a full corpus stream from a
    # fresh landing dir, so the number measures stream-harness setup,
    # not an operator.
]


def main() -> None:
    import __spark_entry__ as entrymod
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.session import (
        get_spark,
    )

    spark = get_spark("bench")
    qs = entrymod.queries()

    # Warm-up: touch every input table once so first-query timing isn't
    # dominated by file listing / footer reads.
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources.tables import (
        TABLES,
        load_table,
    )

    for t in TABLES:
        try:
            load_table(spark, SF_DIR, t).count()
        except Exception:
            pass  # per-query error reporting below names the real failure

    # Steady-state measurement: run each query once to warm (Janino
    # whole-stage-codegen compilation is one-time per session and costs
    # ~15-20s for the widest plans — JIT compile time, not data work),
    # then time the second run. This mirrors warehouse steady state;
    # cached intermediates persisted by the operators stay warm exactly
    # as they would across repeated production queries.
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        pinned as PIN_STATS,
    )

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Per-query pin consumer sets, observed during the warm pass: the
    # cold pass releases each pin right after its LAST consumer ran
    # (r11 verdict item 3 — 61 simultaneously-live pins inflated
    # in-bench cold numbers ~1.7× over standalone via storage-memory
    # pressure; the workload's own order tells us when a pin is dead).
    consumers: dict[str, set] = {}
    PIN_STATS.touched_keys_snapshot()  # drop warm-up attributions
    for name in BENCH_QUERIES:
        fn = qs[name]
        try:
            fn(spark, SF_DIR).count()  # warm: codegen + caches
            best = float("inf")
            for _ in range(3):  # min-of-3: robust to GC / cleanup interference
                t0 = time.perf_counter()
                fn(spark, SF_DIR).count()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
        except Exception as exc:  # one broken query must not kill the report
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        consumers[name] = PIN_STATS.touched_keys_snapshot()

    # Pin telemetry snapshot at the end of the WARM pass (r8 verdict
    # item 8): live = steady-state registry pressure, builds/hits =
    # how often the serving pass built vs reused. The cold pass below
    # releases everything per query, so its churn is recorded
    # separately as the post-cold delta.
    pins_warm = PIN_STATS.stats()

    # Cold-START pass: wipe every pin / tracked checkpoint ONCE, then
    # run the whole workload in order — each index build is charged to
    # its FIRST toucher and later queries reuse it, exactly like a
    # warehouse restart (codegen is warm from the pass above, so this
    # isolates build work from JVM JIT). The previous per-query
    # release_all charged every SHARED index (the family shingle bag,
    # the minhash audit relation, the dup-span table, the batch PYMK
    # product) once per consumer — double/triple-counting the very
    # sharing the pinned registry exists to provide (r9 verdict item
    # 7). builds_total is therefore "seconds to cold-start the full
    # 70+-query workload", and per-query numbers are incremental costs
    # given the registry state their predecessors left.
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        checkpoints as CKPT,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        pinned as PIN,
    )

    # Release-after-last-consumer schedule: a pin whose final consumer
    # (per the warm pass's observed consumer sets) has run is DEAD for
    # the rest of the cold pass — holding it only squeezes the storage
    # pool under the later builds. The release itself is untimed (it's
    # maintenance between queries, not build work); a map miss is
    # harmless (the later toucher just rebuilds and the timing shows it).
    # MEASURED STOP (r12, the r10-shingle-pin pattern): the
    # release-after-last-consumer schedule was the r11-verdict
    # hypothesis for cold-pass pin-pressure inflation, and same-day A/B
    # runs measured it as a NET LOSS at both scales — common-query
    # cold totals 194.0 s (on) vs 151.6 s (off) at sf0.1 and 289.5 s
    # (on) vs 263.6 s (off) at sf1, with ZERO extra pin rebuilds in the
    # 'on' runs (the consumer map was complete): the ~70 blocking
    # unpersist + checkpoint-free cycles interleaved with timed queries
    # cost more than the freed storage helps (the pins at these scales
    # never actually pressure the 48 GB heap's protected pool).
    # Default OFF; SPARK_GRAFT_COLD_RELEASE=1 re-enables for probes.
    cold_release = os.environ.get("SPARK_GRAFT_COLD_RELEASE", "0") == "1"
    last_consumer: dict = {}
    for name in BENCH_QUERIES:
        for k in consumers.get(name, ()):
            last_consumer[k] = name

    builds: dict[str, float] = {}
    PIN.release_all()
    CKPT.release_all(spark)
    for name in BENCH_QUERIES:
        if name in errors:
            continue
        fn = qs[name]
        try:
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            builds[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:
            errors[name] = f"cold: {type(exc).__name__}: {exc}"[:200]
        if not cold_release:
            continue  # disabled path: skip the per-query map walk
        for k, last in last_consumer.items():
            if last == name:
                # The corpus is immutable within the pass, so orphan
                # memos stay valid — wiping them per release would
                # re-trigger their Spark-job recomputes inside later
                # timed sections (the orphan wipe exists for corpus
                # swaps, not for dead-pin maintenance).
                PIN.release_effective(k, drop_orphan_memos=False)

    pins_cold = PIN_STATS.stats()

    try:
        duckdb_secs = _duckdb_pass(errors)
    except Exception as exc:  # the anchor must never kill the report
        duckdb_secs = {"_error": f"{type(exc).__name__}: {exc}"[:200]}

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "builds": builds,
        "builds_total": round(sum(builds.values()), 3),
        "duckdb": duckdb_secs,
        "duckdb_total": round(
            sum(v for v in duckdb_secs.values() if isinstance(v, float)), 3
        ),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "pins": {"warm": pins_warm, "after_cold": pins_cold},
    }
    if errors:
        out["errors"] = errors
    # Full per-query detail goes to a LOCAL file; stdout ends with ONE
    # compact line. The driver records only a bounded tail of stdout
    # (BENCH_r05..r07 all landed "parsed": null because this report
    # outgrew it — r7 verdict item 1), so the machine-readable summary
    # must fit the tail with margin, and nothing may print after it.
    detail_path = os.path.join(REPO, "BENCH_local_latest.json")
    with open(detail_path, "w") as fh:
        json.dump(out, fh, indent=1)
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "n_queries": len(timings),
        "n_errors": len(errors),
        "builds_total": out["builds_total"],
        "duckdb_total": out["duckdb_total"],
        "pins": pins_warm,
        "detail": "BENCH_local_latest.json",
        "queries": {k: round(v, 2) for k, v in timings.items()},
    }
    while (
        len(json.dumps(compact, separators=(",", ":"))) > _TAIL_BUDGET
        and compact["queries"]
    ):
        # trim the FASTEST entries first — the slow tail is the signal;
        # totals always parse and the local detail file has everything
        fastest = min(compact["queries"], key=compact["queries"].get)
        del compact["queries"][fastest]
    spark.stop()
    print(json.dumps(compact, separators=(",", ":")), flush=True)


#: Max bytes for the final stdout line — safely inside the driver's
#: 2000-char stdout tail even with a stray trailing log line.
_TAIL_BUDGET = 1900


#: Per-query DuckDB wall budget. A runaway oracle plan (these SQL twins
#: are written for CORRECTNESS at sf0.01, not tuned for speed) must not
#: hang the bench — interrupted queries report "timeout".
DUCKDB_TIMEOUT_S = 120.0


def _duckdb_components(con) -> list:
    """Bounded DuckDB twin for graph_components (r8 verdict item 3):
    the single recursive CTE enumerates (node × reachable-label) pairs —
    quadratic in component size, a 120 s timeout at sf1 — so the bench
    times this ITERATIVE temp-table loop instead: min-label propagation
    with pointer jumping (label := label-of-label each round), the same
    O(log diameter) algorithm the Spark operator runs. Result-identical
    to ORACLES['graph_components'] (pinned by
    tests/test_round9_ops.py::test_bounded_components_twin_matches_oracle);
    the driver's sf0.01 correctness pass still runs the declarative
    oracle."""
    con.execute("""
CREATE OR REPLACE TEMP TABLE cc_e AS
WITH ev AS (SELECT event_id, user_id FROM events),
pairs AS (
  SELECT a.user_id AS src, b.user_id AS dst
  FROM ev a JOIN ev b ON b.event_id = a.event_id + 1
  WHERE a.user_id <> b.user_id
),
edges AS (SELECT DISTINCT src, dst FROM pairs)
SELECT src AS a, dst AS b FROM edges
UNION ALL
SELECT dst AS a, src AS b FROM edges""")
    con.execute("""
CREATE OR REPLACE TEMP TABLE cc_lbl AS
SELECT a AS node, min(least(a, b)) AS label FROM cc_e GROUP BY a""")
    for _ in range(64):
        con.execute("""
CREATE OR REPLACE TEMP TABLE cc_nxt AS
SELECT l.node,
       least(l.label,
             coalesce(nb.ml, l.label),
             coalesce(pj.label, l.label)) AS label
FROM cc_lbl l
LEFT JOIN (SELECT e.b AS node, min(l2.label) AS ml
           FROM cc_lbl l2 JOIN cc_e e ON l2.node = e.a
           GROUP BY e.b) nb ON nb.node = l.node
LEFT JOIN cc_lbl pj ON pj.node = l.label""")
        changed = con.execute("""
SELECT count(*) FROM cc_nxt n JOIN cc_lbl l USING (node)
WHERE n.label <> l.label""").fetchone()[0]
        con.execute(
            "CREATE OR REPLACE TEMP TABLE cc_lbl AS SELECT * FROM cc_nxt"
        )
        if changed == 0:
            break
    else:
        raise RuntimeError("components did not converge in 64 rounds")
    return con.execute(
        "SELECT node AS id, CAST(label AS BIGINT) AS component_id FROM cc_lbl"
    ).fetchall()


#: Query name → bounded imperative DuckDB twin, timed IN PLACE of the
#: declarative oracle when the latter's plan shape cannot finish at
#: bench scale. Each twin must be result-identical to its oracle
#: (test-pinned) — this overrides the PLAN, never the semantics.
BOUNDED_DUCKDB = {"graph_components": _duckdb_components}


def _duckdb_pass(errors: dict[str, str]) -> dict[str, object]:
    """min-of-2 DuckDB wall time per headline query's oracle SQL on the
    same parquet (views registered exactly as the driver does)."""
    import threading

    import duckdb

    import __spark_entry__ as entrymod
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources.tables import (
        TABLES,
    )

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        # Driver testdata ships single parquet FILES; derived sets (e.g.
        # the sf1 scale probe) are Spark-written DIRECTORIES — glob those.
        src = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    secs: dict[str, object] = {}
    for name in BENCH_QUERIES:
        if name in errors or name not in oracles:
            continue
        best = float("inf")
        for _ in range(2):
            timer = threading.Timer(DUCKDB_TIMEOUT_S, con.interrupt)
            timer.start()
            t0 = time.perf_counter()
            try:
                if name in BOUNDED_DUCKDB:
                    BOUNDED_DUCKDB[name](con)
                else:
                    con.sql(oracles[name]).fetchall()
                best = min(best, time.perf_counter() - t0)
            except duckdb.Error as exc:
                # A second-run failure must not erase a valid first-run
                # time (r6 ADVICE): keep the best successful measurement
                # and only record the error when NO run succeeded.
                if best == float("inf"):
                    secs[name] = (
                        "timeout"
                        if "INTERRUPT" in str(exc).upper()
                        else f"{type(exc).__name__}: {exc}"[:120]
                    )
                break
            finally:
                timer.cancel()
        if best != float("inf"):
            secs[name] = round(best, 3)
    con.close()
    return secs


if __name__ == "__main__":
    main()
