"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship PYMK query (SURVEY §2.4 O38) at
sf0.001. ``queries()`` exposes each implemented operator from SURVEY §2 as
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` returns the DuckDB twin
for each (composed in the engine's ``oracles`` module from the same
mapping constants the Spark code uses).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark as engine
from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
    graph as G,
)
from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
    oracles,
)
from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
    ingest,
    upsert,
)
from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions import (
    parse as P,
)
from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources import (
    tables,
)

from pyspark.sql import functions as F

__all__ = ["entry", "queries", "oracle_sql", "engine"]


def _scratch(prefix: str) -> str:
    """Process-scoped scratch dir for streaming landing/state copies.

    All dirs live under one per-pid root that is (a) removed at process
    exit and (b) swept for dead-pid leftovers on first use — so bench
    min-of-N and repeated correctness runs no longer leak parquet
    copies in /tmp across processes (r12 ADVICE). Within a process each
    call still returns a FRESH dir: streaming checkpoints must not be
    shared between invocations."""
    import atexit
    import glob
    import os
    import shutil
    import tempfile

    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        tmp = tempfile.gettempdir()
        for stale in glob.glob(f"{tmp}/sgr-scratch-*"):
            try:
                pid = int(stale.rsplit("-", 1)[1])
                os.kill(pid, 0)
            except (ValueError, ProcessLookupError):
                shutil.rmtree(stale, ignore_errors=True)
            except PermissionError:
                pass  # pid alive under another user — leave it
        root = f"{tmp}/sgr-scratch-{os.getpid()}"
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOT = root
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


_SCRATCH_ROOT = None


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 2-hop PYMK on the bizcard-derived social graph (the
    reference's own domain: card owners know card subjects).

    The events-derived graph is near-complete at sf0.001 (15 users, 1000
    interactions), so PYMK correctly has no non-friend candidates there;
    the bizcard graph is sparse at every scale and yields real
    recommendations."""
    sf_dir = "/root/testdata/sf0.001"
    parsed = ingest.parse_bizcard_text(tables.bizcard_text_records(spark, sf_dir))
    vertices, edges = ingest.graph_from_text(parsed)
    return G.pymk(vertices, edges, "customer#000000137", limit=10)


# --- query registry -------------------------------------------------------

def _q_graph_edges(spark, sf_dir):
    return tables.user_graph_edges(spark, sf_dir)


def _q_graph_vertices(spark, sf_dir):
    return tables.user_graph_vertices(spark, sf_dir)


def _q_graph_degrees(spark, sf_dir):
    return G.degrees(tables.user_graph_edges(spark, sf_dir))


def _q_graph_counts(spark, sf_dir):
    return G.graph_counts(
        tables.user_graph_vertices(spark, sf_dir),
        tables.user_graph_edges(spark, sf_dir),
    )


def _q_one_hop_paths(spark, sf_dir):
    return G.one_hop_paths(
        tables.user_graph_vertices(spark, sf_dir),
        tables.user_graph_edges(spark, sf_dir),
    )


def _q_pymk_user_3(spark, sf_dir):
    return G.pymk(
        tables.user_graph_vertices(spark, sf_dir),
        tables.user_graph_edges(spark, sf_dir),
        "user_3",
        limit=10,
    )


def _q_pymk_all_top5(spark, sf_dir):
    """Batch PYMK for every user (graph/pymk.py pymk_all), served from
    the pinned per-snapshot recommendation table (r9) — the engine form
    of the reference's Redis PYMK cache; the Σdeg² 2-hop batch runs
    once per snapshot and the bench's cold pass re-pays it."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.pymk import (
        pinned_pymk_all,
    )

    return pinned_pymk_all(tables.user_graph_edges(spark, sf_dir), limit=5)


def _q_pymk_user_3_hydrated(spark, sf_dir):
    """O36 as specified: full valueMap hydration, each prop list-wrapped
    (neptune_recommend_bizcard.py:69-72). Arrays are JSON-encoded for the
    driver's canonicalizer (which cannot hash list columns); the engine
    API (G.pymk_hydrated) returns real array columns."""
    h = G.pymk_hydrated(
        tables.user_graph_vertices(spark, sf_dir),
        tables.user_graph_edges(spark, sf_dir),
        "user_3",
        limit=10,
    )
    return h.select("id", F.to_json(F.col("name")).alias("name"), "score")


def _q_pymk_bizcard_hydrated(spark, sf_dir):
    """Full-prop valueMap PYMK on the bizcard graph — every vertex prop
    (name, email, phone_number, company, job_title) list-wrapped, the
    exact README.md:184-199 response shape."""
    parsed = ingest.parse_bizcard_text(tables.bizcard_text_records(spark, sf_dir))
    v, e = ingest.graph_from_text(parsed)
    h = G.pymk_hydrated(v, e, "customer#000000137", limit=10)
    props = ["name", "email", "phone_number", "company", "job_title"]
    return h.select(
        "id", *[F.to_json(F.col(c)).alias(c) for c in props], "score"
    )


def _q_graph_degrees_bucketed(spark, sf_dir):
    """Bucketed-layout round-trip (sources/bucketed.py): write the
    symmetrized edges bucketed on src, read through the catalog, and
    aggregate degrees — the groupBy rides the bucket layout with no
    Exchange (asserted in test_plans), and the result is layout-
    independent: graph_degrees' oracle verbatim."""
    import hashlib
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.model import (
        symmetrize,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    bi = symmetrize(tables.user_graph_edges(spark, sf_dir))
    # Stable location + table name keyed by sf_dir: repeated invocations
    # (bench min-of-N, correctness drivers) overwrite in place instead of
    # orphaning a fresh mkdtemp per call, and two drivers on different
    # sf_dirs don't race on one table name.
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"sgr_edges_bucketed_q_{key}"
    base = f"{tempfile.gettempdir()}/sgr-bkt-{key}"
    write_bucketed(bi, table, "src", n_buckets=8, path=f"{base}/edges")
    return (
        read_bucketed(spark, table)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .withColumnRenamed("src", "id")
    )


def _q_graph_shortest_paths(spark, sf_dir):
    """Iterative BFS from the md5 person-id of owner c000000001 on the
    bizcard graph (sparse at every sf, so hop levels stay meaningful)."""
    import hashlib

    parsed = ingest.parse_bizcard_text(tables.bizcard_text_records(spark, sf_dir))
    _, e = ingest.graph_from_text(parsed)
    src = hashlib.md5(b"c000000001").hexdigest()[:8]
    return G.shortest_paths(e, src, max_hops=4)


def _q_vertex_lookup(spark, sf_dir):
    return G.vertex_lookup(tables.user_graph_vertices(spark, sf_dir), 3)


def _q_edge_exists_first(spark, sf_dir):
    """O32 edge-existence for the lexicographically-first edge (a
    deterministic pick so the oracle can re-derive the probe pair)."""
    edges = tables.user_graph_edges(spark, sf_dir)
    first = edges.orderBy("src", "dst").limit(1).select("src", "dst")
    return first.join(edges, ["src", "dst"], "left_semi").select(
        "src", "dst", F.lit(True).alias("present")
    )


def _q_search_bizcards_envelope(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        search as S,
    )

    hits = S.search_bizcards(_bizcards_df(spark, sf_dir), oracles.BIZCARD_QUERY, limit=10)
    env = S.search_envelope(hits)
    return env.select(
        "_index", "_type", "_id", "_score", F.to_json(F.col("_source")).alias("_source_json")
    )


def _q_bizcard_parse(spark, sf_dir):
    return ingest.parse_bizcard_text(tables.bizcard_text_records(spark, sf_dir))


def _q_bizcards(spark, sf_dir):
    return ingest.bizcards_from_text(
        ingest.parse_bizcard_text(tables.bizcard_text_records(spark, sf_dir))
    )


def _q_bizcard_vertices(spark, sf_dir):
    v, _ = ingest.graph_from_text(
        ingest.parse_bizcard_text(tables.bizcard_text_records(spark, sf_dir))
    )
    return v


def _q_bizcard_edges(spark, sf_dir):
    _, e = ingest.graph_from_text(
        ingest.parse_bizcard_text(tables.bizcard_text_records(spark, sf_dir))
    )
    return e


def _q_search_documents(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        search as S,
    )

    docs = tables.load_table(spark, sf_dir, "documents")
    return S.search_documents(docs, " ".join(oracles.DOC_QUERY_TERMS), limit=10)


def _q_search_documents_count(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        search as S,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.search.bm25 import (
        bm25_scores,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.search.index import (
        build_index,
    )

    docs = tables.load_table(spark, sf_dir, "documents")
    postings, doclen, _vocab = build_index(docs, "doc_id", "text")
    scored = bm25_scores(postings, doclen, oracles.DOC_QUERY_TERMS)
    return scored.agg(F.count(F.lit(1)).alias("total_hits"))


def _bizcards_df(spark, sf_dir):
    return ingest.bizcards_from_text(
        ingest.parse_bizcard_text(tables.bizcard_text_records(spark, sf_dir))
    )


def _q_search_bizcards(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        search as S,
    )

    return S.search_bizcards(_bizcards_df(spark, sf_dir), oracles.BIZCARD_QUERY, limit=10)


def _q_search_bizcards_owner(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        search as S,
    )

    return S.search_bizcards(
        _bizcards_df(spark, sf_dir),
        oracles.BIZCARD_QUERY,
        user=oracles.SEARCH_OWNER,
        limit=10,
    )


def _q_search_bizcards_user_only(spark, sf_dir):
    """The reference's ``{user}``-only search case (es_search_bizcard.py
    :164-165 sweep): filter context only, every hit scores 0.0."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        search as S,
    )

    return S.search_bizcards(
        _bizcards_df(spark, sf_dir), None, user=oracles.SEARCH_OWNER, limit=10
    )


def _q_bizcard_content_dedup(spark, sf_dir):
    """O21's declared purpose (upsert_bizcard_to_es.py:73-75 'XXX:
    deduplicate contents'): group bizcards by the content_id composite
    key — same person's card held by multiple owners collapses to one
    canonical content row with a holder count."""
    b = _bizcards_df(spark, sf_dir)
    return b.groupBy("content_id").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_cards"),
        F.countDistinct("owner").alias("n_owners"),
    )


def _q_status_latest(spark, sf_dir):
    ev = tables.load_table(spark, sf_dir, "events")
    latest = upsert.latest_by_key(ev, ["user_id"], ["ts", "event_id"])
    return latest.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        P.fmt_mts(F.col("ts")).alias("mts"),
    )


def _streaming_pipeline(spark, sf_dir):
    """Run the full Structured-Streaming ingest over a temp landing dir
    populated from sf_dir, drain with availableNow, return the pipeline."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming import (
        IngestPipeline,
    )

    base = _scratch("sgr-stream-")
    landing = f"{base}/landing"
    tables.bizcard_text_records(spark, sf_dir).repartition(3).write.mode(
        "overwrite"
    ).json(landing)
    pipe = IngestPipeline(spark, f"{base}/wh")
    pipe.run_available_now(landing, f"{base}/ckpt", max_files_per_trigger=2)
    return pipe


def _q_streaming_bizcards(spark, sf_dir):
    return _streaming_pipeline(spark, sf_dir).bizcards.read().drop("s3_key")


def _q_streaming_status(spark, sf_dir):
    return _streaming_pipeline(spark, sf_dir).status.read()


def _q_streaming_status_machine(spark, sf_dir):
    """O7 stateful streaming form: status events derived from the events
    table flow through applyInPandasWithState; returns the converged
    per-image status (which IS SQL-expressible, unlike the incremental
    operator itself)."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.status_state import (
        StatusTracker,
    )

    ev = tables.load_table(spark, sf_dir, "events")
    records = ev.select(
        F.concat(F.col("user_id").cast("string"), F.lit(".jpg")).alias("image_id"),
        F.element_at(
            F.array(F.lit("START"), F.lit("PROCESS"), F.lit("END")),
            (F.col("event_id") % 3 + 1).cast("int"),
        ).alias("status"),
        P.fmt_mts(F.col("ts")).alias("mts"),
    )
    base = _scratch("sgr-status-")
    records.repartition(3).write.mode("overwrite").json(f"{base}/landing")
    tracker = StatusTracker(spark, f"{base}/wh")
    tracker.run_available_now(f"{base}/landing", f"{base}/ckpt")
    return tracker.current()


def _q_streaming_event_windows(spark, sf_dir):
    """Watermarked event-time hourly rollup, drained via availableNow;
    converged result equals the batch GROUP BY (the oracle)."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.windows import (
        WindowedCounter,
    )

    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    base = _scratch("sgr-win-")
    ev.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    counter = WindowedCounter(spark, f"{base}/wh")
    counter.run_available_now(f"{base}/landing", f"{base}/ckpt")
    return counter.current()


def _q_album_replay(spark, sf_dir):
    """O8 round-trip: write the per-owner album (owner-partitioned
    pointer table, the S3 bizcard-by-user/{owner}/ copy) and read it
    back grouped — partition pruning on owner is the layout's point."""
    import tempfile

    parsed = ingest.parse_bizcard_text(tables.bizcard_text_records(spark, sf_dir))
    album = parsed.select("owner", "s3_bucket", "s3_key").withColumn(
        "image_id", P.basename(F.col("s3_key"))
    )
    base = _scratch("sgr-album-")
    album.write.mode("overwrite").partitionBy("owner").parquet(base)
    return (
        spark.read.parquet(base)
        .groupBy("owner")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


def _q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark on the
    content hash) drained via availableNow; the emitted hash SET equals
    batch DISTINCT — the oracle — though which duplicate wins is
    physical."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.dedup import (
        StreamingDeduper,
    )

    aug = _aug(spark, sf_dir).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    base = _scratch("sgr-sdedup-")
    aug.select("doc_id", "text", "ts").repartition(3).write.mode(
        "overwrite"
    ).parquet(f"{base}/landing")
    d = StreamingDeduper(spark, f"{base}/wh")
    d.run_available_now(f"{base}/landing", f"{base}/ckpt")
    return d.survivors().select("text_hash")


def _q_events_asof_last_click(spark, sf_dir):
    """As-of join (operators/asof.py): for every 'error' event, the
    latest 'click' by the same user at or before it — the temporal
    point-lookup, one shuffle, no inequality-join blowup. Null columns
    where the user never clicked before the error (left-outer)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.asof import (
        asof_join,
    )

    ev = tables.load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        errors, clicks, ["user_id"], "ts", "ts",
        value_cols=["event_id", "value"], tie_break="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("error_ts_us"),
        F.col("asof_event_id").alias("last_click_id"),
        F.col("asof_value").alias("last_click_value"),
    )


def _q_events_error_click_pairs_5m(spark, sf_dir):
    """Bounded range join (operators/rangejoin.py): every (error, click)
    pair of the same user with the click within 5 minutes at-or-before
    the error — bucketized equi-join, never a nested loop."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.rangejoin import (
        bounded_range_join,
    )

    ev = tables.load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = bounded_range_join(
        errors, clicks, ["user_id"], "ts", "ts", -300.0, 0.0
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("error_ts_us"),
        F.col("r_event_id").alias("click_id"),
        F.unix_micros("r_ts").alias("click_ts_us"),
    )


def _q_streaming_search_bizcards(spark, sf_dir):
    """Incremental index maintenance (search/incremental.py — the
    upsert_bizcard_to_es/es_search_bizcard split): the bizcard corpus is
    upserted in 3 deterministic hash-batches through the
    create-or-replace maintainer, then served from the converged index.
    Must equal from-scratch search over the whole corpus —
    search_bizcards' oracle verbatim."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.search.incremental import (
        IncrementalIndexer,
    )

    b = _bizcards_df(spark, sf_dir)
    ix = IncrementalIndexer(spark, _scratch("sgr-esix-"))
    for i in range(3):
        ix.upsert(b.filter(F.pmod(F.hash("doc_id"), F.lit(3)) == i))
    return ix.search(oracles.BIZCARD_QUERY, limit=10)


def _q_streaming_ann_ivf(spark, sf_dir):
    """Incremental ANN-index maintenance (streaming/annindex.py — the
    vector twin of the BM25 maintainer): the embedding corpus is
    drained through the per-batch cell/centroid-partial upserter in
    multiple micro-batches, then ANN_QUERY_IDS are served through the
    SHARED ivf_serve path — must row-equal batch ann_ivf over the full
    corpus (ann_ivf's oracle verbatim)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.annindex import (
        IncrementalANNIndexer,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    base = _scratch("sgr-sannix-")
    emb.select("vec_id", "embedding", "label").repartition(3).write.mode(
        "overwrite"
    ).parquet(f"{base}/landing")
    ix = IncrementalANNIndexer(spark, f"{base}/wh")
    ix.run_available_now(
        f"{base}/landing", f"{base}/ckpt", max_files_per_trigger=1
    )
    return ix.query(oracles.ANN_QUERY_IDS, k=10)


def _q_streaming_dedup_minhash(spark, sf_dir):
    """Incremental MinHash-LSH (streaming/neardup.py): the dup-augmented
    corpus drained through a multi-batch stream that maintains the banded
    LSH index incrementally; the converged verified pair set is
    row-identical to batch dedup_minhash_lsh — the shared oracle."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.neardup import (
        StreamingNearDeduper,
    )

    aug = _aug(spark, sf_dir).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    base = _scratch("sgr-sndd-")
    aug.select("doc_id", "text", "ts").repartition(3).write.mode(
        "overwrite"
    ).parquet(f"{base}/landing")
    d = StreamingNearDeduper(spark, f"{base}/wh")
    d.run_available_now(
        f"{base}/landing", f"{base}/ckpt", max_files_per_trigger=1
    )
    return d.near_dup_pairs(threshold=0.5)


def _q_streaming_media_phash(spark, sf_dir):
    """Streaming image dedup (streaming/mediadedup.py
    StreamingImageDeduper): replay the variant-augmented media table as
    a micro-batched stream through the incremental pHash index; on the
    drained stream the pair table is row-identical to batch
    ``phash_pairs`` — shares the dedup_media_phash oracle."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.multimodal import (
        synth_media_aug,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.mediadedup import (
        StreamingImageDeduper,
    )

    media = synth_media_aug(tables.load_table(spark, sf_dir, "documents"))
    base = _scratch("sgr-smpd-")
    media.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    d = StreamingImageDeduper(spark, f"{base}/wh")
    d.run_available_now(
        f"{base}/landing", f"{base}/ckpt", max_files_per_trigger=1
    )
    return d.pairs()


def _q_streaming_video_phash(spark, sf_dir):
    """Streaming video copy detection (streaming/avdedup.py
    StreamingVideoDeduper): replay the variant-augmented media table as
    a micro-batched stream through the incremental frame-hash indexes
    (aligned byte-block + unaligned 16-bit generators); on the drained
    stream the aligned read is row-identical to batch
    ``video_dup_pairs`` — shares its oracle."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.multimodal import (
        synth_media_aug,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.avdedup import (
        StreamingVideoDeduper,
    )

    media = synth_media_aug(tables.load_table(spark, sf_dir, "documents"))
    base = _scratch("sgr-svpd-")
    media.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    d = StreamingVideoDeduper(spark, f"{base}/wh")
    d.run_available_now(
        f"{base}/landing", f"{base}/ckpt", max_files_per_trigger=1
    )
    return d.pairs_aligned()


def _q_streaming_video_clips(spark, sf_dir):
    """Streaming clip detection (streaming/avdedup.py
    StreamingVideoDeduper.pairs_clips): replay the CLIP-augmented video
    corpus (re-encodes + trimmed re-uploads); the drained
    offset-consistent read is row-identical to batch
    ``video_clip_pairs`` — shares its oracle."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.multimodal import (
        synth_media_clip_aug,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.avdedup import (
        StreamingVideoDeduper,
    )

    media = synth_media_clip_aug(
        tables.load_table(spark, sf_dir, "documents")
    ).filter(F.col("kind") == "video")
    base = _scratch("sgr-svcd-")
    media.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    d = StreamingVideoDeduper(spark, f"{base}/wh")
    d.run_available_now(
        f"{base}/landing", f"{base}/ckpt", max_files_per_trigger=1
    )
    return d.pairs_clips()


def _q_streaming_audio_pairs(spark, sf_dir):
    """Streaming audio copy detection (streaming/avdedup.py
    StreamingAudioDeduper): replay the audio corpus (re-encodes +
    trimmed clips) as a micro-batched stream through the incremental
    16-bit-banded window-hash index; the drained offset-consistent read
    is row-identical to batch ``audio_dup_pairs`` — shares its oracle."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.multimodal import (
        synth_audio_corpus,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.avdedup import (
        StreamingAudioDeduper,
    )

    audio = synth_audio_corpus(tables.load_table(spark, sf_dir, "documents"))
    base = _scratch("sgr-sapd-")
    audio.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    d = StreamingAudioDeduper(spark, f"{base}/wh")
    d.run_available_now(
        f"{base}/landing", f"{base}/ckpt", max_files_per_trigger=1
    )
    return d.pairs()


def _q_archive_replay(spark, sf_dir):
    """O4 round-trip: write the Firehose-style gzip archive, replay it
    through the partition-pruned reader (year+month predicates), return
    the archived record content. The oracle is the parse projection
    directly — the archive round-trip must be content-identity."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.ingest import (
        read_archive,
        write_archive,
    )

    parsed = ingest.parse_bizcard_text(tables.bizcard_text_records(spark, sf_dir))
    base = _scratch("sgr-arch-")
    write_archive(parsed, base, batch_id=0)
    replay = read_archive(spark, base, year="2024", month="01")
    return replay.select(
        "s3_key",
        "owner",
        "name",
        "email",
        F.col("year").cast("int").alias("year"),
        F.col("month").cast("int").alias("month"),
    )


def _q_kinesis_partition_keys(spark, sf_dir):
    """O2: the producer's deterministic 1024-way shard key
    (trigger_text_extract_from_s3_image.py:21-33; randint → md5-derived,
    declared deviation for replay determinism)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.ingest import (
        kinesis_partition_key,
    )

    recs = tables.bizcard_text_records(spark, sf_dir)
    return recs.select(
        "s3_key", kinesis_partition_key(F.col("s3_key")).alias("partition_key")
    )


def _q_url_decoded_keys(spark, sf_dir):
    """O25: URL-decode of S3 object keys (unquote_plus,
    upsert_bizcard_to_es.py / get_text_from_s3_image.py event handling —
    S3 event keys arrive percent/plus-encoded). The encoded variant is
    constructed deterministically over a closed escape alphabet
    ('/'→%2F, '_'→'+') so the DuckDB twin can decode with replace()."""
    recs = tables.bizcard_text_records(spark, sf_dir)
    enc = F.replace(
        F.replace(F.col("s3_key"), F.lit("/"), F.lit("%2F")),
        F.lit("_"),
        F.lit("+"),
    )
    return recs.select(
        F.col("s3_key").alias("raw_key"),
        enc.alias("encoded_key"),
        P.url_decode(enc).alias("decoded_key"),
    )


def _q_text_language_id(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions import (
        text as T,
    )

    return T.language_id(tables.load_table(spark, sf_dir, "documents"))


def _q_text_quality(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions import (
        text as T,
    )

    return T.quality_scores(tables.load_table(spark, sf_dir, "documents"))


def _q_text_token_counts(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions import (
        text as T,
    )

    return T.token_counts(tables.load_table(spark, sf_dir, "documents"))


def _q_text_fingerprint(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions import (
        text as T,
    )

    return T.fingerprint(tables.load_table(spark, sf_dir, "documents"))


def _q_salted_distinct_degrees(spark, sf_dir):
    """Skew-safe distinct-neighbor count per vertex on the symmetrized
    graph (celebrity-vertex mitigation, SURVEY §4)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.model import (
        symmetrize,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.skew import (
        salted_distinct_count,
    )

    bi = symmetrize(tables.user_graph_edges(spark, sf_dir))
    return salted_distinct_count(bi, "src", "dst").withColumnRenamed("src", "id")


def _q_events_sessionized(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        sessionize as SS,
    )

    return SS.sessionize(tables.load_table(spark, sf_dir, "events")).drop("ts")


def _q_session_stats(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        sessionize as SS,
    )

    return SS.session_stats(tables.load_table(spark, sf_dir, "events"))


def _aug(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )

    return D.aug_corpus(tables.load_table(spark, sf_dir, "documents"))


def _q_split_neardup_contamination(spark, sf_dir):
    """Fuzzy train/test leakage (operators/contamination.py
    neardup_contamination): near-duplicate pairs ACROSS the hash-split
    boundary — MinHash/LSH candidates restricted to train×test, exact
    Jaccard ≥ 0.5 verify; the paraphrase-leak complement of the exact-
    shingle split_contamination audit (GPT-3's fuzzy benchmark dedup is
    the public precedent). Runs on the augmented near-dup corpus so the
    cross-split duplicate geometry actually exists at test scale."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        sampling as SA,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.contamination import (
        neardup_contamination,
    )

    split = SA.hash_split(_aug(spark, sf_dir), "doc_id", train=0.8, dev=0.1)
    return neardup_contamination(split, threshold=0.5)


def _q_docs_hash_sample(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        sampling as SA,
    )

    docs = tables.load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return SA.hash_sample(docs, "doc_id", 0.25)


def _q_docs_split_counts(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        sampling as SA,
    )

    docs = tables.load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        SA.hash_split(docs, "doc_id", train=0.8, dev=0.1)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_customers_balanced_sample(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        sampling as SA,
    )

    cust = tables.load_table(spark, sf_dir, "customer")
    return SA.stratified_topn(cust, "c_custkey", "c_nationkey", 20).select(
        "c_custkey", "c_nationkey"
    )


def _q_streaming_error_click_pairs(spark, sf_dir):
    """Stream-stream windowed join (streaming/joins.py): events drained
    through the watermarked error⋈click join in 3 micro-batches; the
    converged pair set equals the batch bounded_range_join — the shared
    oracle. Delay spans the corpus because the landing files are not
    time-ordered (declared trade, see module docstring)."""
    import hashlib
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.joins import (
        StreamingRangeJoiner,
    )

    import shutil

    ev = tables.load_table(spark, sf_dir, "events")
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"{tempfile.gettempdir()}/sgr-ssj-{key}"
    # The streaming checkpoint + append-mode pairs sink accumulate across
    # invocations (a rerun re-joins the rewritten landing files as "new"
    # data and duplicates every pair) — the stable name bounds orphan
    # dirs, the wipe restores per-invocation idempotency.
    shutil.rmtree(base, ignore_errors=True)
    ev.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    j = StreamingRangeJoiner(spark, f"{base}/wh", window_s=300, delay="40 days")
    j.run_available_now(
        f"{base}/landing", f"{base}/ckpt", max_files_per_trigger=1
    )
    return j.pairs().select(
        F.col("e_id").alias("event_id"),
        F.col("e_user").alias("user_id"),
        F.unix_micros("e_ts").alias("error_ts_us"),
        F.col("c_id").alias("click_id"),
        F.unix_micros("c_ts").alias("click_ts_us"),
    )


def _q_streaming_error_click_left(spark, sf_dir):
    """Stream-stream LEFT OUTER windowed join (streaming/joins.py):
    like streaming_error_click_pairs, plus every unmatched error emits
    once with NULL click columns after the watermark passes its window —
    flushed on drain by the sentinel device. Converged ≡ the batch LEFT
    JOIN oracle."""
    import hashlib
    import shutil
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.joins import (
        StreamingRangeJoiner,
    )

    ev = tables.load_table(spark, sf_dir, "events")
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"{tempfile.gettempdir()}/sgr-ssjl-{key}"
    shutil.rmtree(base, ignore_errors=True)
    ev.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    j = StreamingRangeJoiner(
        spark, f"{base}/wh", window_s=300, delay="40 days", how="leftOuter"
    )
    j.drain(f"{base}/landing", f"{base}/ckpt", max_files_per_trigger=1)
    return j.pairs().select(
        F.col("e_id").alias("event_id"),
        F.col("e_user").alias("user_id"),
        F.unix_micros("e_ts").alias("error_ts_us"),
        F.col("c_id").alias("click_id"),
        F.unix_micros("c_ts").alias("click_ts_us"),
    )


def _q_events_monthly_users_hll(spark, sf_dir):
    """Mergeable-sketch distinct rollup (operators/sketches.py): HLL
    sketch per day, register-max merge per month. ROWS-ONLY by
    declaration — DataSketches binaries have no DuckDB twin and the
    estimate is not bit-stable across partitionings; the suite pins the
    ~1.6% error bound against the exact count and merge-vs-direct
    consistency instead (tests/test_round5_ops.py)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.sketches import (
        monthly_distinct_users,
    )

    return monthly_distinct_users(tables.load_table(spark, sf_dir, "events"))


def _q_events_monthly_users_exact(spark, sf_dir):
    """The HLL rollup's hash-checkable exact twin (operators/sketches.py
    monthly_distinct_users_exact): COUNT(DISTINCT user_id) through the
    SAME monthly scaffold, so the sketch query's grouping pipeline is
    oracle-verified and only the DataSketches registers stay rows-only
    (r7 verdict item 2)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.sketches import (
        monthly_distinct_users_exact,
    )

    return monthly_distinct_users_exact(
        tables.load_table(spark, sf_dir, "events")
    )


def _q_lineitem_pricing_rollup(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.pricing_rollup(tables.load_table(spark, sf_dir, "lineitem"))


def _q_events_value_percentiles(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.value_percentiles(tables.load_table(spark, sf_dir, "events"))


def _q_lineitem_pricing_summary(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.pricing_summary(tables.load_table(spark, sf_dir, "lineitem"))


def _q_region_revenue(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.region_revenue(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "nation"),
        tables.load_table(spark, sf_dir, "region"),
    )


def _q_dedup_exact(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )

    return D.dedup_exact(_aug(spark, sf_dir))


def _q_corpus_curation(spark, sf_dir):
    """End-to-end curation pipeline: lang gate → quality gate →
    exact-canonical → near-dup drop → deterministic split, one plan
    (operators/curation.py). Reuses the pinned dedup relations."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        pinned as PIN,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        curation,
    )

    corpus = _aug(spark, sf_dir)
    # curated (doc_id, split) is a per-snapshot product like the
    # manifest: pin the serve (thresholds are the defaults, baked into
    # the key), let the cold pass re-pay the gates.
    (out,) = PIN.pinned(
        ("corpus_curation", corpus.semanticHash()),
        lambda: (curation.curate(corpus),),
    )
    return out


def _q_dedup_minhash_lsh(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )

    return D.dedup_minhash_lsh(_aug(spark, sf_dir), threshold=0.5)


def _q_dedup_ngram_pairs(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )

    return D.dedup_ngram_pairs(_aug(spark, sf_dir), threshold=0.3)


def _q_dedup_editdistance(spark, sf_dir):
    """Typo-class near-dup pairs (operators/dedup.py
    dedup_editdistance_pairs): rare-3-gram candidates + exact
    Levenshtein <= 2 on the normalized 64-char prefix — the character-
    metric member of the dedup family (the aug corpus' exact copies
    surface as dist-0 pairs)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )

    return D.dedup_editdistance_pairs(_aug(spark, sf_dir), max_dist=2)


def _q_docs_weighted_sample(spark, sf_dir):
    """Deterministic PPS sample (operators/sampling.py weighted_sample):
    sequential-Poisson priority u/w over md5-derived u (bit-identical
    across engines — no libm), weight = n_chars, top-64 smallest."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        sampling as SA,
    )

    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    return SA.weighted_sample(docs, "doc_id", "n_chars", 64)


def _q_events_funnel_users(spark, sf_dir):
    """User-grain ordered funnel (operators/warehouse.py funnel_steps):
    greedy-earliest view → click → purchase chain with per-step
    timestamps — the detail table under the stage-count summary
    (events_funnel); one keyed min per step chained by user equi-joins,
    no windows, no per-user sorting."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.funnel_steps(tables.load_table(spark, sf_dir, "events"))


def _q_events_wau(spark, sf_dir):
    """Trailing 7-day active users per day (operators/warehouse.py
    rolling_active_users): distinct user-days spread over a bounded
    7-day explode, then count-distinct per report day — the windowed-
    distinct shape RANGE frames cannot express."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.rolling_active_users(
        tables.load_table(spark, sf_dir, "events"), window_days=7
    )


def _q_dedup_clusters(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )

    return D.dedup_clusters(_aug(spark, sf_dir), threshold=0.5)


def _q_docs_token_shards(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        packing as PKG,
    )

    docs = tables.load_table(spark, sf_dir, "documents")
    return PKG.token_shards(docs, budget=10_000)


def _q_dedup_simhash(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )

    return D.simhash(_aug(spark, sf_dir))


def _q_dedup_simhash_pairs(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )

    return D.simhash_pairs(_aug(spark, sf_dir), max_hamming=8)


def _q_ann_bruteforce(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.ann_bruteforce(emb, oracles.ANN_QUERY_IDS, k=10)


def _q_ann_ivf(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.ann_ivf(emb, oracles.ANN_QUERY_IDS, k=10)


def _q_emb_knn_graph(spark, sf_dir):
    """Batch kNN-join (operators/similarity.py knn_graph): top-5
    neighbors for EVERY vector via IVF cell blocking — probe assignment
    is a 1-row broadcast centroid fold (zero shuffles), candidates come
    from one cell equi-join, never all-pairs. The corpus-scale input
    SemDeDup / diversity pruning consume."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.pinned_knn_graph(emb, k=5, nprobe=1)


def _q_emb_knn_refined(spark, sf_dir):
    """One NN-Descent refinement round (operators/similarity.py
    knn_refine): symmetrize the pinned k=5 kNN graph (reverse edges
    capped at 5, deterministic rank instead of sampling), expand to the
    two-hop neighborhood, re-score exactly at the Arrow block boundary,
    keep the global top-5 — lifts recall across IVF cell boundaries at
    candidate-bounded (≤4k²/vector) cost."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.pinned_knn_refined(emb, k=5, nprobe=1)


def _q_emb_knn_refined2(spark, sf_dir):
    """TWO NN-Descent rounds (operators/similarity.py knn_refine,
    rounds=2): the second round expands over the round-1 graph —
    reaching two hops past the IVF cell boundary at the same bounded
    per-round cost (intermediate graph rides a tracked localCheckpoint,
    freed when the next round materializes)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.pinned_knn_refined(emb, k=5, nprobe=1, rounds=2)


def _q_emb_knn_refined_hi(spark, sf_dir):
    """The r13 convergence study's recommended serving config
    (operators/similarity.py knn_refine): build the graph
    OVER-PROVISIONED at K=10 on a 2-probe seed, two NN-Descent rounds,
    serve the best 5 ranks — the standard build-K > serve-k practice
    that lifts recall@5 from the k=5 builds' 0.47/0.60 plateaus to a
    measured 0.863 (SCALING.md r13 study; floor test-pinned). Cost is
    the same two bounded rounds with a 4× candidate pool (≤ 4K²/vec),
    still linear in N."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.pinned_knn_refined(emb, k=10, nprobe=2, rounds=2).filter(
        F.col("rank") <= 5
    )


def _q_emb_diversity_prune(spark, sf_dir):
    """kNN-graph diversity pruning (operators/similarity.py
    diversity_prune): keep-min over rank-1 neighbors at cos ≥ 0.4 —
    the SemDeDup-adjacent curation step the kNN graph feeds; pruning
    itself is one filter + projection over the graph."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.diversity_prune(emb, k=5, min_cos=0.4)


def _q_kmeans_assign(spark, sf_dir):
    """Deterministic Lloyd k-means (k=4, 2 assignment passes) — the IVF
    codebook train step, one declarative unrolled plan."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        clustering,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return clustering.kmeans_assign(emb, k=4, iters=2)


def _q_ann_ivf_probe2(spark, sf_dir):
    """IVF with nprobe=2 — the recall knob: each query scans its two
    nearest clusters; candidates double, recall approaches brute force."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.ann_ivf(emb, oracles.ANN_QUERY_IDS, k=10, nprobe=2)


def _q_dedup_embedding(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.embedding_near_dup_pairs(SIM.aug_embeddings(emb), threshold=0.99)


def _media(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        multimodal as M,
    )

    return M, M.synth_media(tables.load_table(spark, sf_dir, "documents"))


def _q_media_decode(spark, sf_dir):
    M, media = _media(spark, sf_dir)
    return M.decode_media(media)


def _q_media_features(spark, sf_dir):
    """Features posexploded to (media_id, feature_idx, feature) rows so the
    driver's canonicalizer (which cannot sort/hash array columns) can
    compare values; the array-returning operator is unchanged."""
    M, media = _media(spark, sf_dir)
    feats = M.extract_features(media)
    return feats.select(
        "media_id", F.posexplode("features").alias("feature_idx", "feature")
    ).withColumn("feature_idx", F.col("feature_idx").cast("int"))


def _media_aug(spark, sf_dir):
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        multimodal as M,
    )

    return M, M.synth_media_aug(tables.load_table(spark, sf_dir, "documents"))


def _q_media_phash(spark, sf_dir):
    """Perceptual fingerprints (operators/multimodal.py image_phash):
    dHash + aHash per image over the variant-augmented media table —
    the pinned index the image near-dup tier serves from, verified
    bit-for-bit against a pure-SQL pixel-arithmetic twin (the binary →
    Arrow → pandas round-trip proven lossless, the media_decode
    contract extended to pixel level)."""
    M, media = _media_aug(spark, sf_dir)
    return M.image_phash(media)


def _q_dedup_media_phash(spark, sf_dir):
    """Image near-dup pairs (phash_pairs): banded 8-byte-block Hamming
    join at threshold 7 — exact by pigeonhole (7 < 8 blocks), so the
    oracle's all-pairs form returns the identical pair set while the
    Spark plan never goes all-pairs. Served from the pinned verified-
    pair index (built once per corpus, like the components closure)."""
    M, media = _media_aug(spark, sf_dir)
    return M.pinned_phash_pairs(media)


def _q_media_dup_clusters(spark, sf_dir):
    """Image dup clusters (media_dup_clusters): components closure of
    the pHash pair graph, min-id canonical — the base image always
    survives (variant ids sit above MEDIA_VARIANT_OFFSET)."""
    M, media = _media_aug(spark, sf_dir)
    return M.media_dup_clusters(media)


def _q_media_video_frame_phash(spark, sf_dir):
    """Video fingerprint index (operators/multimodal.py
    video_frame_phash): dHash per sampled frame (stride 4) over the
    variant-augmented media table — pinned once per corpus, verified
    against a pure-SQL frame-pixel twin."""
    M, media = _media_aug(spark, sf_dir)
    return M.video_frame_phash(media)


def _q_dedup_video_pairs(spark, sf_dir):
    """Video near-dup pairs (video_dup_pairs): banded aligned-frame
    Hamming matches, ≥ 2 positions within threshold — temporal-aligned
    re-encode detection, never all-pairs across videos or time. Served
    from the pinned verified-pair index."""
    M, media = _media_aug(spark, sf_dir)
    return M.pinned_video_dup_pairs(media)


def _q_dedup_video_clip_pairs(spark, sf_dir):
    """Clip detection (operators/multimodal.py video_clip_pairs): frame
    matches at ANY temporal offset, grouped by offset — a trimmed
    re-upload's matches share one offset; banding on the hash bytes
    keeps candidates bucket-bounded."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        multimodal as M,
    )

    media = M.synth_media_clip_aug(
        tables.load_table(spark, sf_dir, "documents")
    )
    return M.pinned_video_clip_pairs(media)


def _q_media_audio_fingerprints(spark, sf_dir):
    """Audio fingerprint index (operators/multimodal.py
    audio_window_hash): gradient-sign hash per stride-17 sample window
    over the audio corpus (durations read from the container) — pinned
    per corpus, verified against a pure-SQL sample-arithmetic twin."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        multimodal as M,
    )

    media = M.synth_audio_corpus(tables.load_table(spark, sf_dir, "documents"))
    return M.audio_window_hash(media)


def _q_dedup_audio_pairs(spark, sf_dir):
    """Audio copy detection (audio_dup_pairs): offset-consistent banded
    window matches — re-encodes at offset 0, trimmed re-uploads at the
    trim offset, never all-pairs."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        multimodal as M,
    )

    media = M.synth_audio_corpus(tables.load_table(spark, sf_dir, "documents"))
    return M.pinned_audio_dup_pairs(media)


def _q_media_resize_decode(spark, sf_dir):
    M, media = _media(spark, sf_dir)
    decoded = M.decode_media(M.resize_media(media, 32, 32))
    return decoded


def _q_media_frame_sample(spark, sf_dir):
    from pyspark.sql import functions as F2

    M, media = _media(spark, sf_dir)
    return M.sample_frames(media, every_k=4).withColumn(
        "frame_idx", F2.col("frame_idx").cast("int")
    )


def _q_graph_triangles(spark, sf_dir):
    """Triangle count + wedge count + global clustering coefficient over
    the social graph (graph/triangles.py) — degree-ordered orientation,
    so wedge fan-out is bounded by O(sqrt(m)) per vertex; the oracle
    counts the same triangles with the simpler id-ordered join."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.triangles import (
        pinned_triangle_stats,
    )

    return pinned_triangle_stats(tables.user_graph_edges(spark, sf_dir))


def _q_status_history_scd2(spark, sf_dir):
    """SCD2 validity history of each user's event_type (operators/scd.py):
    one row per run of equal values with [valid_from, valid_to) in
    microseconds and the open run flagged current — the warehouse-history
    twin of the reference's latest-only DynamoDB status (O7)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.scd import (
        scd2_history,
    )

    ev = tables.load_table(spark, sf_dir, "events")
    h = scd2_history(ev, ["user_id"], "ts", ["event_id"], "event_type")
    return h.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    )


def _q_split_contamination(spark, sf_dir):
    """Train/test leakage audit (operators/contamination.py): for every
    test-split document (hash_split on doc_id), how many of its distinct
    8-token shingles occur anywhere in the train split. Train side joins
    as a distinct shingle SET (fan-out 1 per test shingle)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.contamination import (
        contamination_report,
    )

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        sampling as SA,
    )

    docs = SA.hash_split(tables.load_table(spark, sf_dir, "documents"), "doc_id")
    return contamination_report(docs)


def _q_split_decontaminated_train(spark, sf_dir):
    """Decontamination removal (operators/contamination.py
    decontaminated_train — the GPT-3/Llama direction: prune TRAIN, keep
    eval intact): train docs sharing any distinct 8-token shingle with
    the test split drop; survivors return with shingle counts."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        sampling as SA,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.contamination import (
        decontaminated_train,
    )

    docs = SA.hash_split(tables.load_table(spark, sf_dir, "documents"), "doc_id")
    return decontaminated_train(docs)


def _q_docs_top_terms(spark, sf_dir):
    """Corpus vocabulary head: top-50 tokens by document frequency
    (functions/text.py document_frequency_topk) — map-side-combined
    explode+count, TakeOrderedAndProject top-k, declared tie order."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions import (
        text as T,
    )

    return T.document_frequency_topk(
        tables.load_table(spark, sf_dir, "documents"), 50
    )


def _q_events_transitions(spark, sf_dir):
    """Per-user event-type Markov transitions (operators/sessionize.py
    transition_counts): lag window shares sessionize's exact shuffle;
    first events count from the '^' start state so rows are conserved."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.sessionize import (
        transition_counts,
    )

    return transition_counts(tables.load_table(spark, sf_dir, "events"))


def _q_streaming_session_stats(spark, sf_dir):
    """Streaming session windows (streaming/sessions.py): append-mode
    session_window stats, open sessions flushed by a watermark-advancing
    sentinel; converged per-(user, session) rows equal batch sessionize's
    (the shared 12h gap rule)."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.sessions import (
        StreamingSessionizer,
    )

    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    base = _scratch("sgr-sess-")
    ev.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    s = StreamingSessionizer(spark, f"{base}/wh")
    s.run_available_now(f"{base}/landing", f"{base}/ckpt")
    return s.current()


def _q_orders_topk_revenue(spark, sf_dir):
    """TPC-H Q3 shape (operators/warehouse.py topk_order_revenue):
    segment-filtered customer broadcasts into orders, orders⋈lineitem
    shuffles on orderkey, revenue sums in exact decimal, top-10 cut on
    the exact value before the display round."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.topk_order_revenue(
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "lineitem"),
    )


def _q_events_value_histogram(spark, sf_dir):
    """Fixed-bound histogram per event_type (operators/warehouse.py
    value_histogram): declared bounds [0,500) x 10 buckets, one scan,
    one map-side-combined aggregation."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.value_histogram(tables.load_table(spark, sf_dir, "events"))


def _q_pymk_user_3_ppr(spark, sf_dir):
    """PYMK by personalized PageRank (graph/rank.py pymk_ppr): walk mass
    from user 3 replaces the mutual-friend count, same source/friend
    exclusion rule as the Gremlin PYMK; 3 supersteps, top-10 on the
    9dp-rounded rank."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.rank import (
        pinned_pymk_ppr,
    )

    return pinned_pymk_ppr(tables.user_graph_edges(spark, sf_dir), 3, 10)


def _q_ann_lsh(spark, sf_dir):
    """Sign-LSH ANN with Hamming-1 multiprobe (operators/similarity.py
    ann_lsh): the hash-partitioned scale path next to IVF — bucket at
    index time, probe n_bits+1 buckets per query, exact cosine rerank
    within the candidate set."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.ann_lsh(emb, oracles.ANN_QUERY_IDS, k=10)


def _q_graph_landmark_distances(spark, sf_dir):
    """Landmark BFS (graph/traverse.py multi_source_shortest_paths):
    distances from 3 landmarks in ONE traversal — state keyed on
    (landmark, vertex), one frontier join per superstep regardless of
    landmark count. Served from the pinned landmark sketch (shared with
    graph_closeness_landmarks — the traversal is the index build)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.traverse import (
        pinned_landmark_distances,
    )

    return pinned_landmark_distances(
        tables.user_graph_edges(spark, sf_dir), [3, 50, 120], max_hops=3
    )


def _q_graph_closeness_landmarks(spark, sf_dir):
    """Landmark-estimated closeness centrality (graph/traverse.py
    closeness_from_landmarks): one multi-source traversal, then
    n_reached / dist_sum per vertex — the sampled stand-in for
    all-pairs closeness."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.traverse import (
        closeness_from_landmarks,
    )

    return closeness_from_landmarks(
        tables.user_graph_edges(spark, sf_dir), [3, 50, 120], max_hops=3
    )


def _q_graph_walks(spark, sf_dir):
    """Random-walk corpus generation (graph/walks.py
    deterministic_walks): one 3-step walk per vertex, neighbor choice
    by per-step md5 argmin — one equi-join + one map-side-combinable
    struct-min per step, whale-neighbor-safe."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.walks import (
        deterministic_walks,
    )

    return deterministic_walks(tables.user_graph_edges(spark, sf_dir), steps=3)


def _q_nation_trade_volume(spark, sf_dir):
    """TPC-H Q7-flavored cross-nation trade (operators/warehouse.py
    nation_trade_volume): the double-nation-role six-table join — one
    fact-fact shuffle, every dimension broadcast, exact-decimal
    revenue."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.warehouse import (
        nation_trade_volume,
    )

    return nation_trade_volume(
        tables.load_table(spark, sf_dir, "lineitem"),
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "customer"),
        tables.load_table(spark, sf_dir, "supplier"),
        tables.load_table(spark, sf_dir, "nation"),
    )


def _q_sessions_status_overlap(spark, sf_dir):
    """Interval-overlap join (operators/intervals.py): sessions ×
    concurrent SCD2 status runs via day-cell bucketization — equi-join
    on (user, cell) + exact overlap verify, never the per-key
    BroadcastNestedLoop cross product a raw range join plans to."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.intervals import (
        sessions_status_overlap,
    )

    return sessions_status_overlap(tables.load_table(spark, sf_dir, "events"))


def _q_graph_skipgram_pairs(spark, sf_dir):
    """Skip-gram training pairs over the walk corpus (graph/walks.py
    skipgram_pairs): window-2 ordered co-occurrence counts — walks are
    sentences, vertices are words; per-walk join fan-out is a design
    constant."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.walks import (
        skipgram_pairs,
    )

    return skipgram_pairs(tables.user_graph_edges(spark, sf_dir))


def _q_graph_negative_samples(spark, sf_dir):
    """Deterministic negative sampling for link-prediction training
    (graph/linkpred.py negative_edge_samples): one md5-rank-proposed
    non-edge per positive, collisions dropped — two-phase vertex rank,
    one rank equi-join, one anti-join on the symmetrized view."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.linkpred import (
        negative_edge_samples,
    )

    return negative_edge_samples(tables.user_graph_edges(spark, sf_dir))


def _q_docs_hashed_features(spark, sf_dir):
    """Feature hashing (functions/text.py hashed_features): fixed-width
    sparse features with no vocabulary table — bucket from the md5
    hash, ±1 sign from the next bit, signed counts; exploded
    (doc, bucket, weight) relation."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        hashed_features,
    )

    return hashed_features(tables.load_table(spark, sf_dir, "documents"))


def _q_orders_snapshot_changes(spark, sf_dir):
    """Change-data feed between two table snapshots (streaming/table.py
    table_changes — Delta's CDC shape): old = orders, new = orders with
    %7 keys deleted, %11 prices doubled, %13 keys re-inserted shifted —
    the diff classifies insert/delete/update_pre/update_post by bag
    difference + key presence, never materializing unchanged rows."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.table import (
        table_changes,
    )

    old = tables.load_table(spark, sf_dir, "orders")
    kept = old.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")),
    )
    inserted = old.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(1000000)
    )
    new = kept.unionByName(inserted)
    return table_changes(old, new, ["o_orderkey"]).select(
        "o_orderkey", F.col("_change").alias("change")
    )


def _q_docs_bpe_merge_candidates(spark, sf_dir):
    """One BPE training iteration's merge-candidate list
    (functions/text.py bpe_merge_candidates): top-20 adjacent token
    pairs corpus-wide — explode + map-side-combined pair count +
    TakeOrderedAndProject."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        bpe_merge_candidates,
    )

    return bpe_merge_candidates(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_bpe_vocab_k8(spark, sf_dir):
    """FULL iterative BPE training, 8 merge rounds (functions/text.py
    bpe_train — Sennrich et al. 2016): word-frequency aggregate once,
    then per round one vocabulary-sized pair-count aggregate + a 1-row
    argmax sync + a JVM fold applying the greedy merge. Returns the
    learned merge table (step, x, y, merged, cnt)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        bpe_train,
    )

    return bpe_train(tables.load_table(spark, sf_dir, "documents"), 8)


def _q_docs_bpe_subword_counts(spark, sf_dir):
    """BPE encode side (functions/text.py bpe_subword_counts): top-20
    corpus subword frequencies after the same 8 learned merges —
    computed from the vocabulary relation alone (explode + sum(freq)),
    with NO second corpus pass."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        bpe_subword_counts,
    )

    return bpe_subword_counts(tables.load_table(spark, sf_dir, "documents"), 8)


def _q_docs_bpe_tokens_per_doc(spark, sf_dir):
    """Corpus-side BPE encode (functions/text.py bpe_tokens_per_doc):
    per-document subword counts via a BROADCAST join of the exploded
    corpus against the vocabulary's word → segment-length mapping — the
    100 TB side never shuffles."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        bpe_tokens_per_doc,
    )

    return bpe_tokens_per_doc(tables.load_table(spark, sf_dir, "documents"), 8)


def _q_dedup_semantic(spark, sf_dir):
    """Semantic dedup (operators/dedup.py semantic_dedup, SemDeDup
    shape): k-means-bucketed exact-cosine pairs over the near-dup-
    augmented embeddings + components closure — the embedding tier of
    the dedup family, catching paraphrase-shaped duplicates no shingle
    pipeline can see."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        pinned_semantic_dedup,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.similarity import (
        semdedup_aug_embeddings,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return pinned_semantic_dedup(semdedup_aug_embeddings(emb), threshold=0.9)


def _q_streaming_quality_gate(spark, sf_dir):
    """Streaming classifier gate (streaming/rollup.py
    StreamingQualityGate): the corpus arrives in 3 micro-batches, each
    scored against the frozen broadcast weight relation at ingest time;
    drained table ≡ the batch quality_classifier_margin (same oracle as
    docs_quality_classifier — margins are exact integers, the additive
    merge degenerates to insert)."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.rollup import (
        StreamingQualityGate,
    )

    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    base = _scratch("sgr-sclf-")
    docs.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    gate = StreamingQualityGate(spark, f"{base}/wh")
    gate.run_available_now(
        f"{base}/landing",
        f"{base}/ckpt",
        "doc_id long, text string",
        max_files_per_trigger=1,
    )
    return gate.table().select(
        "doc_id", F.col("value_sum").cast("long").alias("margin")
    )


def _q_docs_bigram_logprob(spark, sf_dir):
    """Bigram-LM fluency gate (functions/text.py bigram_logprob_scores):
    Jelinek-Mercer interpolated adjacent-pair log-likelihood per doc —
    the CCNet perplexity-gate shape, self-scored; the context-aware
    sibling of docs_unigram_logprob."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        bigram_logprob_scores,
    )

    return bigram_logprob_scores(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_trigram_logprob(spark, sf_dir):
    """Trigram fluency gate (functions/text.py trigram_logprob_scores):
    absolute-discount interpolated trigram log-likelihood — the next
    rung toward CCNet's KenLM 5-gram KN gate, with declared
    simplifications (fixed D=0.75, MLE unigram base, self-scored)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        trigram_logprob_scores,
    )

    return trigram_logprob_scores(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_kn_logprob(spark, sf_dir):
    """Kneser-Ney trigram fluency gate (functions/text.py
    kn_trigram_logprob_scores): the KenLM estimator proper — lower
    levels built from CONTINUATION type counts (N1+(·yz) from trigram
    types, N1+(·z) from bigram types, Chen-&-Goodman gammas); highest
    level raw counts with fixed D=0.75."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        kn_trigram_logprob_scores,
    )

    return kn_trigram_logprob_scores(
        tables.load_table(spark, sf_dir, "documents")
    )


def _q_docs_unigram_encode_heldout(spark, sf_dir):
    """Unigram-LM INFERENCE encode (functions/text.py
    unigram_encode_tokens_per_doc): fit the 3-round EM model on the
    TRAIN hash-split, encode the held-out TEST split — including words
    and characters training never saw, via the declared UNK fold —
    (doc_id, n_pieces) per tokenized held-out document."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        unigram_encode_tokens_per_doc,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        sampling as SA,
    )

    docs = tables.load_table(spark, sf_dir, "documents")
    split = SA.hash_split(docs, "doc_id", train=0.8, dev=0.1)
    train = split.filter(F.col("split") == "train").drop("split")
    heldout = split.filter(F.col("split") == "test").drop("split")
    return unigram_encode_tokens_per_doc(train, heldout)


def _q_docs_quality_classifier(spark, sf_dir):
    """Learned quality-classifier application (functions/text.py
    quality_classifier_margin): hashed features ⋈ the broadcast
    constant integer weight relation — the fastText-style model-based
    curation gate, exact BIGINT margins. Served from the same pinned
    margin relation curate() reads (operators/curation.py
    classifier_margins) — score once per corpus, gate at any
    threshold."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.curation import (
        classifier_margins,
    )

    return classifier_margins(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_unigram_vocab(spark, sf_dir):
    """Unigram-LM tokenizer training (functions/text.py unigram_vocab;
    Kudo 2018 / SentencePiece): 3 hard-EM rounds over the word table —
    Viterbi E-step, integer-count M-step with unused-piece pruning and
    character floor-smoothing. (piece, cnt) — the fitted model as a
    relation, exact integers."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        unigram_vocab,
    )

    return unigram_vocab(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_unigram_encode(spark, sf_dir):
    """Unigram-LM corpus encode (functions/text.py
    unigram_tokens_per_doc): per-document Viterbi piece count under the
    fitted model — same broadcast-the-word-dim join shape as the BPE
    encode; the corpus side never shuffles."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        unigram_tokens_per_doc,
    )

    return unigram_tokens_per_doc(tables.load_table(spark, sf_dir, "documents"))


def _q_graph_weighted_paths(spark, sf_dir):
    """Hop-bounded weighted shortest paths (graph/traverse.py
    weighted_shortest_paths): 3 distributed Bellman–Ford min-plus
    rounds from user 3 — the weighted sibling of the BFS family, exact
    integer distances."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.traverse import (
        pinned_weighted_distances,
    )

    return pinned_weighted_distances(
        tables.user_graph_edges(spark, sf_dir), 3, max_hops=3
    )


def _q_events_value_p95_bucketed(spark, sf_dir):
    """Mergeable bucketed quantiles (operators/warehouse.py
    bucketed_quantiles): p50/p95/p99 estimates from the fixed-bound
    histogram — bucket counts merge by ADDITION across partitions/days
    (the rollup-friendly quantile; exact deciles are the two-phase-rank
    sibling), error bounded by the declared bucket width."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.warehouse import (
        bucketed_quantiles,
    )

    return bucketed_quantiles(tables.load_table(spark, sf_dir, "events"))


def _q_orders_priority_revenue_ses(spark, sf_dir):
    """Multi-series SES (operators/timeseries.py ses_levels_by): one
    recurrence per order priority — the grouped form where the fold
    shape earns its keep (a million series = a million parallel small
    folds, never a driver loop)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.timeseries import (
        ses_levels_by,
    )

    return ses_levels_by(
        tables.load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_orderdate",
        "o_totalprice",
    )


def _q_streaming_monthly_revenue(spark, sf_dir):
    """Incrementally-maintained monthly revenue rollup
    (streaming/rollup.py): exact-decimal partial sums merged
    additively per micro-batch, state bounded by |months| forever;
    drained ≡ the batch GROUP BY (shared-shape oracle)."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.rollup import (
        StreamingSumRollup,
    )

    orders = tables.load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").alias("mon"), "o_totalprice"
    )
    base = _scratch("sgr-srollup-")
    orders.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    acc = StreamingSumRollup(
        spark,
        f"{base}/wh",
        key_cols=["mon"],
        value_col="o_totalprice",
        key_schema="mon timestamp",
    )
    acc.run_available_now(
        f"{base}/landing",
        f"{base}/ckpt",
        "mon timestamp, o_totalprice double",
        max_files_per_trigger=1,
    )
    return acc.table().select(
        F.unix_micros("mon").alias("month_us"), "n", "value_sum"
    )


def _q_streaming_bpe_pairs(spark, sf_dir):
    """Streaming BPE pair mining (streaming/rollup.py
    StreamingTokenPairRollup): documents ingest in micro-batches, each
    batch explodes to adjacent token pairs and merges additively into
    the stored pair table — integer counts, so drained ≡ the batch
    miner exactly. Returns the top-20 (x, y, cnt) merge candidates,
    ties (x, y) asc — the same relation docs_bpe_merge_candidates
    computes in one pass."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.rollup import (
        StreamingTokenPairRollup,
    )

    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    base = _scratch("sgr-spairs-")
    docs.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    acc = StreamingTokenPairRollup(spark, f"{base}/wh")
    acc.run_available_now(
        f"{base}/landing",
        f"{base}/ckpt",
        "doc_id long, text string",
        max_files_per_trigger=1,
    )
    return (
        acc.table()
        .select("x", "y", F.col("n").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("x").asc(), F.col("y").asc())
        .limit(20)
    )


def _q_orders_revenue_ses(spark, sf_dir):
    """Exponential smoothing over monthly revenue
    (operators/timeseries.py ses_levels): distributed exact-decimal
    month aggregate, then the SES recurrence folded over the bounded
    series inside one row — the Spark shape for ANY sequential
    recurrence (heavy part distributed, sequential part series-sized)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.timeseries import (
        ses_levels,
    )

    return ses_levels(
        tables.load_table(spark, sf_dir, "orders"), "o_orderdate", "o_totalprice"
    )


def _q_graph_harmonic_landmarks(spark, sf_dir):
    """Landmark harmonic centrality (graph/traverse.py
    harmonic_from_landmarks): Σ 1/d over reached landmarks, computed
    exactly as Σ (lcm/d) integers; served from the same pinned
    landmark sketch as closeness — one traversal, two centralities."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.traverse import (
        harmonic_from_landmarks,
    )

    return harmonic_from_landmarks(
        tables.user_graph_edges(spark, sf_dir), [3, 50, 120], max_hops=3
    )


def _q_graph_degree_distribution(spark, sf_dir):
    """Degree distribution of the social graph (graph/model.py degrees →
    re-aggregation): the power-law probe that sizes every downstream
    skew decision (salting thresholds, whale caps). Two map-side-
    combined shuffles, output rows = #distinct degrees."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.model import (
        degrees,
    )

    return (
        degrees(tables.user_graph_edges(spark, sf_dir))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def _q_docs_collocations_top20(spark, sf_dir):
    """PMI collocations over the vocab head (functions/text.py
    collocations_topk): pair space bounded by the top-50 vocabulary so
    the per-doc self-join fan-out is capped."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        collocations_topk,
    )

    return collocations_topk(tables.load_table(spark, sf_dir, "documents"))


def _q_events_funnel(spark, sf_dir):
    """Ordered view→click→purchase funnel (operators/sessionize.py
    funnel_counts): first-touch anchors, per-stage conditional-min
    aggregates sharing the user_id partitioning."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.sessionize import (
        funnel_counts,
    )

    return funnel_counts(tables.load_table(spark, sf_dir, "events"))


def _q_lineitem_revenue_forecast(spark, sf_dir):
    """Q6-shaped pushdown probe (operators/warehouse.py
    revenue_forecast): one scan, three pushed predicates, one global
    agg — zero joins, zero groupings."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.revenue_forecast(tables.load_table(spark, sf_dir, "lineitem"))


def _q_orders_with_returns_by_priority(spark, sf_dir):
    """EXISTS → LEFT SEMI (operators/warehouse.py
    orders_with_returns_by_priority): returned-line order keys reduced
    to a distinct set before the semi-join, then per-priority counts."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.orders_with_returns_by_priority(
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "lineitem"),
    )


def _q_salted_enriched_segments(spark, sf_dir):
    """Skew-spread salted join (operators/skew.py salted_join): events ⋈
    customer with the big side row-hash-salted and the dim replicated
    per bucket, then per-segment totals — result provably equals the
    plain join (the streaming enrichment's oracle, verbatim)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.skew import (
        salted_join,
    )

    ev = tables.load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = tables.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = salted_join(ev, cust, "user_id", "c_custkey", buckets=8)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("value_sum"),
    )


def _q_graph_kcore_72(spark, sf_dir):
    """72-core of the social graph (graph/kcore.py): iterative peeling
    to fixpoint with tracked checkpoints; the oracle unrolls 8 peeling
    rounds (idempotent past convergence). k=72 sits just under the
    near-complete graph's connectivity so the peel does real work."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.kcore import (
        kcore,
    )

    return kcore(tables.user_graph_edges(spark, sf_dir), 72)


def _q_user_event_pivot(spark, sf_dir):
    """Relational pivot (operators/warehouse.py user_event_pivot): one
    aggregate pass with per-type conditional counts over the declared
    event taxonomy."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.user_event_pivot(tables.load_table(spark, sf_dir, "events"))


def _q_customer_spend_quartiles(spark, sf_dir):
    """NTILE(4) spend segmentation (operators/warehouse.py
    customer_spend_quartiles): aggregate-then-window, declared ties."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.customer_spend_quartiles(tables.load_table(spark, sf_dir, "orders"))


def _q_docs_chunks(spark, sf_dir):
    """Overlapping token-window chunking (functions/text.py
    chunk_documents): width 50 / stride 40 — the standard training/RAG
    preprocessing explode; JVM-side array ops, no shuffle."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        chunk_documents,
    )

    return chunk_documents(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_chunks_sliding(spark, sf_dir):
    """RAG sliding-window chunking with provenance offsets
    (functions/text.py sliding_chunks): 64-token windows, 16-token
    overlap, md5 chunk identities, start_tok provenance — the
    embedding-pipeline contract (no chunk past the end), distinct from
    chunk_documents' every-stride windows. Zero-shuffle row-local."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        sliding_chunks,
    )

    return sliding_chunks(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_chunk_dupes(spark, sf_dir):
    """Chunk-grain dedup (functions/text.py chunk_dupes): duplicated
    sliding-window chunks across documents of the planted aug corpus —
    the embed-once filter a RAG index runs before the embedding pass;
    one md5-keyed map-side-combined aggregate over the zero-shuffle
    chunk explode."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        chunk_dupes,
    )

    return chunk_dupes(_aug(spark, sf_dir))


def _q_chunks_ann_topk(spark, sf_dir):
    """Chunk-grain RAG retrieval, exact baseline (operators/
    retrieval.py chunks_ann_topk): sliding chunks → feature-hash
    embeddings → canonical-per-fingerprint pinned index → cosine top-5
    per query chunk (docs 1-3, chunk 0) with (doc, chunk_idx,
    start_tok) provenance; same-doc neighbors excluded. Queries
    broadcast; the index builds once per corpus."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        retrieval as RET,
    )

    return RET.chunks_ann_topk(tables.load_table(spark, sf_dir, "documents"))


def _q_chunks_ann_lsh(spark, sf_dir):
    """Bucket-pruned chunk retrieval — the sublinear serve path
    (operators/retrieval.py chunks_ann_lsh): sign-LSH buckets computed
    at index time, Hamming-1 multiprobe per query, candidates from a
    bucket equi-join (never all-pairs), exact rerank. Deterministic
    recall < 1, mirrored exactly by the oracle."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        retrieval as RET,
    )

    return RET.chunks_ann_lsh(tables.load_table(spark, sf_dir, "documents"))


def _q_streaming_enriched_segments(spark, sf_dir):
    """Stream-static dimension enrichment (streaming/enrich.py): the
    events stream joins the broadcast customer dim per micro-batch and
    accumulates per-segment partials; the converged merge equals the
    batch join+groupBy (the oracle). Drained in multiple batches
    (maxFilesPerTrigger=1) to exercise the partial-merge path."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.enrich import (
        StreamingEnricher,
    )

    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    base = _scratch("sgr-enrich-")
    ev.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    enr = StreamingEnricher(
        spark,
        tables.load_table(spark, sf_dir, "customer"),
        "user_id",
        "c_custkey",
        "c_mktsegment",
        f"{base}/out",
        stream_schema=ev.schema,
    )
    enr.run_available_now(
        f"{base}/landing", f"{base}/ckpt", max_files_per_trigger=1
    )
    return enr.result()


def _q_bizcard_pii_redacted(spark, sf_dir):
    """PII scrubbing over the bizcard OCR text (functions/parse.py
    redact_pii): emails/phones found by the reference's own frozen
    patterns are counted on the original text and replaced in the
    output — the corpus-pipeline inverse of the O14/O15 harvest."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.parse import (
        pii_counts,
        redact_pii,
    )

    recs = tables.bizcard_text_records(spark, sf_dir)
    text = F.array_join(F.col("lines"), "\n")
    n_emails, n_phones = pii_counts(text)
    return recs.select(
        "s3_key",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        redact_pii(text).alias("redacted"),
    )


def _q_events_trailing_24h(spark, sf_dir):
    """Per-event trailing-24h user activity (operators/warehouse.py
    user_trailing_24h): RANGE frame on epoch microseconds — the
    batch twin of the streaming sliding window."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.user_trailing_24h(tables.load_table(spark, sf_dir, "events"))


def _q_customer_running_totals(spark, sf_dir):
    """Per-customer running order totals (operators/warehouse.py
    customer_running_totals): first-5 orders with cumulative spend —
    one shuffle serves both the running-sum frame and the rank cut."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.customer_running_totals(tables.load_table(spark, sf_dir, "orders"), 5)


def _q_part_cheapest_supplier(spark, sf_dir):
    """Grouped argmin (operators/warehouse.py cheapest_supplier_per_part):
    per-part lowest-average-price supplier over the pre-aggregated
    (part, supplier) relation — the Q2 shape on the lineitem fact."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.cheapest_supplier_per_part(
        tables.load_table(spark, sf_dir, "lineitem"), 3
    )


def _q_dq_audit_core(spark, sf_dir):
    """Scan-time data-quality audit (operators/quality.py): referential
    orphans, duplicate keys, null/blank profiling folded into one
    one-row metrics relation — the batch analog of the stream's O23
    counters and the lake-scale form of the reference's write-time
    validity/self-loop/duplicate guards (O13/O33/O6)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        quality as Q,
    )

    orders = tables.load_table(spark, sf_dir, "orders")
    customer = tables.load_table(spark, sf_dir, "customer")
    lineitem = tables.load_table(spark, sf_dir, "lineitem")
    events = tables.load_table(spark, sf_dir, "events")
    documents = tables.load_table(spark, sf_dir, "documents")
    return Q.dq_audit(
        [
            Q.referential_orphan_count(
                orders, customer, "o_custkey", "c_custkey", "orders_orphans"
            ),
            Q.referential_orphan_count(
                lineitem, orders, "l_orderkey", "o_orderkey", "lineitem_orphans"
            ),
            Q.duplicate_key_count(orders, ["o_orderkey"], "orders_dup_pk"),
            Q.null_or_blank_count(events, "user_id", "events_null_user"),
            Q.null_or_blank_count(documents, "text", "docs_blank_text"),
            Q.duplicate_key_count(documents, ["text"], "docs_dup_text"),
        ]
    )


def _q_events_day_pruned(spark, sf_dir):
    """Date-partitioned layout round-trip (sources/partitioned.py): write
    events Hive-partitioned on event_date, read back, and aggregate ONE
    day — the filter prunes at the file index (PartitionFilters asserted
    in test_plans), and the result is layout-independent: a plain date
    filter over events in the oracle."""
    import datetime
    import hashlib
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources.partitioned import (
        read_partitioned,
        write_partitioned,
    )

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.pinned import (
        pinned_layout,
    )

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/sgr-part-{key}/events_by_day"
    ev = tables.load_table(spark, sf_dir, "events")
    # layout builds ONCE per process (pin lifecycle: the bench's cold
    # pass releases and repays it); serving reads the path fresh so
    # PartitionFilters pruning stays in the measured plan.
    pinned_layout(
        spark,
        ("layout_day", sf_dir),
        lambda: write_partitioned(
            ev.withColumn("event_date", F.to_date("ts")), path, "event_date"
        ),
    )
    t = read_partitioned(spark, path)
    return (
        t.filter(F.col("event_date") == F.lit(datetime.date(2024, 1, 15)))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
    )


def _q_events_user_range_pruned(spark, sf_dir):
    """Range-clustered layout round-trip (sources/clustered.py): rewrite
    events range-clustered on user_id (disjoint per-file min/max —
    footer-stats skipping for a high-cardinality column directory
    partitioning can't hold), read back, and aggregate one narrow
    user_id range. Layout-independent: the oracle is a plain filter
    over events."""
    import hashlib
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources.clustered import (
        read_range_clustered,
        write_range_clustered,
    )

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.pinned import (
        pinned_layout,
    )

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/sgr-clust-{key}/events_by_user"
    ev = tables.load_table(spark, sf_dir, "events")
    pinned_layout(
        spark,
        ("layout_range", sf_dir),
        lambda: write_range_clustered(ev, path, "user_id"),
    )
    t = read_range_clustered(spark, path)
    return (
        t.filter(F.col("user_id").between(4, 9))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
    )


def _q_events_zorder_pruned(spark, sf_dir):
    """Z-order-clustered layout round-trip (sources/zorder.py): rewrite
    events Morton-clustered on (user_id, epoch(ts)) — each file covers
    ~a square cell of the value grid, so footer min/max is tight on
    BOTH columns and a conjunctive range predicate skips on both —
    then aggregate one narrow (user range × time range) box.
    Layout-independent: the oracle is a plain filter over events."""
    import hashlib
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources.zorder import (
        read_zordered,
        write_zordered,
    )

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.pinned import (
        pinned_layout,
    )

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/sgr-zorder-{key}/events_user_ts"
    ev = tables.load_table(spark, sf_dir, "events").withColumn(
        "_ts_epoch", F.unix_timestamp("ts")
    )
    pinned_layout(
        spark,
        ("layout_zorder", sf_dir),
        lambda: write_zordered(ev, path, "user_id", "_ts_epoch", n_files=16),
    )
    t = read_zordered(spark, path)
    return (
        t.filter(
            F.col("user_id").between(10, 40)
            & F.col("ts").between("2024-01-08", "2024-01-15")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
    )


def _q_events_value_winsorized(spark, sf_dir):
    """Per-type winsorization report (operators/warehouse.py
    winsorized_stats): exact [p01, p99] bounds, clip counts, winsorized
    mean — percentile agg + broadcast-back, no raw-row window."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.winsorized_stats(tables.load_table(spark, sf_dir, "events"))


def _q_events_zscores(spark, sf_dir):
    """Per-row within-type z-scores (operators/warehouse.py
    group_zscores): two-pass moments + broadcast-back normalization at
    declared rounding edges."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.group_zscores(tables.load_table(spark, sf_dir, "events"))


def _q_orders_monthly_growth(spark, sf_dir):
    """Monthly revenue + MoM/YoY growth (operators/warehouse.py
    monthly_revenue_growth): one fact aggregate, then calendar
    self-joins on the tiny month relation — never a lag-12-rows
    window that breaks on missing months."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.monthly_revenue_growth(tables.load_table(spark, sf_dir, "orders"))


def _q_docs_tfidf_top3(spark, sf_dir):
    """Per-document TF-IDF keyword extraction (functions/text.py
    tfidf_top_terms): top-3 terms per document by tf * ln(N/df), ranked
    on the rounded score — the per-doc dual of docs_top_terms."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        pinned as PIN,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        tfidf_top_terms,
    )

    docs = tables.load_table(spark, sf_dir, "documents")
    (out,) = PIN.pinned(
        ("tfidf_top3", docs.semanticHash()),
        lambda: (tfidf_top_terms(docs, 3),),
    )
    return out


def _q_pymk_user_3_jaccard(spark, sf_dir):
    """PYMK by Jaccard neighborhood overlap (graph/linkpred.py): the
    flagship's candidate set and exclusion rule, scored by
    |N(u)∩N(c)| / |N(u)∪N(c)| over SET neighborhoods — normalizes the
    mutual-friend count by combined neighborhood size."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.linkpred import (
        jaccard_pymk,
    )

    return jaccard_pymk(tables.user_graph_edges(spark, sf_dir), 3, 10)


def _q_pymk_user_3_adamic_adar(spark, sf_dir):
    """PYMK by Adamic-Adar (graph/linkpred.py): shared friends weighted
    by 1/ln(degree) — a low-degree mutual friend is stronger evidence
    than a celebrity hub."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.linkpred import (
        adamic_adar_pymk,
    )

    return adamic_adar_pymk(tables.user_graph_edges(spark, sf_dir), 3, 10)


def _q_docs_unigram_logprob(spark, sf_dir):
    """Self-scored unigram LM fluency per document (functions/text.py
    unigram_logprob_scores): avg ln(tf/T) over the corpus's own unigram
    distribution; zero-token docs report NULL. The tf join has fan-out 1
    per occurrence because the vocabulary side is one row per token."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions import (
        text as T,
    )

    return T.unigram_logprob_scores(
        tables.load_table(spark, sf_dir, "documents")
    )


def _q_events_cube(spark, sf_dir):
    """CUBE over (event_type, hour-of-day) (operators/warehouse.py
    events_cube): all four grouping slices from ONE scan via Expand —
    the marginals-both-ways completion of lineitem_pricing_rollup."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.events_cube(tables.load_table(spark, sf_dir, "events"))


def _q_graph_pagerank_top20(spark, sf_dir):
    """PageRank top-20 (graph/rank.py): 3 damped supersteps over the
    bag-symmetrized graph, normalized rank (mean 1.0) rounded to 6dp,
    ordered by (rank_norm desc, id asc). The oracle unrolls the same 3
    rounds as CTEs; tracked checkpoints keep Spark's lineage O(1)/step.
    Served from the PINNED rank relation (r9): supersteps run once per
    corpus snapshot, the bench's cold pass re-pays them."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.rank import (
        pinned_pagerank_topk,
    )

    return pinned_pagerank_topk(tables.user_graph_edges(spark, sf_dir), 20)


def _q_dedup_containment(spark, sf_dir):
    """Directed shingle-containment pairs >= 0.7 (operators/dedup.py
    containment_pairs): the asymmetric dedup metric — a short doc quoted
    wholesale inside a long one is invisible to Jaccard but containment
    ~1.0. Shares the pinned ngram shingle index; rare-shingle candidates
    with the rare+hot intersection decomposition (no pair re-expansion)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )

    return D.containment_pairs(_aug(spark, sf_dir), threshold=0.7)


def _q_dedup_substring(spark, sf_dir):
    """Exact-substring dedup, Lee et al. 2022 style (operators/dedup.py
    duplicated_spans): maximal ≥30-char byte spans occurring at ≥2
    positions corpus-wide — the substring-level duplication mode
    (boilerplate/templates) that document-level dedup can't see. One
    window-table aggregate + one prefix-block equi-join + a per-doc
    sorted fold; no nested-loop joins (plan-pinned)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )

    return D.pinned_duplicated_spans(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_substring_dup_stats(spark, sf_dir):
    """Per-document duplicated-substring exposure (operators/dedup.py
    substring_dup_stats): n_spans, dup_chars, dup_frac — the corpus
    boilerplate-health metric over the same span relation."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )

    return D.substring_dup_stats(tables.load_table(spark, sf_dir, "documents"))


def _q_events_mad_outliers(spark, sf_dir):
    """Median/MAD modified z-scores with the Iglewicz-Hoaglin 3.5 cutoff
    (operators/warehouse.py mad_outliers): the robust companion of
    events_zscores — two tiny percentile aggregates broadcast back onto
    the scan, no window over raw rows."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.mad_outliers(tables.load_table(spark, sf_dir, "events"))


def _q_orders_retention_cohorts(spark, sf_dir):
    """Cohort-retention matrix (operators/warehouse.py retention_cohorts):
    customers by first-order month x whole-month offset, retention vs the
    offset-0 cohort size — the classic warehouse cohort report, built
    from one distinct-activity reduction of the fact."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        warehouse as W,
    )

    return W.retention_cohorts(tables.load_table(spark, sf_dir, "orders"))


def _q_events_user_cms_top10(spark, sf_dir):
    """Count-min heavy hitters (operators/sketches.py cms_heavy_hitters):
    top-10 users by exact event count with the sketch's min-over-depths
    estimate beside — fixed affine hashes over the md5 base make the
    whole d=3×w=1024 counter table bit-identical across engines, so the
    sketch pipeline is fully hash-checked (the deterministic
    counterpoint to the rows-only HLL query)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    return cms_heavy_hitters(tables.load_table(spark, sf_dir, "events"))


def _q_graph_lpa_communities(spark, sf_dir):
    """Label-propagation communities (graph/communities.py): 4
    deterministic synchronous rounds over the pinned set-symmetrized
    view — the friend-circle complement of connected components; ties
    to the smallest label so the unrolled-CTE oracle matches exactly."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.communities import (
        pinned_label_propagation,
    )

    return pinned_label_propagation(tables.user_graph_edges(spark, sf_dir))


def _q_graph_modularity_communities(spark, sf_dir):
    """Modularity local-move communities (graph/communities.py
    modularity_communities): 3 deterministic synchronous rounds of the
    Louvain phase-1 step with integer-scaled gains — the
    modularity-objective rung above LPA, immune to LPA's label-flood
    failure on densely-bridged communities (test-pinned); labels
    canonicalized to the smallest member id, unrolled-CTE twin."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.graph.communities import (
        pinned_modularity_communities,
    )

    return pinned_modularity_communities(
        tables.user_graph_edges(spark, sf_dir)
    )


def _q_docs_repetition_metrics(spark, sf_dir):
    """Gopher-style n-gram repetition quality metrics (functions/text.py
    repetition_metrics): top-bigram coverage + duplicate-trigram mass
    per document, one corpus scan, one (doc, width, gram) shuffle."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        repetition_metrics,
    )

    return repetition_metrics(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_domain_quota(spark, sf_dir):
    """Per-domain document cap (operators/quota.py domain_quota):
    C4/RefinedWeb-style domain balancing; salted two-phase top-k so a
    billion-row domain never sorts in one task."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.quota import (
        domain_quota,
    )

    return domain_quota(tables.load_table(spark, sf_dir, "documents"), cap=10)


def _q_graph_components(spark, sf_dir):
    """Connected components of the user graph
    (operators/components.py connected_components — min-label
    propagation + pointer jumping, Kiveris et al.): (id, component_id)
    for every user appearing in a knows-edge. The full-graph membership
    query every graph engine ships next to degree/counts (O34's
    family); the engine is the SAME one dedup_clusters uses, applied to
    the social graph instead of the near-dup pair graph."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.components import (
        pinned_connected_components,
    )

    e = tables.user_graph_edges(spark, sf_dir)
    return pinned_connected_components(e, a_col="src", b_col="dst").select(
        F.col("node").alias("id"),
        F.col("label").cast("long").alias("component_id"),
    )


def _q_dedup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster-size histogram (operators/dedup.py
    dedup_cluster_sizes): the corpus-health summary over the connected-
    components closure — fat tails mean template contamination."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        dedup_cluster_sizes,
    )

    return dedup_cluster_sizes(_aug(spark, sf_dir))


def _q_docs_substring_stripped(spark, sf_dir):
    """Span stripping (operators/dedup.py strip_duplicated_spans, the
    actionable half of Lee et al. exact-substring dedup): cut every
    maximal duplicated span; (doc_id, n_removed, clean_fp) with the md5
    fingerprint of the cleaned text carrying the exact value check."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        strip_duplicated_spans,
    )

    return strip_duplicated_spans(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_substring_clean_table(spark, sf_dir):
    """Materialized stripped corpus (operators/dedup.py
    write_clean_corpus): the engine WRITES the span-cleaned text as a
    table under the family swap protocol, then reads it back —
    (doc_id, n_clean_chars, clean_fp) rolls the megabyte text column
    down to a length + fingerprint so the cross-engine hash check
    stays cheap while still covering every byte of the written text."""
    import hashlib
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        write_clean_corpus,
    )

    # Stable location keyed by sf_dir (same convention as the bucketed-
    # edges query above): repeated invocations overwrite in place via the
    # swap protocol instead of orphaning a full cleaned-corpus copy per
    # run; the swap protocol already makes the in-place overwrite
    # crash-safe.
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"{tempfile.gettempdir()}/sgr-clean-{key}"
    clean = write_clean_corpus(
        tables.load_table(spark, sf_dir, "documents"), f"{base}/clean_docs"
    )
    return clean.select(
        "doc_id",
        F.length("text").cast("long").alias("n_clean_chars"),
        F.md5(F.col("text").cast("binary")).alias("clean_fp"),
    )


def _q_docs_boilerplate_grams(spark, sf_dir):
    """Per-source boilerplate dictionary (operators/dedup.py
    boilerplate_grams — CCNet's repeated-line detector with the line
    unit adapted to word 3-grams): (source, gram, n_docs) for every
    gram in ≥ 3 distinct documents of the same source."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        boilerplate_grams,
    )

    return boilerplate_grams(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_boilerplate_stripped(spark, sf_dir):
    """Boilerplate stripping (operators/dedup.py strip_boilerplate —
    the actionable half; CCNet trains on the stripped shard): drop
    every token covered by a boilerplate-gram occurrence of the doc's
    own source; (doc_id, n_removed, clean_fp) with the md5 of the
    cleaned token-rejoined text carrying the exact value check."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        strip_boilerplate,
    )

    return strip_boilerplate(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_boilerplate_stats(spark, sf_dir):
    """Per-source boilerplate exposure roll-up (operators/dedup.py
    boilerplate_stats): (source, n_boiler_grams, docs_affected,
    words_removed) — the before/after table a shard owner reads
    before committing to the strip."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        boilerplate_stats,
    )

    return boilerplate_stats(tables.load_table(spark, sf_dir, "documents"))


def _q_emb_rp_projections(spark, sf_dir):
    """JL sparse random projection (operators/similarity.py
    rp_project): 64 → 16 dims via a deterministic Achlioptas {−1,0,+1}
    matrix; (vec_id, dim, val) one row per projected coordinate so the
    hash covers every value with no float-formatting edge."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    return SIM.rp_projections(tables.load_table(spark, sf_dir, "embeddings"))


def _q_ann_rp_rerank(spark, sf_dir):
    """JL serving path (operators/similarity.py ann_rp_rerank):
    16-dim projected-cosine shortlist over the pinned projection table,
    exact rerank of the 100-candidate shortlist (RP_SHORTLIST, 2× the
    quantizer paths' 50: truncation error is unbounded where the grid
    step is not, so the projection buys recall back through a cheap
    16-flop-per-candidate scan) — the dim-reduction
    scale path beside SQ8's (bytes) and PQ's (codes)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.ann_rp_rerank(emb, oracles.ANN_QUERY_IDS, k=10)


def _q_emb_rp_sq8_codes(spark, sf_dir):
    """RP ∘ SQ8 composed code table (operators/similarity.py
    pinned_rp_sq8): quantize the 16-dim projection — 16 bytes per
    vector, a 16× scan reduction over raw float32; rolled down to
    (vec_id, code_sum, code_fp) like the plain SQ8 check."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    return SIM.emb_rp_sq8_codes(tables.load_table(spark, sf_dir, "embeddings"))


def _q_ann_rp_sq8_rerank(spark, sf_dir):
    """Composed serving path (operators/similarity.py
    ann_rp_sq8_rerank): scan the 16-byte code table, reconstruct on the
    fly, shortlist by projected cosine, exact rerank — the OPQ/IVFPQ-
    class memory-hierarchy end point of the vector tier."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.ann_rp_sq8_rerank(emb, oracles.ANN_QUERY_IDS, k=10)


def _q_split_source_balance(spark, sf_dir):
    """Split-representativeness audit (operators/quality.py
    split_source_balance): the (source × split) contingency grid —
    empty cells included — with expected counts under independence and
    chi-square contributions; the check run before trusting per-source
    dev/test numbers."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.quality import (
        split_source_balance,
    )

    return split_source_balance(tables.load_table(spark, sf_dir, "documents"))


def _q_docs_soft_dedup_weights(spark, sf_dir):
    """Duplicate-aware soft training weights (operators/dedup.py
    soft_dedup_weights): each near-dup cluster contributes one doc's
    worth of training mass — weight = 1/|cluster|, 1.0 for unclustered
    docs; the keep-the-data alternative to canonical-only dedup."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        soft_dedup_weights,
    )

    return soft_dedup_weights(_aug(spark, sf_dir))


def _q_streaming_boilerplate(spark, sf_dir):
    """Streaming boilerplate strip (streaming/boilerplate.py): the
    dictionary is trained in batch on the corpus (the pinned family
    relation), frozen, and applied to the corpus replayed in 3
    micro-batches — drained table ≡ batch strip_boilerplate (shared
    strip core; same oracle as docs_boilerplate_stripped)."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.dedup import (
        boilerplate_grams,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.boilerplate import (
        StreamingBoilerplateStrip,
    )

    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    base = _scratch("sgr-sboiler-")
    docs.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    gate = StreamingBoilerplateStrip(
        spark, f"{base}/wh", boilerplate_grams(docs)
    )
    gate.run_available_now(
        f"{base}/landing", f"{base}/ckpt", max_files_per_trigger=1
    )
    return gate.stripped()


def _q_emb_sq8_codes(spark, sf_dir):
    """SQ8 code table (operators/similarity.py sq8_codes — faiss
    QT_8bit shape): per-dim min/max grid trained on the corpus, every
    vector encoded to 64 uint8 codes (4× scan reduction vs float32);
    (vec_id, code_sum, code_fp) rolls the codes down to an exact
    integer sum + md5 so the hash covers every byte."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.sq8_codes(emb)


def _q_ann_sq8_rerank(spark, sf_dir):
    """SQ8 serving path (operators/similarity.py ann_sq8_rerank): the
    approximate scan reads only the compressed code table (on-the-fly
    reconstruction, full-precision query — asymmetric), shortlists 50,
    then exact-reranks the shortlist against raw vectors."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.ann_sq8_rerank(emb, oracles.ANN_QUERY_IDS, k=10)


def _q_docs_bpe_encode_heldout(spark, sf_dir):
    """BPE INFERENCE encode (functions/text.py bpe_encode_tokens_per_doc):
    fit the 8-merge tokenizer on the TRAIN hash-split of the corpus,
    then encode the held-out TEST split — including words never seen in
    training — by replaying the fitted merge table over raw characters.
    (doc_id, n_subwords) for every tokenized held-out document."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        bpe_encode_tokens_per_doc,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        sampling as SA,
    )

    docs = tables.load_table(spark, sf_dir, "documents")
    split = SA.hash_split(docs, "doc_id", train=0.8, dev=0.1)
    train = split.filter(F.col("split") == "train").drop("split")
    heldout = split.filter(F.col("split") == "test").drop("split")
    return bpe_encode_tokens_per_doc(train, heldout, 8)


def _q_streaming_bpe_encode(spark, sf_dir):
    """Streaming BPE inference (streaming/rollup.py StreamingBpeEncode):
    the held-out split arrives in 3 micro-batches, each encoded with
    the merge table fitted offline on the train split; drained table ≡
    the batch encode (same oracle as docs_bpe_encode_heldout)."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        fitted_bpe_merges,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        sampling as SA,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.rollup import (
        StreamingBpeEncode,
    )

    docs = tables.load_table(spark, sf_dir, "documents")
    split = SA.hash_split(docs, "doc_id", train=0.8, dev=0.1)
    train = split.filter(F.col("split") == "train").drop("split")
    heldout = split.filter(F.col("split") == "test").select("doc_id", "text")
    merges = fitted_bpe_merges(train, 8)
    base = _scratch("sgr-sbpe-")
    heldout.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    enc = StreamingBpeEncode(spark, f"{base}/wh", merges)
    enc.run_available_now(
        f"{base}/landing",
        f"{base}/ckpt",
        "doc_id long, text string",
        max_files_per_trigger=1,
    )
    return enc.table().select(
        "doc_id", F.col("value_sum").cast("long").alias("n_subwords")
    )


def _q_docs_training_manifest(spark, sf_dir):
    """The composed LLM-pipeline artifact (operators/curation.py
    training_manifest): curation gates + split over the plain corpus,
    then token-budget shard packing and sqrt-temperature source boosts
    for the train split — (doc_id, source, n_tokens, shard_id, boost),
    what a trainer's loader consumes. Pure reuse of the pinned dedup
    relations, the two-phase prefix sum, and a broadcast mixture dim;
    pinned per snapshot (r10) — a manifest is read for a whole training
    run, so the composition executes once and serves many."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.curation import (
        pinned_training_manifest,
    )

    return pinned_training_manifest(
        tables.load_table(spark, sf_dir, "documents")
    )


def _q_media_training_manifest(spark, sf_dir):
    """The image-side manifest (operators/curation.py
    media_training_manifest): aspect + feature-score gates → pHash
    dedup canonical survivors → per-source quota → byte-budget
    prefix-sum shards — the multimodal tier composed end-to-end like
    the text tier's docs_training_manifest; pinned per snapshot (the
    manifest is read for a whole training run)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.curation import (
        pinned_media_training_manifest,
    )

    return pinned_media_training_manifest(
        tables.load_table(spark, sf_dir, "documents")
    )


def _q_media_training_manifest_av(spark, sf_dir):
    """Unified video+audio manifest (operators/curation.py
    media_training_manifest_av): duration/aspect gates → per-modality
    copy closures (video = aligned re-encode ∪ offset-consistent clip
    edges over one pinned frame-hash index; audio = offset-consistent
    edges) → min-id canonical survivors → per-source quota across both
    modalities → byte shards over the unified stream — the composition
    that makes the r11 AV dedup tier consumable end-to-end. Served from
    the PINNED per-snapshot product (the image manifest's contract): a
    trainer's loader reads one manifest for an entire run, so the
    composition — gates, closures, quota, shards — executes once per
    corpus snapshot; the bench's cold pass re-pays the build."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.curation import (
        pinned_media_training_manifest_av,
    )

    return pinned_media_training_manifest_av(
        tables.load_table(spark, sf_dir, "documents")
    )


def _q_training_manifest_unified(spark, sf_dir):
    """Cross-modal unified manifest (operators/curation.py
    training_manifest_unified): text + image + video + audio unit
    streams (each modality's gated/deduped pre-quota survivors) under
    composite uid identity, ONE per-source quota spanning all
    modalities — a source at cap in one modality cannot exceed cap via
    another — and ONE byte-budget shard stream in uid order. Pure
    composition of pinned relations; quota is the salted two-phase
    top-k; shards the two-phase prefix sum. Served from the PINNED
    per-snapshot product (the image manifest's contract — build once
    per corpus snapshot, serve many; the bench's cold pass re-pays)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.curation import (
        pinned_training_manifest_unified,
    )

    return pinned_training_manifest_unified(
        tables.load_table(spark, sf_dir, "documents")
    )


def _q_docs_packed_sequences(spark, sf_dir):
    """GPT-style concat-and-split packing (operators/packing.py
    packed_sequences, L=512): each document's fixed-length-sequence
    span from the two-phase prefix sum — the provenance record
    attention masking and dedup audits need."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.packing import (
        packed_sequences,
    )

    return packed_sequences(
        tables.load_table(spark, sf_dir, "documents"), seq_len=512
    )


def _q_docs_dsir_weights(spark, sf_dir):
    """DSIR importance weights (functions/text.py dsir_weights, Xie et
    al. 2023): hashed-unigram log-likelihood ratio of each document
    under the target LM (lang 'en' subset) vs the raw-corpus LM — the
    score importance resampling selects training data by. Two constant-
    width model aggregates broadcast into one scoring join."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        pinned as PIN,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        dsir_weights,
    )

    docs = tables.load_table(spark, sf_dir, "documents")
    (out,) = PIN.pinned(
        ("dsir_weights", docs.semanticHash()),
        lambda: (dsir_weights(docs, F.col("lang") == "en"),),
    )
    return out


def _q_docs_source_mixture(spark, sf_dir):
    """Temperature-scaled source mixing weights (operators/sampling.py
    source_mixture_weights, mT5/XLM-R α-sampling with α = 1/2): one
    corpus scan to a |sources|-row relation, totals broadcast back —
    the repetition factors a corpus sampler applies per source."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.sampling import (
        source_mixture_weights,
    )

    return source_mixture_weights(tables.load_table(spark, sf_dir, "documents"))


def _q_events_stratified_sample(spark, sf_dir):
    """Exact proportional stratified sample (operators/quota.py
    stratified_sample): floor(0.1·n_s) rows per event_type, md5
    preference order, allocation via broadcast."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.quota import (
        stratified_sample,
    )

    return stratified_sample(tables.load_table(spark, sf_dir, "events"), 0.1)


def _q_lineitem_bloom_pruned(spark, sf_dir):
    """Bloom-pruned semi-join (operators/bloomjoin.py): fact scan
    pre-filtered by a 2^18-bit key bloom built from the selective order
    side, then the exact semi-join — result identical to the plain
    join (the oracle), shuffle sized by selectivity instead of |fact|."""
    from pyspark.sql import functions as F

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.bloomjoin import (
        bloom_pruned_semi_join,
    )

    li = tables.load_table(spark, sf_dir, "lineitem")
    orders = tables.load_table(spark, sf_dir, "orders")
    dim = orders.filter(F.col("o_totalprice") > 480000.0).select("o_orderkey")
    return (
        bloom_pruned_semi_join(li, "l_orderkey", dim, "o_orderkey")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
        )
    )


def _q_docs_lm_buckets(spark, sf_dir):
    """CCNet-style LM-fluency terciles (functions/text.py lm_buckets):
    NTILE(3) over the unigram-LM score, computed from the two-phase
    distributed global rank — no single-partition window."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        lm_buckets,
    )

    return lm_buckets(tables.load_table(spark, sf_dir, "documents"), k=3)


def _q_events_scd2_join(spark, sf_dir):
    """Temporal dimension join (operators/asof.py over operators/scd.py):
    every purchase event joined to the SCD2 status run (runs of
    signup/error per user) in effect at its timestamp — the classic
    fact-to-SCD2 validity lookup, executed as a ONE-shuffle as-of join
    instead of an inequality range join. Dim rows deduped to one run
    per (user, valid_from) (latest event wins) so the match is unique
    in both engines."""
    from pyspark.sql import Window

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.asof import (
        asof_join,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.scd import (
        scd2_history,
    )

    ev = tables.load_table(spark, sf_dir, "events")
    dim_src = ev.filter(F.col("event_type").isin("signup", "error"))
    runs = scd2_history(dim_src, ["user_id"], "ts", ["event_id"], "event_type")
    w = Window.partitionBy("user_id", "valid_from").orderBy(
        F.col("event_id").desc()
    )
    dim = (
        runs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "valid_from",
            F.col("event_type").alias("status_type"),
            F.col("event_id").alias("status_event_id"),
        )
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        facts,
        dim,
        ["user_id"],
        "ts",
        "valid_from",
        value_cols=["status_type", "status_event_id"],
        tie_break="status_event_id",
    )
    return out.filter(F.col("asof_status_type").isNotNull()).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("asof_status_type").alias("status_type"),
        F.col("asof_status_event_id").alias("status_event_id"),
    )


def _q_streaming_domain_quota(spark, sf_dir):
    """Incremental domain quota (streaming/quota.py): the per-domain
    kept-set maintained across micro-batches with state bounded by
    |domains|·cap forever; drained ≡ batch domain_quota (shared
    oracle). Replay-safe via the swapped _applied_batch_id marker."""
    import tempfile

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.quota import (
        StreamingQuotaAccumulator,
    )

    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    base = _scratch("sgr-squota-")
    docs.repartition(3).write.mode("overwrite").parquet(f"{base}/landing")
    acc = StreamingQuotaAccumulator(spark, f"{base}/wh", cap=10)
    acc.run_available_now(
        f"{base}/landing",
        f"{base}/ckpt",
        "doc_id long, source string",
        max_files_per_trigger=1,
    )
    return acc.kept()


def _q_ann_pq(spark, sf_dir):
    """Product-quantization ANN by asymmetric distance
    (operators/similarity.py ann_pq): 4×16-dim deterministic
    sub-codebooks, vectors as 4 codes, query scoring = broadcast
    distance-table lookups + exact integer micro-unit sums — the
    compressed-index scale path beside IVF and sign-LSH."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.ann_pq(emb, oracles.ANN_QUERY_IDS, k=10)


def _q_ann_pq_rerank(spark, sf_dir):
    """The PQ serving path (operators/similarity.py ann_pq_rerank):
    ADC shortlist of 100 by codes alone, exact cosine only over the
    shortlist — output-sized query work, recall measured and pinned in
    test_round7_ops."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        similarity as SIM,
    )

    emb = tables.load_table(spark, sf_dir, "embeddings")
    return SIM.ann_pq_rerank(emb, oracles.ANN_QUERY_IDS, k=10)


def _q_docs_token_entropy(spark, sf_dir):
    """Token-distribution entropy (functions/text.py token_entropy):
    H = ln(n) − Σ c·ln c / n in ONE per-doc aggregate — the
    information-density quality gate beside the positional
    repetition_metrics view."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.functions.text import (
        token_entropy,
    )

    return token_entropy(tables.load_table(spark, sf_dir, "documents"))


def _q_events_value_deciles(spark, sf_dir):
    """Exact distributed deciles (operators/ranking.py exact_quantiles):
    the value at sorted position ceil(q·n/10) for q = 1..9 — exact
    where approxQuantile is approximate, with no global-order window
    and no driver-side data (two-phase range-partitioned rank)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.ranking import (
        exact_quantiles,
    )

    return exact_quantiles(
        tables.load_table(spark, sf_dir, "events"), "value", k=10
    )


def _driver_evidence() -> dict[str, int]:
    """Last driver-green round per query, parsed from the committed
    CORRECTNESS_r*.json files that live next to this file.

    Green = rows+schema match, hash not failed, no error recorded.
    Missing or unreadable files contribute no evidence, so the ordering
    stays deterministic for any checkout."""
    import json
    import re as _re
    from pathlib import Path

    here = Path(__file__).resolve().parent
    last: dict[str, int] = {}
    for path in sorted(here.glob("CORRECTNESS_r*.json")):
        m = _re.search(r"r0*(\d+)", path.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        for name, v in rows.items():
            if not isinstance(v, dict):
                continue
            green = (
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match") is not False
                and not v.get("err")
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)
    return last


_FLAGSHIP = "pymk_user_3"


def _rotate(
    registry: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Least-evidence-first ordering, automated (VERDICT r5 items 1-2).

    The driver hash-verifies only the FIRST 50 registry entries each
    round, so ordering IS the rotation policy: queries with no driver
    row ever lead, then the flagship pymk_user_3 (pinned into the window
    every round — the flagship should never be the query without a
    driver row), then everything else by ascending last-driver-green
    round. Ties keep canonical registration order. The same evidence map
    drives COVERAGE.md's rotation table (tools/rotation_report.py)."""
    evidence = _driver_evidence()
    # Declared rows-only entries (no DuckDB twin BY NATURE — e.g. the
    # HLL sketch whose binary registers have no SQL equivalent) can
    # never turn hash-green, so never-green = 0 would pin them to the
    # window HEAD forever, burning one of the driver's 50 hash-checkable
    # slots every round. Sort them to the registry TAIL instead: every
    # window slot stays a verifiable check.
    checkable = set(oracles.ORACLES)

    def sort_key(item: tuple[int, str]) -> tuple[float, int]:
        idx, name = item
        if name not in checkable:
            return (float("inf"), idx)
        rnd = float(evidence.get(name, 0))
        if name == _FLAGSHIP and rnd:
            rnd = 0.5
        return (rnd, idx)

    ordered = sorted(enumerate(registry), key=sort_key)
    return {name: registry[name] for _, name in ordered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Canonical registry (insertion order = tie-break order); the
    returned dict is reordered least-evidence-first by ``_rotate`` so
    the driver's 50-entry correctness window always checks the queries
    with the stalest driver evidence."""
    registry = {
        "graph_pagerank_top20": _q_graph_pagerank_top20,
        "pymk_user_3_ppr": _q_pymk_user_3_ppr,
        "pymk_user_3_jaccard": _q_pymk_user_3_jaccard,
        "pymk_user_3_adamic_adar": _q_pymk_user_3_adamic_adar,
        "docs_tfidf_top3": _q_docs_tfidf_top3,
        "streaming_session_stats": _q_streaming_session_stats,
        "orders_topk_revenue": _q_orders_topk_revenue,
        "events_value_histogram": _q_events_value_histogram,
        "docs_unigram_logprob": _q_docs_unigram_logprob,
        "events_cube": _q_events_cube,
        "graph_triangles": _q_graph_triangles,
        "status_history_scd2": _q_status_history_scd2,
        "split_contamination": _q_split_contamination,
        "split_decontaminated_train": _q_split_decontaminated_train,
        "docs_top_terms": _q_docs_top_terms,
        "events_transitions": _q_events_transitions,
        "events_asof_last_click": _q_events_asof_last_click,
        "events_error_click_pairs_5m": _q_events_error_click_pairs_5m,
        "lineitem_pricing_rollup": _q_lineitem_pricing_rollup,
        "events_value_percentiles": _q_events_value_percentiles,
        "streaming_error_click_pairs": _q_streaming_error_click_pairs,
        "streaming_search_bizcards": _q_streaming_search_bizcards,
        "streaming_dedup_minhash": _q_streaming_dedup_minhash,
        "streaming_ann_ivf": _q_streaming_ann_ivf,
        "graph_degrees_bucketed": _q_graph_degrees_bucketed,
        "search_bizcards": _q_search_bizcards,
        "search_documents": _q_search_documents,
        "search_bizcards_envelope": _q_search_bizcards_envelope,
        "search_bizcards_owner": _q_search_bizcards_owner,
        "search_bizcards_user_only": _q_search_bizcards_user_only,
        "status_latest": _q_status_latest,
        "graph_edges": _q_graph_edges,
        "session_stats": _q_session_stats,
        "streaming_status": _q_streaming_status,
        "streaming_status_machine": _q_streaming_status_machine,
        "docs_token_shards": _q_docs_token_shards,
        "dedup_clusters": _q_dedup_clusters,
        "graph_shortest_paths": _q_graph_shortest_paths,
        "text_language_id": _q_text_language_id,
        "text_token_counts": _q_text_token_counts,
        "bizcard_parse": _q_bizcard_parse,
        "bizcards": _q_bizcards,
        "bizcard_vertices": _q_bizcard_vertices,
        "bizcard_edges": _q_bizcard_edges,
        "bizcard_content_dedup": _q_bizcard_content_dedup,
        "url_decoded_keys": _q_url_decoded_keys,
        "kinesis_partition_keys": _q_kinesis_partition_keys,
        "graph_vertices": _q_graph_vertices,
        "graph_counts": _q_graph_counts,
        "docs_hash_sample": _q_docs_hash_sample,
        "events_day_pruned": _q_events_day_pruned,
        "dq_audit_core": _q_dq_audit_core,
        "pymk_user_3": _q_pymk_user_3,
        "events_sessionized": _q_events_sessionized,
        "streaming_event_windows": _q_streaming_event_windows,
        "customer_running_totals": _q_customer_running_totals,
        "part_cheapest_supplier": _q_part_cheapest_supplier,
        "events_trailing_24h": _q_events_trailing_24h,
        "bizcard_pii_redacted": _q_bizcard_pii_redacted,
        "streaming_enriched_segments": _q_streaming_enriched_segments,
        "docs_chunks": _q_docs_chunks,
        "docs_chunks_sliding": _q_docs_chunks_sliding,
        "docs_chunk_dupes": _q_docs_chunk_dupes,
        "chunks_ann_topk": _q_chunks_ann_topk,
        "chunks_ann_lsh": _q_chunks_ann_lsh,
        "user_event_pivot": _q_user_event_pivot,
        "customer_spend_quartiles": _q_customer_spend_quartiles,
        "graph_kcore_72": _q_graph_kcore_72,
        "salted_enriched_segments": _q_salted_enriched_segments,
        "lineitem_revenue_forecast": _q_lineitem_revenue_forecast,
        "orders_with_returns_by_priority": _q_orders_with_returns_by_priority,
        "events_funnel": _q_events_funnel,
        "docs_collocations_top20": _q_docs_collocations_top20,
        "graph_degree_distribution": _q_graph_degree_distribution,
        "graph_landmark_distances": _q_graph_landmark_distances,
        "ann_lsh": _q_ann_lsh,
        "graph_degrees": _q_graph_degrees,
        "one_hop_paths": _q_one_hop_paths,
        "search_documents_count": _q_search_documents_count,
        "pymk_all_top5": _q_pymk_all_top5,
        "pymk_user_3_hydrated": _q_pymk_user_3_hydrated,
        "pymk_bizcard_hydrated": _q_pymk_bizcard_hydrated,
        "streaming_bizcards": _q_streaming_bizcards,
        "archive_replay": _q_archive_replay,
        "album_replay": _q_album_replay,
        "streaming_dedup": _q_streaming_dedup,
        "text_quality": _q_text_quality,
        "text_fingerprint": _q_text_fingerprint,
        "dedup_exact": _q_dedup_exact,
        "corpus_curation": _q_corpus_curation,
        "salted_distinct_degrees": _q_salted_distinct_degrees,
        "lineitem_pricing_summary": _q_lineitem_pricing_summary,
        "region_revenue": _q_region_revenue,
        "docs_split_counts": _q_docs_split_counts,
        "customers_balanced_sample": _q_customers_balanced_sample,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_ngram_pairs": _q_dedup_ngram_pairs,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_simhash_pairs": _q_dedup_simhash_pairs,
        "dedup_embedding": _q_dedup_embedding,
        "media_decode": _q_media_decode,
        "media_resize_decode": _q_media_resize_decode,
        "media_frame_sample": _q_media_frame_sample,
        "media_features": _q_media_features,
        "media_phash": _q_media_phash,
        "dedup_media_phash": _q_dedup_media_phash,
        "media_dup_clusters": _q_media_dup_clusters,
        "streaming_media_phash": _q_streaming_media_phash,
        "streaming_video_phash": _q_streaming_video_phash,
        "streaming_video_clips": _q_streaming_video_clips,
        "streaming_audio_pairs": _q_streaming_audio_pairs,
        "media_video_frame_phash": _q_media_video_frame_phash,
        "dedup_video_pairs": _q_dedup_video_pairs,
        "dedup_video_clip_pairs": _q_dedup_video_clip_pairs,
        "media_audio_fingerprints": _q_media_audio_fingerprints,
        "dedup_audio_pairs": _q_dedup_audio_pairs,
        "ann_bruteforce": _q_ann_bruteforce,
        "ann_ivf": _q_ann_ivf,
        "emb_knn_graph": _q_emb_knn_graph,
        "emb_knn_refined": _q_emb_knn_refined,
        "emb_knn_refined2": _q_emb_knn_refined2,
        "emb_knn_refined_hi": _q_emb_knn_refined_hi,
        "emb_diversity_prune": _q_emb_diversity_prune,
        "ann_ivf_probe2": _q_ann_ivf_probe2,
        "kmeans_assign": _q_kmeans_assign,
        "vertex_lookup": _q_vertex_lookup,
        "edge_exists_first": _q_edge_exists_first,
        "dedup_editdistance": _q_dedup_editdistance,
        "docs_weighted_sample": _q_docs_weighted_sample,
        "events_wau": _q_events_wau,
        "events_funnel_users": _q_events_funnel_users,
        "events_user_range_pruned": _q_events_user_range_pruned,
        "graph_closeness_landmarks": _q_graph_closeness_landmarks,
        "events_value_winsorized": _q_events_value_winsorized,
        "events_zscores": _q_events_zscores,
        "orders_monthly_growth": _q_orders_monthly_growth,
        "streaming_error_click_left": _q_streaming_error_click_left,
        "events_monthly_users_hll": _q_events_monthly_users_hll,
        "events_monthly_users_exact": _q_events_monthly_users_exact,
        "dedup_containment": _q_dedup_containment,
        "dedup_substring": _q_dedup_substring,
        "docs_substring_dup_stats": _q_docs_substring_dup_stats,
        "events_mad_outliers": _q_events_mad_outliers,
        "orders_retention_cohorts": _q_orders_retention_cohorts,
        "graph_lpa_communities": _q_graph_lpa_communities,
        "graph_modularity_communities": _q_graph_modularity_communities,
        "events_user_cms_top10": _q_events_user_cms_top10,
        "events_zorder_pruned": _q_events_zorder_pruned,
        "docs_repetition_metrics": _q_docs_repetition_metrics,
        "docs_domain_quota": _q_docs_domain_quota,
        "graph_components": _q_graph_components,
        "dedup_cluster_sizes": _q_dedup_cluster_sizes,
        "docs_substring_stripped": _q_docs_substring_stripped,
        "docs_training_manifest": _q_docs_training_manifest,
        "media_training_manifest": _q_media_training_manifest,
        "media_training_manifest_av": _q_media_training_manifest_av,
        "training_manifest_unified": _q_training_manifest_unified,
        "docs_packed_sequences": _q_docs_packed_sequences,
        "docs_dsir_weights": _q_docs_dsir_weights,
        "docs_source_mixture": _q_docs_source_mixture,
        "events_stratified_sample": _q_events_stratified_sample,
        "lineitem_bloom_pruned": _q_lineitem_bloom_pruned,
        "docs_lm_buckets": _q_docs_lm_buckets,
        "events_scd2_join": _q_events_scd2_join,
        "events_value_deciles": _q_events_value_deciles,
        "docs_token_entropy": _q_docs_token_entropy,
        "ann_pq": _q_ann_pq,
        "ann_pq_rerank": _q_ann_pq_rerank,
        "streaming_domain_quota": _q_streaming_domain_quota,
        "graph_harmonic_landmarks": _q_graph_harmonic_landmarks,
        "orders_revenue_ses": _q_orders_revenue_ses,
        "streaming_monthly_revenue": _q_streaming_monthly_revenue,
        "orders_priority_revenue_ses": _q_orders_priority_revenue_ses,
        "events_value_p95_bucketed": _q_events_value_p95_bucketed,
        "graph_weighted_paths": _q_graph_weighted_paths,
        "docs_bpe_merge_candidates": _q_docs_bpe_merge_candidates,
        "docs_bpe_vocab_k8": _q_docs_bpe_vocab_k8,
        "streaming_bpe_pairs": _q_streaming_bpe_pairs,
        "docs_bpe_subword_counts": _q_docs_bpe_subword_counts,
        "docs_bpe_tokens_per_doc": _q_docs_bpe_tokens_per_doc,
        "docs_hashed_features": _q_docs_hashed_features,
        "orders_snapshot_changes": _q_orders_snapshot_changes,
        "graph_negative_samples": _q_graph_negative_samples,
        "graph_walks": _q_graph_walks,
        "graph_skipgram_pairs": _q_graph_skipgram_pairs,
        "sessions_status_overlap": _q_sessions_status_overlap,
        "nation_trade_volume": _q_nation_trade_volume,
        "docs_substring_clean_table": _q_docs_substring_clean_table,
        "docs_bpe_encode_heldout": _q_docs_bpe_encode_heldout,
        "streaming_bpe_encode": _q_streaming_bpe_encode,
        "split_neardup_contamination": _q_split_neardup_contamination,
        "docs_unigram_vocab": _q_docs_unigram_vocab,
        "docs_unigram_encode": _q_docs_unigram_encode,
        "docs_quality_classifier": _q_docs_quality_classifier,
        "dedup_semantic": _q_dedup_semantic,
        "docs_unigram_encode_heldout": _q_docs_unigram_encode_heldout,
        "docs_bigram_logprob": _q_docs_bigram_logprob,
        "docs_trigram_logprob": _q_docs_trigram_logprob,
        "docs_kn_logprob": _q_docs_kn_logprob,
        "streaming_quality_gate": _q_streaming_quality_gate,
        "docs_boilerplate_grams": _q_docs_boilerplate_grams,
        "docs_boilerplate_stripped": _q_docs_boilerplate_stripped,
        "docs_boilerplate_stats": _q_docs_boilerplate_stats,
        "emb_sq8_codes": _q_emb_sq8_codes,
        "ann_sq8_rerank": _q_ann_sq8_rerank,
        "docs_soft_dedup_weights": _q_docs_soft_dedup_weights,
        "streaming_boilerplate": _q_streaming_boilerplate,
        "split_source_balance": _q_split_source_balance,
        "emb_rp_projections": _q_emb_rp_projections,
        "ann_rp_rerank": _q_ann_rp_rerank,
        "emb_rp_sq8_codes": _q_emb_rp_sq8_codes,
        "ann_rp_sq8_rerank": _q_ann_rp_sq8_rerank,
    }
    return _rotate(registry)


def oracle_sql() -> dict[str, str]:
    return dict(oracles.ORACLES)
