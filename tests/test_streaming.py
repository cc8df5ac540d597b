"""Streaming wrapper tests (SURVEY §7 Phase 4): the streaming pipeline
must produce byte-identical tables to the batch operators on the same
records, stay idempotent under replay, and honor the archive layout."""

from __future__ import annotations

import base64
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
    ingest as batch_ingest,
)
from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources import (
    tables,
)
from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming import (
    IngestPipeline,
    KeyedParquetTable,
    decode_kinesis_records,
)

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("landing"))
    recs = tables.bizcard_text_records(spark, SF_DIR)
    # 3 json files → 3 micro-batches with maxFilesPerTrigger=1
    recs.repartition(3).write.mode("overwrite").json(d)
    return d


def test_streaming_matches_batch(spark, landing, tmp_path):
    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    pipe = IngestPipeline(spark, wh)
    pipe.run_available_now(landing, ckpt, max_files_per_trigger=1)
    assert len(pipe.metrics) >= 2, "expected multiple micro-batches"

    # O23: observed reads/writes/invalid/errors ride the batch plan
    # (df.observe, reference counter names) — totals must reconcile with
    # the input record count, with zero extra counting jobs.
    n_recs = tables.bizcard_text_records(spark, SF_DIR).count()
    assert all(
        set(m) == {"batch_id", "reads", "writes", "invalid", "errors"}
        for m in pipe.metrics
    )
    assert sum(m["reads"] for m in pipe.metrics) == n_recs
    assert sum(m["errors"] for m in pipe.metrics) == 0
    assert all(
        m["reads"] == m["writes"] + m["invalid"] for m in pipe.metrics
    )

    recs = tables.bizcard_text_records(spark, SF_DIR)
    parsed = batch_ingest.parse_bizcard_text(recs)
    want_bizcards = batch_ingest.bizcards_from_text(parsed)
    got_bizcards = pipe.bizcards.read().drop("image_id_join", "s3_key")
    cols = sorted(want_bizcards.columns)
    assert _rows(got_bizcards.select(*cols), cols) == _rows(want_bizcards, cols)

    want_v, want_e = batch_ingest.graph_from_text(parsed)
    vcols = sorted(want_v.columns)
    assert _rows(pipe.vertices.read().select(*vcols), vcols) == _rows(want_v, vcols)
    assert _rows(pipe.edges.read(), None) == _rows(want_e, None)

    # O7: one END row per image, mts derived from created_at
    status = pipe.status.read()
    assert status.filter(F.col("status") != "END").count() == 0
    assert status.count() == recs.count()
    assert status.select("mts").distinct().collect()[0][0] == "20240101000000"

    # O6 consumer side: the per-batch-maintained search index serves the
    # same hits as a from-scratch search over the converged LWW table
    # (upsert_bizcard_to_es keeps the index es_search_bizcard reads).
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        search as S,
    )

    got_hits = [
        (r["doc_id"], r["owner"], r["score"])
        for r in pipe.search_index.search("trading", limit=5).collect()
    ]
    want_hits = [
        (r["doc_id"], r["owner"], r["score"])
        for r in S.search_bizcards(want_bizcards, "trading", limit=5).collect()
    ]
    assert got_hits == want_hits and len(got_hits) > 0


def test_streaming_observed_invalid_counter(spark, tmp_path):
    """A record that fails the O13 validity filter (empty s3_key → empty
    derived owner) must count as invalid, not written — the reference's
    `invalid` counter (upsert_bizcard_to_es.py:62-64)."""
    recs = tables.bizcard_text_records(spark, SF_DIR).limit(3)
    bad = recs.limit(1).withColumn("s3_key", F.lit(""))
    landing2 = str(tmp_path / "landing")
    recs.unionByName(bad).coalesce(1).write.mode("overwrite").json(landing2)

    pipe = IngestPipeline(spark, str(tmp_path / "wh"))
    pipe.run_available_now(landing2, str(tmp_path / "ckpt"))
    assert sum(m["reads"] for m in pipe.metrics) == 4
    assert sum(m["invalid"] for m in pipe.metrics) == 1
    assert sum(m["writes"] for m in pipe.metrics) == 3
    assert sum(m["errors"] for m in pipe.metrics) == 0


def test_streaming_replay_is_idempotent(spark, landing, tmp_path):
    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    pipe = IngestPipeline(spark, wh)
    pipe.run_available_now(landing, ckpt)
    before = _rows(pipe.bizcards.read())
    snap_before = pipe.bizcards.current_snapshot()

    # same checkpoint: no new data → no new batches, state unchanged
    pipe2 = IngestPipeline(spark, wh)
    pipe2.run_available_now(landing, ckpt)
    assert pipe2.bizcards.current_snapshot() == snap_before

    # fresh checkpoint: full replay of every record → merge converges
    pipe3 = IngestPipeline(spark, wh)
    pipe3.run_available_now(landing, str(tmp_path / "ckpt2"))
    assert _rows(pipe3.bizcards.read()) == before
    assert _rows(pipe3.edges.read()) == _rows(pipe.edges.read())


def test_streaming_late_update_wins(spark, landing, tmp_path):
    wh = str(tmp_path / "wh")
    pipe = IngestPipeline(spark, wh)
    pipe.run_available_now(landing, str(tmp_path / "ckpt"))
    key = pipe.bizcards.read().select("doc_id", "image_id").first()

    # a re-scan of the same image arrives later with a newer created_at
    upd = IngestPipeline(spark, wh, created_at="2024-06-01T00:00:00Z")
    one = (
        tables.bizcard_text_records(spark, SF_DIR)
        .filter(F.element_at(F.split(F.col("s3_key"), "/"), -1) == key.image_id)
        .withColumn("lines", F.concat(F.array(F.lit("Updated Co")), F.slice(F.col("lines"), 2, 10)))
    )
    landing2 = str(tmp_path / "landing2")
    one.coalesce(1).write.mode("overwrite").json(landing2)
    upd.run_available_now(landing2, str(tmp_path / "ckpt2"))

    row = pipe.bizcards.read().filter(F.col("doc_id") == key.doc_id).collect()
    assert len(row) == 1
    assert row[0].company == "Updated Co"
    assert row[0].created_at == "2024-06-01T00:00:00Z"


def _index_matches_rebuild(pipe, queries):
    """The incremental index serves what a from-scratch search over the
    pipeline's own bizcards table serves."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        pinned as PIN,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        search as S,
    )

    cards = pipe.bizcards.read().drop("s3_key")
    for q in queries:
        got = _rows(pipe.search_index.search(q, limit=100))
        want = _rows(S.search_bizcards(cards, q, limit=100))
        assert got == want and got, q
    PIN.release_all()


def test_streaming_reupload_same_created_at_overwrites(spark, tmp_path):
    """A re-upload of an image in a later batch carries the pipeline's
    same fixed ``created_at``: it ties the stored row on the merge order
    and must still overwrite it — in ``bizcards`` and ``vertices`` as in
    the search index (ES ``_id`` / Neptune property overwrite)."""
    recs = tables.bizcard_text_records(spark, SF_DIR).orderBy("s3_key").limit(40)
    reup = recs.withColumn(
        "lines",
        F.concat(
            F.slice("lines", 1, 2), F.array(F.lit("Director")), F.slice("lines", 4, 100)
        ),
    )
    pipe = IngestPipeline(spark, str(tmp_path / "wh"))
    pipe.process_batch(recs, 0)
    pipe.process_batch(reup, 1)

    cards = pipe.bizcards.read()
    assert cards.count() == 40
    assert cards.filter(F.col("job_title") != "Director").count() == 0
    ids = batch_ingest.person_rows(batch_ingest.parse_bizcard_text(reup)).select("id")
    verts = pipe.vertices.read().join(ids.distinct(), "id")
    assert verts.count() > 0
    assert verts.filter(F.col("job_title") != "Director").count() == 0
    _index_matches_rebuild(pipe, ["director", "trading"])


def test_streaming_duplicate_upload_in_one_batch(spark, tmp_path):
    """Two uploads of the same image in one micro-batch index ONE
    document: no duplicated postings or length norms, and the index
    scores like a from-scratch index over the bizcards table."""
    recs = tables.bizcard_text_records(spark, SF_DIR).orderBy("s3_key").limit(2)
    again = recs.limit(1).withColumn(
        "lines",
        F.concat(
            F.slice("lines", 1, 2), F.array(F.lit("Engineer")), F.slice("lines", 4, 100)
        ),
    )
    pipe = IngestPipeline(spark, str(tmp_path / "wh"))
    pipe.process_batch(recs.unionByName(again), 0)

    assert pipe.bizcards.read().count() == 2
    doclen = pipe.search_index.doclen.read()
    assert doclen.select("id").distinct().count() == 2
    assert doclen.count() == doclen.select("id", "field").distinct().count()
    assert pipe.search_index.postings.read().count() == (
        pipe.search_index.postings.read().select("id", "field", "tok").distinct().count()
    )
    _index_matches_rebuild(pipe, [None, "trading"])


def test_archive_layout(spark, landing, tmp_path):
    wh = str(tmp_path / "wh")
    pipe = IngestPipeline(spark, wh)
    pipe.run_available_now(landing, str(tmp_path / "ckpt"))
    gz = glob.glob(
        os.path.join(wh, "archive", "batch=*", "year=2024", "month=01",
                     "day=01", "hour=00", "*.json.gz")
    )
    assert gz, "expected gzip json archive under the hive time layout"
    arch = spark.read.json(os.path.join(wh, "archive"))
    assert arch.count() == tables.bizcard_text_records(spark, SF_DIR).count()

    album = spark.read.parquet(os.path.join(wh, "album", "batch=0"))
    assert "owner" in album.columns and album.count() > 0


def test_decode_kinesis_records(spark):
    good = {"s3_bucket": "b", "s3_key": "bizcard-raw-img/edy_a.jpg",
            "lines": ["ACME", "Edy A", "CEO"]}
    rows = [
        (base64.b64encode(json.dumps(good).encode()).decode(),),
        (base64.b64encode(b"not json at all").decode(),),
        (base64.b64encode(json.dumps({"s3_bucket": "b", "s3_key": ""}).encode()).decode(),),
    ]
    records = spark.createDataFrame(rows, ["data"])
    valid, invalid = decode_kinesis_records(records)
    got = valid.collect()
    assert len(got) == 1 and got[0].s3_key == "bizcard-raw-img/edy_a.jpg"
    assert got[0].lines == ["ACME", "Edy A", "CEO"]
    assert invalid.count() == 2


def test_streaming_dedup_first_arrival_wins(spark, tmp_path):
    """Streaming exact dedup: duplicates across micro-batches collapse to
    one emission (state spans batches within the watermark); the emitted
    hash set equals batch DISTINCT; a checkpointed replay emits nothing
    new."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.dedup import (
        StreamingDeduper,
    )

    rows = [
        (1, "alpha text", "2024-01-01 00:00:00"),
        (2, "beta text", "2024-01-01 00:01:00"),
        (3, "alpha text", "2024-01-01 00:02:00"),  # dup of 1
        (4, "gamma text", "2024-01-01 00:03:00"),
        (5, "beta text", "2024-01-01 00:04:00"),   # dup of 2
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "raw_ts"]).select(
        "doc_id", "text", F.to_timestamp(F.col("raw_ts")).alias("ts")
    )
    landing = str(tmp_path / "landing")
    df.repartition(3).write.mode("overwrite").parquet(landing)

    d = StreamingDeduper(spark, str(tmp_path / "wh"))
    d.run_available_now(landing, str(tmp_path / "ckpt"))
    got = d.survivors().collect()
    assert len(got) == 3
    assert {r["text_hash"] for r in got} == {
        r[0] for r in df.select(F.md5(F.col("text").cast("binary"))).distinct().collect()
    }

    # replay against the same checkpoint: no new emissions
    d.run_available_now(landing, str(tmp_path / "ckpt"))
    assert d.survivors().count() == 3


def test_streaming_neardup_converges_to_batch_lsh(spark, tmp_path):
    """Incremental MinHash-LSH: a drained multi-batch stream must produce
    EXACTLY the batch operator's verified pair set — candidate discovery
    is incremental (each pair found when its later member arrives), so
    the converged union equals the full banding self-join."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources import (
        tables,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.neardup import (
        StreamingNearDeduper,
    )

    corpus = D.aug_corpus(
        tables.load_table(spark, "/root/testdata/sf0.001", "documents")
    )
    landing = str(tmp_path / "landing")
    corpus.withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    ).select("doc_id", "text", "ts").repartition(4).write.mode(
        "overwrite"
    ).parquet(landing)

    d = StreamingNearDeduper(spark, str(tmp_path / "wh"))
    # one file per trigger → 4 micro-batches: cross-batch pairs are real
    d.run_available_now(
        landing, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )

    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in d.near_dup_pairs(0.5).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.dedup_minhash_lsh(corpus, 0.5).collect()
    }
    assert got == want and want, "converged stream must equal batch LSH"

    # checkpointed replay: no index growth, identical pairs
    n_index = spark.read.parquet(d.index_dir).count()
    d.run_available_now(
        landing, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    assert spark.read.parquet(d.index_dir).count() == n_index
    got2 = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in d.near_dup_pairs(0.5).collect()
    }
    assert got2 == want


def test_streaming_neardup_empty_stream_serves_empty(spark, tmp_path):
    """A drained-but-empty stream (no files ever landed) must serve the
    empty pair relation with the standard schema, not crash on missing
    state tables."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.neardup import (
        StreamingNearDeduper,
    )

    landing = str(tmp_path / "landing")
    import os

    os.makedirs(landing)
    d = StreamingNearDeduper(spark, str(tmp_path / "wh"))
    d.run_available_now(landing, str(tmp_path / "ckpt"))
    out = d.near_dup_pairs(0.5)
    assert out.columns == ["doc_a", "doc_b", "jaccard"]
    assert out.count() == 0


def test_kinesis_shard_distribution(spark):
    """O2 producer semantics: the 'part-%05d' key covers 1..1024, is
    deterministic per record key, and the sink path hash-distributes by
    it (put_records' shard fan-out as an exchange on partition_key)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        plans as PL,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.ingest import (
        distribute_to_shards,
        kinesis_partition_key,
    )

    recs = tables.bizcard_text_records(spark, SF_DIR)
    keyed = recs.select(
        "s3_key", kinesis_partition_key(F.col("s3_key")).alias("pk")
    )
    rows = keyed.collect()
    assert all(
        r.pk.startswith("part-") and 1 <= int(r.pk[5:]) <= 1024 for r in rows
    )
    # deterministic: same input → same shard on a second evaluation
    assert rows == keyed.collect()
    # spread: 15 distinct keys should not collapse onto one shard
    assert len({r.pk for r in rows}) > 1

    sharded = distribute_to_shards(recs, "s3_key", shards=1024, tasks=8)
    plan = PL.physical_plan(sharded)
    assert "hashpartitioning(partition_key" in plan, plan


def test_keyed_table_merge_semantics(spark, tmp_path):
    t = KeyedParquetTable(spark, str(tmp_path / "t"), keys=["k"], order_by=["v"])
    assert t.read() is None
    t.merge(spark.createDataFrame([("a", 1), ("b", 1)], ["k", "v"]))
    t.merge(spark.createDataFrame([("a", 2), ("c", 1)], ["k", "v"]))
    assert _rows(t.read()) == [("a", 2), ("b", 1), ("c", 1)]
    # replaying an old batch can't regress the newer value
    t.merge(spark.createDataFrame([("a", 1)], ["k", "v"]))
    assert _rows(t.read()) == [("a", 2), ("b", 1), ("c", 1)]
    # snapshots GC'd down to keep_snapshots
    snaps = [d for d in os.listdir(str(tmp_path / "t")) if d.startswith("snap-")]
    assert len(snaps) <= 2


def test_archive_read_partition_pruning(spark, landing, tmp_path):
    """O4 read path: a time predicate must prune to partition filters,
    not scan-and-filter — the point of the Firehose time layout."""
    import os as _os

    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        plans as PL,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.ingest import (
        read_archive,
    )

    wh = str(tmp_path / "wh")
    pipe = IngestPipeline(spark, wh)
    pipe.run_available_now(landing, str(tmp_path / "ckpt"))
    archive = _os.path.join(wh, "archive")

    hit = read_archive(spark, archive, year="2024", month="01", day="01", hour="00")
    pf = PL.partition_filters(hit)
    assert any("year" in f for f in pf), pf
    assert hit.count() == tables.bizcard_text_records(spark, SF_DIR).count()

    miss = read_archive(spark, archive, year="1999")
    assert miss.count() == 0


def test_streaming_neardup_index_partition_pruning(spark, tmp_path):
    """The accumulated LSH index is laid out partitionBy(band, sigb); a
    bucket-restricted read must touch ONLY matching partition files —
    the device that keeps per-batch cost proportional to the buckets a
    batch lands in, not to the whole accumulated index."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources import (
        tables,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.neardup import (
        StreamingNearDeduper,
    )

    corpus = D.aug_corpus(
        tables.load_table(spark, "/root/testdata/sf0.001", "documents")
    )
    landing = str(tmp_path / "landing")
    corpus.withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    ).select("doc_id", "text", "ts").repartition(2).write.mode(
        "overwrite"
    ).parquet(landing)
    d = StreamingNearDeduper(spark, str(tmp_path / "wh"), n_sig_buckets=8)
    d.run_available_now(landing, str(tmp_path / "ckpt"), max_files_per_trigger=1)

    index = spark.read.parquet(d.index_dir)
    all_files = set(index.inputFiles())  # full listing, pruning-insensitive
    row = index.select("band", "sigb").distinct().limit(1).collect()[0]
    pruned = index.filter(
        (F.col("band") == row["band"]) & (F.col("sigb") == row["sigb"])
    )
    # input_file_name() surfaces the files the executed scan ACTUALLY
    # read — partition pruning must keep it to the one matching dir.
    read_files = {
        r["f"]
        for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    }
    marker = f"band={row['band']}/sigb={row['sigb']}"
    assert read_files and read_files < all_files
    assert all(marker in f for f in read_files)
    # and Catalyst classified the predicates as partition filters
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_streaming_neardup_candidate_compaction(spark, tmp_path):
    """Candidate re-emissions must not accumulate: after compaction the
    on-disk candidate table holds exactly its distinct rows, and a
    checkpointed re-drain over the same landing data adds nothing."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources import (
        tables,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.neardup import (
        StreamingNearDeduper,
    )

    corpus = D.aug_corpus(
        tables.load_table(spark, "/root/testdata/sf0.001", "documents")
    )
    landing = str(tmp_path / "landing")
    corpus.withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    ).select("doc_id", "text", "ts").repartition(4).write.mode(
        "overwrite"
    ).parquet(landing)
    # compact_every=2 → auto-compaction fires mid-drain too
    d = StreamingNearDeduper(
        spark, str(tmp_path / "wh"), compact_every=2
    )
    d.run_available_now(landing, str(tmp_path / "ckpt"), max_files_per_trigger=1)

    want = {
        (r["doc_a"], r["doc_b"]) for r in d.candidate_pairs().collect()
    }
    d.compact()
    raw = spark.read.parquet(d.cands_dir)
    assert raw.count() == len(want)  # on-disk == distinct
    assert {(r["doc_a"], r["doc_b"]) for r in raw.collect()} == want

    # re-drain same landing + checkpoint: no growth
    d.run_available_now(landing, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    assert spark.read.parquet(d.cands_dir).count() == len(want)


def test_streaming_neardup_index_bucket_files_stay_bounded(spark, tmp_path):
    """VERDICT r5 item 6: the LSH index's per-bucket file count must stay
    bounded across compaction cycles, not grow O(batches). Drive many
    1-file micro-batches through a deliberately tiny bucket space
    (n_sig_buckets=1, so every batch appends to the same 4 buckets) with
    a 2-batch compaction cadence (≥3 cycles), then assert every (band,
    sigb) leaf holds fewer files than the batches that wrote to it — and
    that compaction changed no rows (the convergence contract)."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
        fsutil,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators import (
        dedup as D,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources import (
        compact as C,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.sources import (
        tables,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.neardup import (
        StreamingNearDeduper,
    )

    corpus = D.aug_corpus(
        tables.load_table(spark, "/root/testdata/sf0.001", "documents")
    )
    landing = str(tmp_path / "landing")
    n_batches = 12
    corpus.withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    ).select("doc_id", "text", "ts").repartition(n_batches).write.mode(
        "overwrite"
    ).parquet(landing)
    d = StreamingNearDeduper(
        spark, str(tmp_path / "wh"), n_sig_buckets=1, compact_every=2
    )
    d.INDEX_COMPACT_MIN_FILES = 3  # bound « batch count so growth is visible
    d.run_available_now(landing, str(tmp_path / "ckpt"), max_files_per_trigger=1)

    leaves = []
    for band in fsutil.list_names(spark, d.index_dir):
        if "=" not in band:
            continue
        for leaf in fsutil.list_names(spark, f"{d.index_dir}/{band}"):
            if "=" in leaf:
                leaves.append(f"{d.index_dir}/{band}/{leaf}")
    assert leaves, "fixture must have produced index buckets"
    for leaf in leaves:
        n = C.n_data_files(spark, leaf)
        # 12 one-file batches all hit this bucket; without index
        # compaction each leaf would hold ~12 files. The cadence bound is
        # min_files + compact_every - 1 appends between rewrites.
        assert n < 6, f"{leaf} holds {n} files — index compaction not bounding"

    # Compaction must be purely physical: the index still reproduces the
    # batch operator's verified pairs on the drained stream.
    want = {
        (r["doc_a"], r["doc_b"])
        for r in D.dedup_minhash_lsh(corpus, 0.5)
        .select("doc_a", "doc_b")
        .collect()
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in d.near_dup_pairs(0.5).select("doc_a", "doc_b").collect()
    }
    assert got == want


def test_streaming_range_join_converges_to_batch(spark, tmp_path):
    """Stream-stream windowed join: a drained multi-batch stream must
    emit EXACTLY the batch bounded_range_join's pair set — the state
    store matches across micro-batch boundaries, so batching cannot lose
    cross-batch pairs."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.operators.rangejoin import (
        bounded_range_join,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.joins import (
        StreamingRangeJoiner,
    )

    ev = tables.load_table(spark, SF_DIR, "events")
    landing = str(tmp_path / "landing")
    ev.repartition(4).write.mode("overwrite").parquet(landing)

    # the landing files are randomly shuffled in time, so the watermark
    # delay must cover the full disorder — in production the delay is
    # sized to the stream's actual lateness bound (declared trade).
    j = StreamingRangeJoiner(
        spark, str(tmp_path / "wh"), window_s=300, delay="40 days"
    )
    j.run_available_now(landing, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    got = {
        (r["e_id"], r["c_id"]) for r in j.pairs().collect()
    }

    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    want = {
        (r["event_id"], r["r_event_id"])
        for r in bounded_range_join(
            errors, clicks, ["user_id"], "ts", "ts", -300.0, 0.0
        ).collect()
    }
    assert got == want and want

    # checkpointed replay: no duplicate emissions
    j.run_available_now(landing, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    assert {(r["e_id"], r["c_id"]) for r in j.pairs().collect()} == want
    assert j.pairs().count() == len(want)


def test_streaming_enrichment_drain_independent(spark, tmp_path):
    """Stream-static enrichment (streaming/enrich.py): many tiny batches
    and one big batch converge to the same merged relation, and the
    per-batch join must BROADCAST the static dim."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.enrich import (
        StreamingEnricher,
    )

    ev = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "event_id long, user_id long, value double",
    )
    dim = spark.createDataFrame(
        [(0, "A"), (1, "B"), (2, "A")], "c_custkey long, c_mktsegment string"
    )
    landing = str(tmp_path / "landing")
    ev.repartition(5).write.parquet(landing)

    def drain(tag, mfpt):
        enr = StreamingEnricher(
            spark, dim, "user_id", "c_custkey", "c_mktsegment",
            str(tmp_path / f"out-{tag}"), stream_schema=ev.schema,
        )
        enr.run_available_now(
            landing, str(tmp_path / f"ckpt-{tag}"), max_files_per_trigger=mfpt
        )
        return sorted(tuple(r) for r in enr.result().collect())

    many = drain("many", 1)
    one = drain("one", None)
    assert many == one
    # A: users 0,2 -> 20 events; B: user 1 -> 10 events
    got = {t[0]: (t[1], t[2]) for t in many}
    assert got["B"][0] == 10 and got["A"][0] == 20


def test_streaming_left_outer_range_join_flushes_unmatched(spark, tmp_path):
    """leftOuter drain: the emitted set is the batch LEFT JOIN — every
    matched pair PLUS one NULL-click row per unmatched error, flushed
    by the sentinel; matched errors never also emit a NULL row, and the
    sentinel itself is filtered."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming.joins import (
        StreamingRangeJoiner,
    )

    ev = tables.load_table(spark, SF_DIR, "events")
    landing = str(tmp_path / "landing")
    ev.repartition(3).write.mode("overwrite").parquet(landing)

    j = StreamingRangeJoiner(
        spark, str(tmp_path / "wh"), window_s=300, delay="40 days",
        how="leftOuter",
    )
    j.drain(landing, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    got = {(r["e_id"], r["c_id"]) for r in j.pairs().collect()}

    errors = ev.filter(F.col("event_type") == "error").alias("e")
    clicks = ev.filter(F.col("event_type") == "click").alias("c")
    want = {
        (r["e_id"], r["c_id"])
        for r in errors.join(
            clicks,
            (F.col("e.user_id") == F.col("c.user_id"))
            & (F.col("c.ts") >= F.col("e.ts") - F.expr("INTERVAL 300 SECONDS"))
            & (F.col("c.ts") <= F.col("e.ts")),
            "left",
        )
        .select(
            F.col("e.event_id").alias("e_id"), F.col("c.event_id").alias("c_id")
        )
        .collect()
    }
    assert got == want and want
    unmatched = {e for e, c in want if c is None}
    matched = {e for e, c in want if c is not None}
    assert unmatched, "fixture should contain clickless errors"
    assert not (unmatched & matched)
    # a matched error must not ALSO emit a null row
    assert all((e, None) not in got for e in matched)
