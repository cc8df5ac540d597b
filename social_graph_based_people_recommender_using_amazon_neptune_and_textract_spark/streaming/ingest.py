"""The streaming ingest pipeline (SURVEY §3.1) — one file-arrival source,
one ``foreachBatch`` fan-out to four sinks, all batch logic shared with
operators/ingest.py.

Reference topology → Spark mapping:

- O1/O3 source: S3 ObjectCreated → Kinesis micro-batches of ≤100 records
  (octember_bizcard_stack.py:322-324, :379). Here: ``readStream`` on a
  landing directory of JSON text-line records with an explicit schema;
  ``maxFilesPerTrigger`` plays the Kinesis batch-size knob.
- O5 boundary: OCR happens before the landing dir (the records already
  carry ``lines``) — the declared Textract stub boundary (BASELINE.json).
- Fan-out (stack:505-506, :758, :562-584): the reference's text stream
  feeds three separate consumers. One ``foreachBatch`` commits all sinks
  per micro-batch instead — same dataflow, one checkpoint.
- O6 bizcards sink + O31-O33 graph sinks: idempotent keyed merges
  (KeyedParquetTable) — deterministic md5 ids make replays converge.
- O7 status sink: keyed by image_id; the terminal END status per image
  (the reference's START/PROCESS/END transitions collapse because one
  batch both observes and finishes an image; transitions are visible in
  streaming only with a slower OCR boundary).
- O4 archive sink: gzip JSON, hive-partitioned year/month/day/hour from
  created_at (Firehose prefix layout, README.md:331-338). Written per
  batch under ``batch=<id>`` with overwrite → replays land on the same
  path (exactly-once, strictly better than Firehose's at-least-once).
- O8 album sink: the per-owner S3 copy (get_text_from_s3_image.py:148-159)
  → owner-partitioned parquet write of the record pointers.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions import parse as P
from ..operators import ingest as batch_ingest
from .schemas import TEXT_LINES_SCHEMA
from .table import KeyedParquetTable


def read_archive(
    spark: SparkSession,
    archive_dir: str,
    year: str | None = None,
    month: str | None = None,
    day: str | None = None,
    hour: str | None = None,
) -> DataFrame:
    """Read the O4 gzip archive back; time predicates prune partitions
    (the point of the Firehose YYYY/mm/dd/HH layout — a one-hour replay
    reads one directory, not the year). Pruning is asserted in
    tests/test_plans.py."""
    df = spark.read.option("basePath", archive_dir).json(archive_dir)
    for col, val in (("year", year), ("month", month), ("day", day), ("hour", hour)):
        if val is not None:
            df = df.filter(F.col(col) == val)
    return df


#: O2: the reference producer spreads writes over 1024 Kinesis shards
#: (trigger_text_extract_from_s3_image.py:29 — 'part-{:05}' ∈ 1..1024).
KINESIS_SHARDS = 1024


def kinesis_partition_key(col, shards: int = KINESIS_SHARDS):
    """O2: the producer's shard-spreading partition key
    (trigger_text_extract_from_s3_image.py:21-33, ``part-%05d``).

    The reference draws ``random.randint(1, 1024)`` per record; here the
    shard is md5-derived from the record key — the same uniform spread,
    but deterministic, so replays land on the same shard (ordering per
    key is a Kinesis guarantee randint silently forfeits) and the oracle
    can recompute it. The 3-retry/backoff loop (:34-46) is subsumed by
    Spark task retry + checkpointed exactly-once sinks (SURVEY O2 note)."""
    h = F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )
    return F.format_string("part-%05d", (h % shards + 1).cast("int"))


def distribute_to_shards(
    df: DataFrame, key_col: str, shards: int, tasks: int | None = None
) -> DataFrame:
    """O2 sink path: attach ``partition_key`` and hash-distribute rows by
    it — put_records' shard fan-out as a Spark exchange. ``tasks`` caps
    the physical partition count (local mode doesn't want 1024 tasks;
    hash distribution by the same key is what matters)."""
    keyed = df.withColumn("partition_key", kinesis_partition_key(F.col(key_col), shards))
    return keyed.repartition(tasks or shards, F.col("partition_key"))


def write_archive(parsed: DataFrame, archive_dir: str, batch_id: int) -> None:
    """O4: the Firehose-style gzip JSON archive — hive-partitioned
    year/month/day/hour derived from created_at (README.md:331-338
    prefix layout). The batch-keyed subdir makes replays overwrite
    rather than duplicate (exactly-once, strictly better than Firehose's
    at-least-once)."""
    ts = F.to_timestamp(F.col("created_at"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    (
        parsed.withColumn("year", F.date_format(ts, "yyyy"))
        .withColumn("month", F.date_format(ts, "MM"))
        .withColumn("day", F.date_format(ts, "dd"))
        .withColumn("hour", F.date_format(ts, "HH"))
        .write.mode("overwrite")
        .partitionBy("year", "month", "day", "hour")
        .option("compression", "gzip")
        .json(os.path.join(archive_dir, f"batch={batch_id}"))
    )


def read_text_lines_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """O1/O3: file-arrival source of OCR-boundary records."""
    reader = spark.readStream.schema(TEXT_LINES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(landing_dir)


class IngestPipeline:
    """Owns the sink tables under ``warehouse_dir`` and the foreachBatch
    body. ``run_available_now`` drains the landing dir and returns; a
    long-lived ``start`` with a processing-time trigger is the production
    shape (Firehose's 60 s buffer ↔ ``trigger(processingTime='60 seconds')``).
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        created_at: str = "2024-01-01T00:00:00Z",
    ) -> None:
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.created_at = created_at
        self.bizcards = KeyedParquetTable(
            spark,
            os.path.join(warehouse_dir, "bizcards"),
            keys=["doc_id"],
            order_by=["created_at", "s3_key"],
        )
        self.vertices = KeyedParquetTable(
            spark,
            os.path.join(warehouse_dir, "vertices"),
            keys=["id"],
            order_by=["s3_key"],
        )
        self.edges = KeyedParquetTable(
            spark,
            os.path.join(warehouse_dir, "edges"),
            keys=["src", "dst"],
            order_by=["weight"],
        )
        self.status = KeyedParquetTable(
            spark,
            os.path.join(warehouse_dir, "status"),
            keys=["image_id"],
            order_by=["mts", "status"],
        )
        self.archive_dir = os.path.join(warehouse_dir, "archive")
        self.album_dir = os.path.join(warehouse_dir, "album")
        # O6's consumer side: the live search index, kept current per
        # batch exactly as upsert_bizcard_to_es pushes each batch INTO
        # the ES index the search lambda serves from (deferred import:
        # search.incremental depends on streaming.table).
        from ..search.incremental import IncrementalIndexer

        self.search_index = IncrementalIndexer(
            spark, os.path.join(warehouse_dir, "search_index")
        )
        self.metrics: list[dict[str, Any]] = []

    # -- foreachBatch body ------------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """O23: the reference counts reads/writes/invalid/errors per
        invocation (get_text_from_s3_image.py:170-202,
        upsert_bizcard_to_es.py:50-86, OrderedDict counter). Here the
        read/write/invalid counts ride the batch plan itself via
        ``df.observe`` — collected by the first sink action, zero extra
        jobs — and ``errors`` counts whole-batch failures (the record-
        level try/except has no declarative analog; a poison record
        fails the batch, which is Spark's retry unit)."""
        try:
            self._process_batch_inner(batch, batch_id)
        except Exception:
            self.metrics.append(
                {
                    "batch_id": batch_id,
                    "reads": 0,
                    "writes": 0,
                    "invalid": 0,
                    "errors": 1,
                }
            )
            raise

    def _process_batch_inner(self, batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()  # read once, feed five sinks
        obs = Observation(f"o23_counters_{batch_id}")
        valid = (F.col("owner") != "") & (F.col("s3_key") != "")
        parsed = (
            batch_ingest.parse_bizcard_text(batch, created_at=self.created_at)
            .observe(
                obs,
                F.count(F.lit(1)).alias("reads"),
                F.coalesce(F.sum(valid.cast("long")), F.lit(0)).alias("writes"),
                F.coalesce(F.sum((~valid).cast("long")), F.lit(0)).alias(
                    "invalid"
                ),
            )
            .persist()
        )

        # O6 — searchable documents, last-write-wins by doc_id. One cut,
        # persisted, feeds both sinks: the table and the index see the
        # same winner of any duplicate upload within the batch.
        doc = batch_ingest.latest_docs(parsed).persist()
        self.bizcards.merge(doc)
        self.search_index.upsert(doc)  # index stays query-current per batch

        # O31-O33 — graph upserts; the keyed merge applies the per-id
        # property overwrite, so vertices enter with their version column.
        _, edges = batch_ingest.graph_from_text(parsed)
        self.vertices.merge(batch_ingest.person_rows(parsed))
        self.edges.merge(edges)

        # O7 — status table; deterministic mts from created_at.
        mts = F.date_format(
            F.to_timestamp(F.col("created_at"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            "yyyyMMddHHmmss",
        )
        self.status.merge(
            parsed.select(
                P.basename(F.col("s3_key")).alias("image_id"),
                "s3_bucket",
                "s3_key",
                mts.alias("mts"),
                F.lit("END").alias("status"),
            )
        )

        # O4 — gzip JSON archive, time-partitioned (write_archive).
        write_archive(parsed, self.archive_dir, batch_id)

        # O8 — per-owner album (partitioned pointer table).
        (
            parsed.select("owner", "s3_bucket", "s3_key")
            .withColumn("image_id", P.basename(F.col("s3_key")))
            .write.mode("overwrite")
            .partitionBy("owner")
            .parquet(os.path.join(self.album_dir, f"batch={batch_id}"))
        )

        # O23 — the sink actions above already materialized `parsed`
        # through the observe node; obs.get just reads the captured row.
        self.metrics.append({"batch_id": batch_id, "errors": 0, **obs.get})
        doc.unpersist()
        parsed.unpersist()
        batch.unpersist()

    # -- drivers -----------------------------------------------------------
    def start(
        self,
        landing_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int | None = None,
        trigger: dict | None = None,
    ) -> StreamingQuery:
        stream = read_text_lines_stream(
            self.spark, landing_dir, max_files_per_trigger
        )
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        writer = writer.trigger(**(trigger or {"availableNow": True}))
        return writer.start()

    def run_available_now(
        self,
        landing_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int | None = None,
        timeout_s: int = 300,
    ) -> None:
        q = self.start(
            landing_dir,
            checkpoint_dir,
            max_files_per_trigger,
            {"availableNow": True},
        )
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()
            raise TimeoutError("streaming ingest did not drain in time")
        if q.exception() is not None:
            raise q.exception()
