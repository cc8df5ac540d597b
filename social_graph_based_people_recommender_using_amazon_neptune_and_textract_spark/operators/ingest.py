"""The ingest dataflow (SURVEY §3.1) as pure DataFrame→DataFrame stages.

D2 (bizcard text record with OCR lines) → parsed doc → D3 (ES bizcard
document, last-write-wins by doc_id) → D4/D5 (person vertices / knows
edges). The streaming wrapper (streaming/ingest.py) runs these same
functions per micro-batch via ``foreachBatch``.

Everything stays in whole-stage codegen: regex extraction and array
transforms are built-in higher-order functions, ids are md5/substring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import parse as P
from .upsert import latest_by_key


def parse_bizcard_text(df: DataFrame, created_at: str = "2024-01-01T00:00:00Z") -> DataFrame:
    """get_text_from_s3_image.py:185-189 — parse OCR lines into the D2
    record. Input: (s3_bucket, s3_key, lines array<string>). Output adds
    owner + the parsed ``data`` fields (flattened).

    ``created_at`` is wall-clock in the reference (:186) — injected here as
    a parameter for determinism (declared deviation, SURVEY §1.2).
    """
    lines = F.col("lines")
    return df.select(
        "s3_bucket",
        "s3_key",
        P.owner_from_key(F.col("s3_key")).alias("owner"),
        P.positional(lines, 0).alias("company"),
        P.positional(lines, 1).alias("name"),
        P.positional(lines, 2).alias("job_title"),
        P.scan_email(lines).alias("email"),
        P.scan_phone(lines).alias("phone_number"),
        P.scan_addr(lines).alias("addr"),
        F.lit(created_at).alias("created_at"),
    )


def latest_docs(text: DataFrame) -> DataFrame:
    """upsert_bizcard_to_es.py:62-90 — the D3 searchable documents of the
    valid parsed uploads under the ES upsert semantics (same ``_id`` ⇒
    last write wins): one row per doc_id, the newest by (created_at,
    s3_key); ``s3_key`` is kept as the version column."""
    image_id = P.basename(F.col("s3_key"))
    doc = text.filter((F.col("owner") != "") & (F.col("s3_key") != "")).select(
        P.md5_id(image_id).alias("doc_id"),
        image_id.alias("image_id"),
        "owner",
        "company",
        "name",
        "job_title",
        "email",
        "phone_number",
        "addr",
        "created_at",
        F.lit(1).alias("is_alive"),
        P.content_id(
            F.col("name"), F.col("email"), F.col("phone_number")
        ).alias("content_id"),
        "s3_key",
    )
    return latest_by_key(doc, ["doc_id"], ["created_at", "s3_key"])


def bizcards_from_text(text: DataFrame) -> DataFrame:
    """upsert_bizcard_to_es.py:62-90 — derive the D3 searchable document
    and apply the ES upsert semantics (same ``_id`` ⇒ last write wins).

    Batch ingest has no arrival order, so "last" is declared as the lexic
    max s3_key per doc_id — deterministic and idempotent. doc_id is
    md5(image_id)[:8]; with unique filenames the upsert is a no-op dedup.
    """
    return latest_docs(text).drop("s3_key")


def person_rows(text: DataFrame) -> DataFrame:
    """One D4 person-vertex row per parsed upload, before the per-id
    property overwrite; ``s3_key`` is kept as the version column."""
    return text.select(
        "s3_key",
        P.person_id(F.col("email")).alias("id"),
        "name",
        "email",
        "phone_number",
        "company",
        "job_title",
        F.lower(F.col("name")).alias("_name"),
    )


def graph_from_text(text: DataFrame) -> tuple[DataFrame, DataFrame]:
    """upsert_bizcard_to_graph_db.py:89-113,144-153 — D4 vertices and D5
    edges from parsed bizcard text.

    - person id = md5(email local part)[:8] (:146); vertex upsert keeps one
      row per id (property overwrite ⇒ latest wins; declared order: max
      s3_key).
    - edge src = md5(owner)[:8] (:96), dst = person id; self-loops skipped
      (:98); at most one edge per (src,dst) (:104-109), weight 1.0 (:101).
    """
    vertices = latest_by_key(person_rows(text), ["id"], ["s3_key"]).drop("s3_key")
    edges = (
        text.select(
            P.md5_id(F.col("owner")).alias("src"),
            P.person_id(F.col("email")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    return vertices, edges
