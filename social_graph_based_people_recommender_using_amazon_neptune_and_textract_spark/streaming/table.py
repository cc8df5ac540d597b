"""Idempotent keyed parquet table — the engine's upsert sink (O6 ES
``_id`` overwrite, O7 DynamoDB update_item, O31 vertex property
overwrite).

Plain parquet has no MERGE, and overwriting a path while reading it is
undefined, so the table is a sequence of immutable snapshots plus an
atomically-replaced pointer file — a single-log simplification of the
Delta/Iceberg commit protocol:

    <root>/snap-000001/...parquet
    <root>/snap-000002/...parquet
    <root>/_LATEST            ← contains "snap-000002"

``merge(batch)`` reads the current snapshot, unions the batch, keeps the
newest row per key under the caller's declared order
(operators/upsert.latest_by_key) with ties going to the batch row —
the arriving write overwrites, as an ES ``_id`` or a Neptune property
does — and writes the next snapshot. Because the merge is a pure
function of (current-state, batch-rows), replaying a batch after a
crash converges to the same state —
at-least-once delivery + idempotent merge = effective exactly-once,
exactly the reference's deterministic-id upsert argument (SURVEY §2.5).

Scale: a snapshot rewrite is O(table); at warehouse scale this sink is
swapped for a real Delta/Iceberg MERGE (same keyed semantics, log-
structured). The interface is the contract, the snapshot layout is the
local implementation. All pointer/GC metadata goes through the Hadoop
FileSystem API (fsutil) so the table works unchanged on file:/, hdfs:/
or s3a:/ roots — driver-local ``os.path`` would silently see an empty
table on any remote store (the round-4 ADVICE defect class).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..operators.upsert import latest_by_key

_POINTER = "_LATEST"


class _SnapshotTable:
    """Shared snapshot/pointer protocol; subclasses define how a batch
    merges into the current state."""

    def __init__(
        self, spark: SparkSession, root: str, keep_snapshots: int = 2
    ) -> None:
        self.spark = spark
        self.root = root
        self.keep_snapshots = keep_snapshots
        fsutil.mkdirs(spark, root)

    # -- snapshot bookkeeping ------------------------------------------
    def _pointer_path(self) -> str:
        return f"{self.root}/{_POINTER}"

    def current_snapshot(self) -> str | None:
        name = fsutil.read_utf8(self.spark, self._pointer_path())
        return name.strip() or None if name is not None else None

    def _commit(self, name: str) -> None:
        fsutil.write_utf8(self.spark, self._pointer_path(), name)

    def _gc(self, latest: str) -> None:
        snaps = sorted(
            d
            for d in fsutil.list_names(self.spark, self.root)
            if d.startswith("snap-")
        )
        for d in snaps[: -self.keep_snapshots]:
            if d != latest:
                fsutil.delete(self.spark, f"{self.root}/{d}")

    def _write_next(self, merged: DataFrame) -> None:
        snap = self.current_snapshot()
        nxt = f"snap-{(int(snap.split('-')[1]) + 1) if snap else 1:06d}"
        merged.write.mode("overwrite").parquet(f"{self.root}/{nxt}")
        self._commit(nxt)
        self._gc(nxt)

    # -- public API ------------------------------------------------------
    def read(self) -> DataFrame | None:
        snap = self.current_snapshot()
        if snap is None:
            return None
        return self.spark.read.parquet(f"{self.root}/{snap}")


#: Internal merge column: 1 for batch rows, 0 for current rows, so an
#: ``order_by`` tie goes to the arriving row. Dropped after the window.
_ARRIVAL = "__arrival"


class KeyedParquetTable(_SnapshotTable):
    """Row-level upsert: the newest row per key wins under the caller's
    ``order_by``, and on a tie (or with an empty ``order_by``) the batch
    row wins (O6 ES ``_id`` overwrite, O7 DynamoDB update_item). Between
    rows of ONE batch that share a key and tie on ``order_by`` the pick
    is unspecified; callers that need a definite winner dedup first."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keys: Sequence[str],
        order_by: Sequence[str],
        keep_snapshots: int = 2,
    ) -> None:
        super().__init__(spark, root, keep_snapshots)
        self.keys = list(keys)
        self.order_by = list(order_by)

    def merge(self, batch: DataFrame) -> None:
        current = self.read()
        merged = batch.withColumn(_ARRIVAL, F.lit(1))
        if current is not None:
            merged = current.withColumn(_ARRIVAL, F.lit(0)).unionByName(merged)
        merged = latest_by_key(merged, self.keys, [*self.order_by, _ARRIVAL])
        self._write_next(merged.drop(_ARRIVAL))


class GroupedParquetTable(_SnapshotTable):
    """Group-level replace: ``merge(rows, group_keys_df)`` DELETES every
    row whose group key appears in ``group_keys_df`` and inserts ``rows``
    — the shape of an inverted-index segment update, where a document
    re-index must remove the OLD version's postings (tokens that vanished
    from the new text would survive a row-level upsert) and a document
    delete inserts nothing. One anti-join + union per batch; at warehouse
    scale this rewrite becomes a Delta/Iceberg MERGE WHEN MATCHED DELETE,
    same semantics."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        group_keys: Sequence[str],
        keep_snapshots: int = 2,
    ) -> None:
        super().__init__(spark, root, keep_snapshots)
        self.group_keys = list(group_keys)

    def merge(self, rows: DataFrame, group_keys_df: DataFrame) -> None:
        current = self.read()
        if current is None:
            merged = rows
        else:
            merged = current.join(
                group_keys_df.select(self.group_keys).distinct(),
                self.group_keys,
                "left_anti",
            ).unionByName(rows)
        self._write_next(merged)


# ---------------------------------------------------------------------------
# Time travel + change data feed over the snapshot layout
# ---------------------------------------------------------------------------

def _snapshot_names(spark: SparkSession, root: str) -> list[str]:
    return sorted(
        d for d in fsutil.list_names(spark, root) if d.startswith("snap-")
    )


def table_versions(spark: SparkSession, root: str) -> list[str]:
    """Snapshot names still on disk, oldest→newest — the time-travel
    window is ``keep_snapshots`` deep (GC'd snapshots are gone; a real
    Delta/Iceberg log keeps as many as retention allows; the protocol
    is the same)."""
    return _snapshot_names(spark, root)


def read_version(spark: SparkSession, root: str, snapshot: str) -> DataFrame:
    """Time-travel read of one retained snapshot (``snap-000001``-style
    name from ``table_versions``)."""
    return spark.read.parquet(f"{root}/{snapshot}")


def table_changes(
    old: DataFrame, new: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Change data feed between two table states: every row that
    differs, tagged ``_change`` ∈ {insert, delete, update_pre,
    update_post} — the CDF a downstream incremental consumer applies
    instead of re-reading the table (Delta's CDC shape, public).

    Bag semantics via ``exceptAll`` (duplicate-tolerant), then one
    semi/anti join pair per direction classifies changed rows by key
    presence on the other side. All shuffles are key-partitioned; the
    diff never materializes unchanged rows.
    """
    keys = list(keys)
    ins = new.exceptAll(old)
    rem = old.exceptAll(new)
    old_keys = old.select(keys).distinct()
    new_keys = new.select(keys).distinct()
    tag = lambda df, t: df.withColumn("_change", F.lit(t))  # noqa: E731
    return (
        tag(ins.join(old_keys, keys, "left_anti"), "insert")
        .unionByName(tag(ins.join(old_keys, keys, "left_semi"), "update_post"))
        .unionByName(tag(rem.join(new_keys, keys, "left_semi"), "update_pre"))
        .unionByName(tag(rem.join(new_keys, keys, "left_anti"), "delete"))
    )
