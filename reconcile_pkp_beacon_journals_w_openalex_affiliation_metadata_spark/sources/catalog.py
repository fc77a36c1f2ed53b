"""Committed-table catalog: a marker-and-ledger commit protocol over parquet.

Every stage output is a directory that readers see only once it is fully
committed:

- ``write_committed``: stage output written to ``<table>/_staging_<token>``,
  then atomically renamed to ``<table>/data`` + a ``_COMMIT`` marker written
  last. Readers only see fully-committed data (the reference gets this from
  append-mode gz writers + filesystem existence checks, main.rs:381,
  vlm_text_extractor.py:611-646).
- ``read_committed``: returns None unless the commit marker exists.
- ``append_committed``: O(batch) appends; a batch is visible only once the
  marker's batch ledger lists it.
- ``resume_filter``: left **anti-join** of the input against the committed
  output's keys — the reference's skip-if-output-exists resume
  (vlm_text_extractor.py:663-670) as a distributed operator (SURVEY S12/J4).

Directory layout per table:
``<root>/<name>/data/*.parquet`` + ``<root>/<name>/batch_<id>/`` +
``<root>/<name>/_COMMIT``. The marker is the table's one piece of commit
state: a JSON object with ``meta``, ``partition_by``, ``batches`` (the live
appended batches) and ``compacted_batches`` (ids ``compact()`` folded into
the base). It is only ever replaced whole, via write-temp + fsync +
``os.replace``, so readers never see a torn ledger.

Production target: the same contract maps onto Iceberg. A full write is
one snapshot commit of a replace, ``append_committed`` is
``writeTo(...).append()`` (its own snapshot), ``compact`` is Iceberg's
``rewrite_data_files`` procedure, and the batch ledger becomes snapshot
summary properties. Snapshot isolation then replaces the marker.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _marker(self, name: str) -> str:
        return os.path.join(self._dir(name), "_COMMIT")

    def is_committed(self, name: str) -> bool:
        return os.path.exists(self._marker(name))

    def write_committed(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None,
        meta: dict | None = None,
        compacted_batches: list[str] | None = None,
    ) -> None:
        """Write + atomic publish. Invariant at every crash point: the
        committed state is marker-AND-data or neither.

        Overwrite order matters: the old _COMMIT marker is removed BEFORE
        the old data dir is deleted (a crash in between leaves an
        uncommitted table that a restart recomputes, never a committed
        table with missing data), and the new marker is published via
        write-to-temp + os.replace so readers never see a torn marker."""
        tdir = self._dir(name)
        self._sweep_stale_staging(tdir)
        staging = os.path.join(tdir, f"_staging_{uuid.uuid4().hex[:8]}")
        data = os.path.join(tdir, "data")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        marker = self._marker(name)
        if os.path.exists(marker):
            os.remove(marker)  # demote to uncommitted before touching data
        if os.path.exists(data):
            shutil.rmtree(data)
        # a full rewrite also supersedes any appended batches
        for entry in os.listdir(tdir):
            if entry.startswith("batch_"):
                shutil.rmtree(os.path.join(tdir, entry), ignore_errors=True)
        os.replace(staging, data)
        self._write_marker(
            name,
            {
                "table": name,
                "meta": meta or {},
                "partition_by": partition_by or [],
                # batch ids whose rows are already folded into this base
                # (set by compact()); append_committed treats a replay of
                # one as a no-op so compaction preserves idempotent replay
                "compacted_batches": compacted_batches or [],
            },
        )
        # invalidate Spark's file-listing cache AND any cached plan reading
        # this path: a table REwrite keeps the same data dir, and the
        # CacheManager matches persisted plans by canonicalized path — a
        # stale entry would silently serve the pre-rewrite rows
        df.sparkSession.catalog.refreshByPath(tdir)

    @staticmethod
    def _sweep_stale_staging(tdir: str) -> None:
        """Remove ``_staging_*`` dirs left by a crash between the staging
        write and its os.replace publish. Safe because the protocol is
        single-writer per table: any staging dir present when a NEW write
        starts is by definition dead (its writer either published — the dir
        was renamed away — or crashed)."""
        if not os.path.isdir(tdir):
            return
        for entry in os.listdir(tdir):
            if entry.startswith("_staging_"):
                shutil.rmtree(os.path.join(tdir, entry), ignore_errors=True)

    def _read_marker(self, name: str) -> dict:
        with open(self._marker(name)) as f:
            return json.load(f)

    def meta(self, name: str) -> dict:
        """The ``meta`` a committed table was written with ({} if none)."""
        return self._read_marker(name).get("meta") or {}

    def _write_marker(self, name: str, payload: dict) -> None:
        marker = self._marker(name)
        tmp = marker + f".tmp_{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, marker)

    def read_committed(self, spark: SparkSession, name: str) -> DataFrame | None:
        if not self.is_committed(name):
            return None
        tdir = self._dir(name)
        paths = [os.path.join(tdir, "data")]
        # append-committed batches: only dirs LISTED IN THE MARKER are
        # readable (a half-written batch dir is invisible)
        paths += [
            os.path.join(tdir, f"batch_{b}")
            for b in self._read_marker(name).get("batches", [])
        ]
        return spark.read.parquet(*paths)

    def append_committed(self, df: DataFrame, name: str, batch_id: str) -> None:
        """Append-style commit: O(batch) IO instead of the O(table)
        union-rewrite — the shape Iceberg appends give in production. The
        batch is written to ``<table>/batch_<id>`` and becomes visible only
        when the marker's batch list is atomically replaced. Re-appending
        the SAME batch_id REPLACES that batch (the id is first retired from
        the ledger, so a crashed replay can never double-count): with
        deterministic batch ids, replays are idempotent. A batch id that
        ``compact()`` already folded into the base (ledger
        ``compacted_batches``) replays as a replace-nothing no-op — replay
        idempotency survives compaction.
        """
        spark = df.sparkSession
        if not self.is_committed(name):
            raise ValueError(f"table {name!r} has no base commit to append to")
        tdir = self._dir(name)
        ledger = self._read_marker(name)
        if ledger.get("partition_by"):
            raise NotImplementedError(
                f"append to {name!r}: the base commit is hive-partitioned by "
                f"{ledger['partition_by']} and flat batch dirs cannot be mixed "
                "into a partitioned layout"
            )
        # schema guard against the BASE only (one footer read — batches
        # share its schema by induction; reading the whole table here would
        # make the guard O(#batches))
        base_cols = set(spark.read.parquet(os.path.join(tdir, "data")).columns)
        if set(df.columns) != base_cols:
            raise ValueError(
                f"append to {name!r} with mismatched columns: "
                f"{sorted(df.columns)} vs committed {sorted(base_cols)}"
            )
        safe = "".join(c if c.isalnum() or c in "-_" else "_" for c in batch_id)
        if safe in ledger.get("compacted_batches", []):
            # this batch's rows were folded into the base by compact();
            # a crash-replay of it is a replace-nothing no-op (appending
            # would double-count rows already in the compacted base)
            return
        bdir = os.path.join(tdir, f"batch_{safe}")
        batches = [b for b in ledger.get("batches", []) if b != safe]
        if len(batches) != len(ledger.get("batches", [])):
            # replay of a known batch: retire it BEFORE touching its dir
            self._write_marker(name, {**ledger, "batches": batches})
        self._sweep_stale_staging(tdir)
        staging = os.path.join(tdir, f"_staging_{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(staging)
        if os.path.exists(bdir):
            shutil.rmtree(bdir)
        os.replace(staging, bdir)
        self._write_marker(name, {**ledger, "batches": batches + [safe]})
        spark.catalog.refreshByPath(tdir)

    def list_batches(self, name: str) -> list[str]:
        """Live appended batch ids ([] for an uncommitted table)."""
        if not self.is_committed(name):
            return []
        return list(self._read_marker(name).get("batches", []))

    def compacted_batches(self, name: str) -> list[str]:
        """Batch ids ``compact()`` folded into the base ([] for an
        uncommitted table)."""
        if not self.is_committed(name):
            return []
        return list(self._read_marker(name).get("compacted_batches", []))

    def drop_batch(self, name: str, batch_id: str) -> None:
        """Retire an appended batch: the ledger entry goes first (atomic —
        readers never see the dir disappear while it is still listed)."""
        ledger = self._read_marker(name)
        self._write_marker(
            name,
            {
                **ledger,
                "batches": [b for b in ledger.get("batches", []) if b != batch_id],
            },
        )
        shutil.rmtree(
            os.path.join(self._dir(name), f"batch_{batch_id}"), ignore_errors=True
        )
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.catalog.refreshByPath(self._dir(name))

    def drop(self, name: str) -> None:
        if os.path.exists(self._dir(name)):
            shutil.rmtree(self._dir(name))

    def compact(self, spark: SparkSession, name: str, target_partitions: int) -> None:
        """Rewrite a committed table into ``target_partitions`` files.

        The small-files problem at 100 TB: a stage committed from thousands
        of tasks leaves thousands of tiny parquet files, and every
        downstream scan pays per-file open/footer cost plus scheduler
        pressure. Compaction is a coalesce (no shuffle) + the same atomic
        republish protocol. The read is localCheckpoint-ed first so the
        rewrite never scans the path it is replacing.

        The existing layout is preserved: a hive-partitioned table is
        republished with the SAME partition_by and the same marker meta —
        compaction must never silently flatten a partitioned table and lose
        downstream partition pruning.

        Appended batches are FOLDED into the new base and become
        unretirable (their ids move to ``compacted_batches``). In a
        multi-table batch protocol (plans/incremental.py: records commits
        LAST), run a replay first so orphaned batches from a crashed run
        are retired before they can be folded — compacting an orphan bakes
        its rows in permanently, and the incremental plan will then refuse
        to resume (loud RuntimeError) rather than double-count.
        """
        df = self.read_committed(spark, name)
        if df is None:
            raise ValueError(f"table {name!r} is not committed")
        m = self._read_marker(name)
        # batches folded into the new base are retired but REMEMBERED:
        # a crash-replay of one after compaction must be a no-op, not a
        # duplicate append (idempotent-replay contract)
        compacted = sorted(
            set(m.get("batches", [])) | set(m.get("compacted_batches", []))
        ) or None
        pinned = df.coalesce(target_partitions).localCheckpoint()
        self.write_committed(
            pinned, name,
            partition_by=m.get("partition_by") or None, meta=m.get("meta") or None,
            compacted_batches=compacted,
        )

    def resume_filter(
        self, spark: SparkSession, inputs: DataFrame, name: str, key: str | list[str]
    ) -> DataFrame:
        """Inputs not yet present in the committed table (by key) — restart
        processes only the remainder."""
        done = self.read_committed(spark, name)
        if done is None:
            return inputs
        keys = [key] if isinstance(key, str) else list(key)
        return inputs.join(done.select(*keys).distinct(), keys, "left_anti")


def run_stage(
    catalog: Catalog,
    spark: SparkSession,
    name: str,
    build: "callable",
    partition_by: list[str] | None = None,
    force: bool = False,
    meta: dict | None = None,
) -> DataFrame:
    """Checkpointed stage runner: skip when committed, else build + commit.
    ``build()`` -> DataFrame. Restart-safe: a rerun after a crash recomputes
    only uncommitted stages (north_rule resumability). ``meta`` is written
    to the commit marker after ``build()`` has run."""
    if not force:
        cached = catalog.read_committed(spark, name)
        if cached is not None:
            return cached
    df = build()
    catalog.write_committed(df, name, partition_by=partition_by, meta=meta)
    return catalog.read_committed(spark, name)
