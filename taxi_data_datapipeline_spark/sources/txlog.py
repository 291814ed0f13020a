"""Minimal transactional table layer over parquet: an ordered JSON
commit log with atomic publication, snapshot-isolated reads, time
travel, optimistic concurrency, and log checkpoints.

The offline container ships no Delta/Iceberg jars, so this module
provides the load-bearing subset of a lakehouse table format from first
principles (the public designs: Delta Lake's ordered `_delta_log`
JSON actions per Armbrust et al., VLDB'20, and Iceberg's snapshot
manifest model):

* **Commit log.** A table is a directory of parquet data files plus
  ``_txlog/NNNNNNNNNN.json`` entries. Entry N holds the actions of
  version N: ``add`` (file published) and ``remove`` (file logically
  deleted — the file stays on disk for older snapshots until vacuum).
* **Atomic publication.** Writers stage parquet data under a uuid name,
  then publish by creating the NEXT version's log entry with
  ``open(..., "x")`` — an O_EXCL exclusive create, the same
  put-if-absent primitive Delta requires of its log store. Readers
  either see a complete committed version or nothing; a crashed writer
  leaves only unreferenced staging files (cleaned by vacuum).
* **Optimistic concurrency.** Two writers racing to version N: exactly
  one ``open("x")`` succeeds; the loser re-reads the log and either
  rebases (blind appends commute) or raises ``CommitConflict`` when its
  snapshot was invalidated (it overwrote/compacted against a stale
  file set) — the standard OCC rule.
* **Snapshot isolation & time travel.** A read at version V resolves
  the file set by folding add/remove actions of entries 0..V; queries
  pin V once and never observe a concurrent writer. ``history()``
  exposes the audit trail.
* **Checkpoints.** Every ``checkpoint_interval`` commits, the folded
  file set is also written as ``NNNNNNNNNN.checkpoint.json`` so readers
  list + fold O(recent) entries instead of O(all); vacuum deletes data
  files unreachable from versions >= the retained horizon.

At 100 TB the log stays tiny (one small JSON per commit — file paths
and stats, never data), readers cost one directory listing + one
checkpoint read, and all data I/O remains ordinary distributed parquet
scans; this is exactly the scaling shape of the public formats.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

LOG_DIR = "_txlog"


class CommitConflict(RuntimeError):
    """Raised when an optimistic commit loses a race it cannot rebase."""


@dataclass
class CommitInfo:
    version: int
    operation: str
    added: list[str]
    removed: list[str]


def _log_path(table_dir: str) -> str:
    return os.path.join(table_dir, LOG_DIR)


def _entry_name(version: int) -> str:
    return f"{version:010d}.json"


def _checkpoint_name(version: int) -> str:
    return f"{version:010d}.checkpoint.json"


class TxTable:
    """A transactional parquet table rooted at ``table_dir``."""

    def __init__(
        self, spark: SparkSession, table_dir: str, checkpoint_interval: int = 10
    ):
        self.spark = spark
        self.dir = table_dir
        self.checkpoint_interval = checkpoint_interval
        os.makedirs(_log_path(table_dir), exist_ok=True)

    # -- log plumbing ---------------------------------------------------------

    def _entries(self) -> list[int]:
        out = []
        for n in os.listdir(_log_path(self.dir)):
            if n.endswith(".json") and not n.endswith(".checkpoint.json"):
                out.append(int(n.split(".")[0]))
        return sorted(out)

    def latest_version(self) -> int:
        """-1 when the table has no commits yet."""
        vs = self._entries()
        return vs[-1] if vs else -1

    def _read_entry(self, version: int) -> dict:
        with open(os.path.join(_log_path(self.dir), _entry_name(version))) as fh:
            return json.load(fh)

    def _latest_checkpoint_at_or_before(self, version: int) -> int | None:
        best = None
        for n in os.listdir(_log_path(self.dir)):
            if n.endswith(".checkpoint.json"):
                v = int(n.split(".")[0])
                if v <= version and (best is None or v > best):
                    best = v
        return best

    def files_at(self, version: int | None = None) -> list[str]:
        """The committed data-file set of snapshot ``version`` (default:
        latest), resolved from the nearest checkpoint plus the log tail."""
        if version is None:
            version = self.latest_version()
        if version < 0:
            return []
        ck = self._latest_checkpoint_at_or_before(version)
        files: set[str] = set()
        start = 0
        if ck is not None:
            with open(
                os.path.join(_log_path(self.dir), _checkpoint_name(ck))
            ) as fh:
                files = set(json.load(fh)["files"])
            start = ck + 1
        for v in range(start, version + 1):
            e = self._read_entry(v)
            files.difference_update(e.get("remove", []))
            files.update(e.get("add", []))
        return sorted(files)

    def history(self) -> list[CommitInfo]:
        out = []
        for v in self._entries():
            e = self._read_entry(v)
            out.append(
                CommitInfo(
                    version=v,
                    operation=e["operation"],
                    added=e.get("add", []),
                    removed=e.get("remove", []),
                )
            )
        return out

    # -- writes ---------------------------------------------------------------

    def _check_schema(self, df: DataFrame) -> None:
        """Reject writes whose (name, type) column list differs from the
        committed table's — silent schema drift corrupts every downstream
        snapshot union. Evolution is an explicit overwrite, not an
        accident of append."""
        tip = self.latest_version()
        if tip < 0:
            return
        current = [(f.name, f.dataType) for f in self.read(tip).schema.fields]
        incoming = [(f.name, f.dataType) for f in df.schema.fields]
        if current != incoming:
            raise ValueError(
                f"schema mismatch: table has {current}, append has {incoming}"
            )

    def _stage(self, df: DataFrame) -> list[str]:
        """Write ``df`` under a uuid staging name; return relative paths of
        the parquet parts. Data is on disk but INVISIBLE until the log
        entry publishes it."""
        stage = f"stage-{uuid.uuid4().hex}"
        path = os.path.join(self.dir, stage)
        df.write.mode("overwrite").parquet(path)
        return [
            os.path.join(stage, n)
            for n in sorted(os.listdir(path))
            if n.endswith(".parquet")
        ]

    def _try_publish(self, version: int, entry: dict) -> bool:
        """Atomic put-if-absent of the version file (O_EXCL create)."""
        target = os.path.join(_log_path(self.dir), _entry_name(version))
        try:
            with open(target, "x") as fh:
                json.dump(entry, fh)
            return True
        except FileExistsError:
            return False

    def _commit(
        self,
        read_version: int,
        operation: str,
        add: list[str],
        remove: list[str],
        exact_snapshot: bool = False,
        max_retries: int = 20,
    ) -> int:
        """OCC commit loop: try versions read_version+1, +2, ...; a blind
        append rebases past interleaved commits; a writer whose REMOVE set
        no longer matches the current snapshot conflicts, and
        ``exact_snapshot`` operations (overwrite/compact, which claim to
        transform the WHOLE table) additionally conflict when any
        concurrent commit added files they never saw (serializability,
        matching the public formats' conflict matrix)."""
        attempt = read_version + 1
        for _ in range(max_retries):
            if remove or exact_snapshot:
                current = set(self.files_at(attempt - 1) if attempt - 1 >= 0 else [])
                if not set(remove) <= current:
                    raise CommitConflict(
                        f"{operation}: snapshot v{read_version} invalidated "
                        f"(removed files no longer current)"
                    )
                if exact_snapshot and current - set(remove):
                    raise CommitConflict(
                        f"{operation}: snapshot v{read_version} invalidated "
                        f"(concurrent commit added files)"
                    )
            entry = {"operation": operation, "add": add, "remove": remove}
            if self._try_publish(attempt, entry):
                if (
                    self.checkpoint_interval
                    and attempt % self.checkpoint_interval == 0
                    and attempt > 0
                ):
                    self._write_checkpoint(attempt)
                return attempt
            attempt += 1  # lost the race -> rebase onto the new tip
        raise CommitConflict(f"{operation}: gave up after {max_retries} retries")

    def txn_state(self, version: int) -> dict[str, int]:
        """app_id -> highest committed batch_id at ``version``, resolved
        from the nearest checkpoint's txns plus the log tail (the same
        fold shape as files_at)."""
        txns: dict[str, int] = {}
        start = 0
        ck = self._latest_checkpoint_at_or_before(version)
        if ck is not None:
            with open(
                os.path.join(_log_path(self.dir), _checkpoint_name(ck))
            ) as fh:
                txns = dict(json.load(fh).get("txns", {}))
            start = ck + 1
        for v in range(start, version + 1):
            txn = self._read_entry(v).get("txn")
            if txn:
                txns[txn["app"]] = max(txns.get(txn["app"], -1), txn["batch"])
        return txns

    def _write_checkpoint(self, version: int) -> None:
        tmp = os.path.join(
            _log_path(self.dir), f".{uuid.uuid4().hex}.ck.tmp"
        )
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "files": self.files_at(version),
                    "txns": self.txn_state(version),
                },
                fh,
            )
        os.replace(
            tmp, os.path.join(_log_path(self.dir), _checkpoint_name(version))
        )

    def append(self, df: DataFrame) -> int:
        """Blind append: stages data, commits add-only (always rebases
        cleanly past concurrent appends)."""
        self._check_schema(df)
        return self._commit(self.latest_version(), "append", self._stage(df), [])

    def overwrite(self, df: DataFrame) -> int:
        """Replace the table's full contents atomically."""
        read_v = self.latest_version()
        victims = self.files_at(read_v) if read_v >= 0 else []
        return self._commit(
            read_v, "overwrite", self._stage(df), victims, exact_snapshot=True
        )

    def compact(
        self, zorder_cols: list[str] | None = None, n_files: int = 1
    ) -> int:
        """Rewrite the current snapshot as one staged file set (the OPTIMIZE
        operation); conflicts if any input file was concurrently removed.
        With ``zorder_cols``, the rewrite range-partitions and sorts on the
        Morton key (functions/layout.py) — OPTIMIZE ZORDER: each output
        file becomes a compact k-dimensional tile, so the stats manifest /
        min-max pruning can skip files for predicates on ANY of the
        z-ordered columns, not just the leading sort column."""
        read_v = self.latest_version()
        victims = self.files_at(read_v)
        snapshot = self.read(read_v)
        if zorder_cols:
            from taxi_data_datapipeline_spark.functions.layout import (
                zorder_dataframe,
            )

            merged = zorder_dataframe(snapshot, zorder_cols, n_files=n_files)
        else:
            merged = snapshot.coalesce(n_files)
        return self._commit(
            read_v, "compact", self._stage(merged), victims, exact_snapshot=True
        )

    def delete_where(self, condition) -> int:
        """Row-level DELETE (the GDPR/right-to-be-forgotten operation):
        copy-on-write rewrite of the current snapshot without the matching
        rows, committed atomically with exact-snapshot conflict detection.
        ``condition`` is a Column predicate. Old snapshots still contain
        the rows until ``vacuum`` reclaims them — physical erasure =
        delete_where + vacuum(retain_versions=1), the same two-step the
        public formats document for compliance deletes."""
        from pyspark.sql import functions as F

        read_v = self.latest_version()
        victims = self.files_at(read_v)
        # SQL DELETE removes only rows where the predicate is TRUE; rows
        # where it evaluates to NULL are KEPT.  A bare ~condition would
        # propagate NULL and silently erase them, so keep NOT(coalesce(
        # condition, FALSE)).
        kept = self.read(read_v).filter(~F.coalesce(condition, F.lit(False)))
        staged = self._stage(kept.localCheckpoint(eager=True))
        return self._commit(
            read_v, "delete", staged, victims, exact_snapshot=True
        )

    # -- reads ----------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot-isolated read (time travel via ``version``)."""
        files = self.files_at(version)
        if not files:
            raise ValueError(f"no committed data at version {version}")
        return self.spark.read.parquet(
            *[os.path.join(self.dir, f) for f in files]
        )

    # -- maintenance ----------------------------------------------------------

    def vacuum(
        self, retain_versions: int = 1, min_age_seconds: float = 3600.0
    ) -> list[str]:
        """Delete staged data files unreachable from the ``retain_versions``
        most recent snapshots (crashed-writer debris included). Returns
        the deleted relative paths.

        ``min_age_seconds`` is the in-flight-writer guard: a concurrent
        writer stages data BEFORE its log entry exists, so at the moment
        vacuum lists the directory those parquet files are unreferenced
        but about to be committed. Deleting them would let the writer
        publish a log entry pointing at missing files — table corruption.
        Stage directories younger than the threshold are therefore
        skipped, the same tombstone-retention rule the public formats
        apply (Delta's ``deletedFileRetentionDuration``). Pass ``0.0``
        only when no concurrent writer can exist (tests, single-process
        maintenance windows)."""
        import time

        tip = self.latest_version()
        keep: set[str] = set()
        for v in range(max(0, tip - retain_versions + 1), tip + 1):
            keep.update(self.files_at(v))
        now = time.time()
        deleted = []
        for stage in os.listdir(self.dir):
            if stage == LOG_DIR:
                continue
            sdir = os.path.join(self.dir, stage)
            if not os.path.isdir(sdir):
                continue
            if now - os.path.getmtime(sdir) < min_age_seconds:
                continue  # possible in-flight writer between stage and publish
            for n in os.listdir(sdir):
                rel = os.path.join(stage, n)
                if n.endswith(".parquet") and rel not in keep:
                    os.remove(os.path.join(self.dir, rel))
                    deleted.append(rel)
            if not os.listdir(sdir):
                os.rmdir(sdir)
        return deleted


# -- exactly-once streaming sink support ---------------------------------------

class TxSink:
    """Idempotent-commit extension of :class:`TxTable` for streaming
    ``foreachBatch`` sinks: each commit records (app_id, batch_id) in its
    log entry, and a re-delivered batch (failure/retry replay of the same
    batch_id) commits NOTHING — the put-if-absent log plus the recorded
    high-water mark give end-to-end exactly-once table contents, the same
    ``txn`` action contract as the public formats."""

    def __init__(self, table: TxTable, app_id: str):
        self.table = table
        self.app_id = app_id

    def last_committed_batch(self) -> int:
        """Highest batch_id this app has committed (-1 if none)."""
        tip = self.table.latest_version()
        if tip < 0:
            return -1
        return self.table.txn_state(tip).get(self.app_id, -1)

    def append_batch(self, df: DataFrame, batch_id: int) -> int | None:
        """Commit ``df`` as ``batch_id`` unless that batch (or a later
        one) already committed; returns the version or None on replay."""
        if batch_id <= self.last_committed_batch():
            return None  # replayed batch: exactly-once no-op
        t = self.table
        t._check_schema(df)  # the unattended path needs the drift gate most
        add = t._stage(df)
        entry_extra = {"txn": {"app": self.app_id, "batch": batch_id}}
        # same OCC loop as _commit, with the txn action attached
        attempt = t.latest_version() + 1
        for _ in range(20):
            # Re-validate the txn high-water mark against the CURRENT tip
            # on every attempt (Delta re-checks txn actions on each commit
            # retry): two concurrent re-deliveries of the same batch_id can
            # both pass the entry check above, and only this per-attempt
            # re-read stops the loser from committing the batch twice.
            if attempt - 1 >= 0 and (
                t.txn_state(attempt - 1).get(self.app_id, -1) >= batch_id
            ):
                return None  # batch landed concurrently: exactly-once no-op
            entry = {"operation": "append", "add": add, "remove": [],
                     **entry_extra}
            if t._try_publish(attempt, entry):
                if (
                    t.checkpoint_interval
                    and attempt % t.checkpoint_interval == 0
                    and attempt > 0
                ):
                    t._write_checkpoint(attempt)
                return attempt
            attempt += 1
        raise CommitConflict("append_batch: gave up after 20 retries")


def merge_upsert(
    table: TxTable, source: DataFrame, key_cols: list[str]
) -> int:
    """MERGE (upsert) ``source`` into ``table`` on ``key_cols``: target
    rows whose key appears in the source are replaced, all source rows
    are inserted — the WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN
    INSERT contract, committed atomically as one exact-snapshot rewrite
    (conflicts with any concurrent commit, like the public formats'
    serializable MERGE).

    This is the simple copy-on-write full-rewrite MERGE; a production
    refinement prunes the rewrite to files whose stats overlap the
    source keys (sources/stats_manifest.py provides exactly that file-
    level pruning), which changes the cost, not the semantics."""
    read_v = table.latest_version()
    target = table.read(read_v)
    keys = source.select(*key_cols).distinct()
    kept = target.join(keys, key_cols, "left_anti")
    merged = kept.unionByName(source)
    victims = table.files_at(read_v)
    # break the read-rewrite lineage before overwriting the files the
    # plan is reading from (the incremental-refresh convention)
    staged = table._stage(merged.localCheckpoint(eager=True))
    return table._commit(
        read_v, "merge", staged, victims, exact_snapshot=True
    )
