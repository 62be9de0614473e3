"""Multi-table transactional commits for the commit-log lakehouse —
one transaction atomically lands appends across N log tables (all
visible or none), surviving a crash at ANY step.

The reference's warehouse loads span several tables per subject area
(fact + dimensions landed by one stored-proc run); a half-landed load
there is repaired by re-running the proc. This module provides the
stronger contract a 100-TB ingest wants: cross-table all-or-nothing
durability with no repair step.

Protocol — two-phase commit with an ATOMIC DECISION RECORD (the
classic "presumed abort" shape; same primitive as the per-table
commit log — the filesystem seam's atomic publish-if-absent, so
exactly one outcome ever exists):

1. **stage** (per table): data files land under ``.staged-*/``
   subdirectories (invisible to readers, protected from vacuum and
   snapshot expiration — the same WAP machinery as
   :func:`lakehouse.stage_append`).
2. **prepare** (per table, at commit time): staged files move into
   the table root and a commit doc is written at the next version
   carrying a ``txn`` marker ``{"id", "status_dir"}``. Readers treat
   a marked commit as INVISIBLE until the decision record says
   ``committed`` — the version slot is consumed either way, so
   concurrent single-table writers are never blocked and never race
   a reused version.
3. **decide**: one publish-if-absent of ``<status_dir>/<txn_id>.json``
   containing ``{"status": "committed"}``. This is the atomic point:
   before it, every prepared commit is a no-op tombstone; after it,
   all of them are visible. :func:`abort` (or a maintenance owner via
   :func:`force_abort_pending`) races the same destination with
   ``{"status": "aborted"}`` — the filesystem guarantees exactly one
   winner, so a transaction can never be both.

Crash analysis: a crash before any prepare leaves only staged files
(cleaned by :func:`MultiTableTransaction.abort` or left inert);
between prepares leaves pending tombstones whose files vacuum/expire
retain until :func:`force_abort_pending` resolves them; after the
decision publish the transaction is durably committed and every
reader's next log replay surfaces all tables' adds.

Visibility caveat (documented, not hidden): the decision flips all
tables atomically in METADATA, but a reader scanning table A before
the decision and table B after it observes A without the batch and
B with it — cross-table READ snapshot isolation needs a catalog-level
global snapshot, which no log-per-table format (Delta included)
provides on its own.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession

from . import fileio
from . import lakehouse as lh


class TransactionAborted(RuntimeError):
    """The transaction's decision record resolved to ``aborted``."""


def _write_decision(spark: SparkSession, status_dir: str, txn_id: str,
                    status: str) -> str:
    """Race-safe decision write: publish-if-absent of the status file.
    Returns the FINAL status (ours if we won, the winner's if not)."""
    root = status_dir.rstrip("/")
    if fileio.file_io(spark, root).publish(
            f"{root}/{txn_id}.json",
            json.dumps({"txn_id": txn_id, "status": status},
                       sort_keys=True).encode("utf-8")):
        lh._TXN_FINAL[(root, txn_id)] = status
        return status
    return lh.txn_state(spark, status_dir, txn_id)


class MultiTableTransaction:
    """One atomic unit of appends across several log tables. Obtain
    via :func:`begin_transaction`; stage with :meth:`stage_append`;
    finish with exactly one of :meth:`commit` / :meth:`abort`."""

    def __init__(self, spark: SparkSession, status_dir: str):
        self.spark = spark
        self.status_dir = status_dir.rstrip("/")
        self.txn_id = uuid.uuid4().hex
        # [(table_path, pending-payload from stage_append)]
        self._staged: list[tuple[str, dict]] = []
        self._done = False

    # -- write side --------------------------------------------------
    def stage_append(self, table_path: str, df: DataFrame,
                     keys: list[str] | None = None) -> dict:
        """Stage ``df`` for ``table_path`` (must already have a commit
        log). Nothing becomes visible until :meth:`commit`."""
        if self._done:
            raise RuntimeError("transaction already finished")
        pending = lh.stage_append(self.spark, table_path, df, keys)
        self._staged.append((table_path, pending))
        return pending

    # -- resolution --------------------------------------------------
    def commit(self) -> dict[str, int]:
        """Prepare every table, then write the committed decision.
        Returns {table_path: committed_version}. Raises
        :class:`TransactionAborted` if a contender force-aborted the
        transaction first (prepared tombstones stay inert; their
        files are reaped by vacuum)."""
        if self._done:
            raise RuntimeError("transaction already finished")
        self._done = True
        if lh.txn_state(self.spark, self.status_dir,
                        self.txn_id) == "aborted":
            # a contender (force_abort_pending) already decided: never
            # prepare on a dead transaction — any tombstones it left
            # stay inert and vacuum reaps their files
            raise TransactionAborted(
                f"txn {self.txn_id} was aborted before commit began")
        marker = {"id": self.txn_id, "status_dir": self.status_dir}
        versions: dict[str, int] = {}
        for table_path, pending in self._staged:
            versions[table_path] = self._prepare(table_path, pending,
                                                 marker)
        final = _write_decision(self.spark, self.status_dir,
                                self.txn_id, "committed")
        if final != "committed":
            raise TransactionAborted(
                f"txn {self.txn_id} was aborted by a contender before "
                "its decision record landed")
        return versions

    def abort(self) -> str:
        """Write the aborted decision (racing a concurrent commit —
        the filesystem picks exactly one winner) and delete any
        not-yet-prepared staged files. Returns the final status."""
        if self._done:
            raise RuntimeError("transaction already finished")
        self._done = True
        final = _write_decision(self.spark, self.status_dir,
                                self.txn_id, "aborted")
        if final == "aborted":
            for table_path, pending in self._staged:
                lh.abort_staged(self.spark, table_path, pending)
        return final

    def _prepare(self, table_path: str, pending: dict,
                 marker: dict) -> int:
        """Move staged files into the table root and write the
        txn-marked commit doc, retrying version races (appends never
        conflict on content — same loop as publish_staged)."""
        final_adds = lh._move_staged(self.spark, table_path, pending,
                                     "txn prepare")
        for _ in range(5):
            v = lh.current_version(self.spark, table_path)
            doc = {"version": v + 1, "op": "txn_append",
                   "add": final_adds, "remove": [], "txn": marker}
            try:
                lh._write_commit(self.spark, table_path, v + 1, doc)
                return v + 1
            except lh.CommitConflictError:
                continue
        raise lh.CommitConflictError(
            f"txn prepare: lost the commit race 5 times on {table_path}")


def begin_transaction(spark: SparkSession,
                      status_dir: str) -> MultiTableTransaction:
    """Start a multi-table transaction whose decision record will live
    under ``status_dir`` (one shared directory per lake — every
    participating table's readers resolve visibility against it)."""
    return MultiTableTransaction(spark, status_dir)


def force_abort_pending(spark: SparkSession, table_path: str) -> dict:
    """Maintenance: resolve every PENDING transaction commit in
    ``table_path``'s log by racing an ``aborted`` decision against it.
    A transaction whose coordinator already decided keeps its outcome
    (the publish-if-absent loses); a crashed coordinator's transaction
    becomes aborted, unblocking snapshot expiration and letting vacuum
    reap its files. Returns {txn_id: final_status}."""
    out: dict[str, str] = {}
    for doc in lh._commits(spark, table_path):
        if doc.get("_txn") == "pending":
            txn = doc["txn"]
            out[txn["id"]] = _write_decision(
                spark, txn["status_dir"], txn["id"], "aborted")
    return out
