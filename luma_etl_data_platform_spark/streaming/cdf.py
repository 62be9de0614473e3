"""Streaming change-data-feed source for the commit-log lakehouse —
the streaming half of ``sources/lakehouse.read_changes`` (Delta's
``readChangeFeed`` in micro-batch form): follow a table's commit log
from a starting version and apply each commit's row-level change set
(insert / update_preimage / update_postimage / delete) to a
downstream consumer exactly once.

Mechanics: the lakehouse is a custom log format, so the feed is
driven as a micro-batch loop over COMMIT VERSIONS rather than a
DataStreamReader — each unprocessed version ``v`` becomes one batch
``read_changes(v-1, v)`` (the per-commit file diff: only the files
that commit touched are read, never the table), handed to
``apply_fn(changes_df, v)``. Exactly-once rides the processed-version
ledger pattern of ``sources/incremental.py``: a version is recorded
AFTER its apply returns, and already-recorded versions are skipped on
redelivery — at-least-once delivery into an idempotent/versioned
apply, the same contract Structured Streaming's ``foreachBatch``
gives (batch_id ≡ commit version here, and unlike epoch ids it is
STABLE across restarts because it comes from the table's own log).

Scale shape: per batch the work is one per-commit file diff (O(files
touched by that commit)), the ledger is a parquet append of one row,
and the catch-up scan is one commit-log listing — no state grows with
table size. A 100-TB table with small incremental commits streams in
O(change) per version.

Reference anchor: the reference's incremental jobs re-derive "what
changed" by diffing extracted-id ledgers (datalakewrapper.py:189-194);
this is the same ledger discipline applied to a transactional table's
own commit history.
"""

from __future__ import annotations

import json
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from ..sources import fileio


class ChangeFeedLedger:
    """Append-only parquet ledger of processed commit versions (the
    ``ProcessedIdLedger`` shape, keyed by version): one single-column
    int64 file per :meth:`record`, written and read on the driver
    with pyarrow over the filesystem seam's bytes — a record is table
    METADATA, like a commit doc, not a Spark job.

    File-count hygiene: each :meth:`record` appends one tiny parquet
    file, so a years-long feed would accumulate one file per commit
    and every :meth:`summary` poll would pay the listing. ``record``
    therefore self-compacts: every ``compact_every`` appends (counted
    from the directory's actual file population, so restarts don't
    reset the bound) the ledger is rewritten to a single file —
    steady-state file count is O(compact_every), not O(feed
    lifetime). Compaction is crash-safe by construction: the
    compacted file is published BEFORE the originals are deleted,
    and a crash in between only leaves duplicate version rows, which
    every reader collapses into a set.

    The feed's STARTING version is pinned write-once in
    ``_feed_start`` (underscore-prefixed: invisible to the parquet
    reader). The contiguous watermark treats everything below the
    first recorded version as out-of-scope, so without the pin a feed
    originally drained with ``from_version=N`` and re-run with a
    lower one would silently skip ``1..N-1``; with it,
    :func:`stream_changes` refuses the lower resume point instead
    (ADVICE r7).
    """

    _SCHEMA = pa.schema([pa.field("version", pa.int64(), nullable=False)])

    def __init__(self, spark: SparkSession, path: str,
                 compact_every: int = 64):
        self.path = path.rstrip("/")
        self.compact_every = max(int(compact_every), 2)
        self._io = fileio.file_io(spark, self.path)
        self._files = None  # lazily counted once per ledger instance

    def _entries(self) -> list:
        """The ledger's parquet data files (markers and dotted temp
        files excluded — the set the parquet reader sees)."""
        return [e for e in self._io.list(self.path)
                if e.size is not None
                and not e.name.startswith(("_", "."))]

    def _write(self, name: str, versions) -> None:
        buf = pa.BufferOutputStream()
        pq.write_table(pa.table({"version": sorted(versions)},
                                schema=self._SCHEMA), buf)
        self._io.publish(f"{self.path}/{name}", buf.getvalue().to_pybytes())

    def processed(self) -> set[int]:
        """Every processed version as a driver-side set, read from the
        O(compact_every) self-compacted files. A file compacted away
        between the listing and its read means a newer compacted file
        holds its rows: list again."""
        while True:
            out: set[int] = set()
            for e in self._entries():
                data = self._io.read_bytes(e.path)
                if data is None:
                    break
                out.update(pq.read_table(pa.BufferReader(data))
                           ["version"].to_pylist())
            else:
                return out

    def summary(self) -> tuple[int | None, set[int]]:
        """``(watermark, exceptions)``: the contiguous-prefix high
        mark (every version from the feed's first processed version
        through ``watermark`` is recorded) plus the out-of-order
        versions above it (small, usually empty)."""
        _mn, wm, exc = self._summary_full()
        return wm, exc

    def _summary_full(self) -> tuple[int | None, int | None, set[int]]:
        """``(min_recorded, watermark, exceptions)`` — the summary
        plus the feed's lowest recorded version."""
        vs = self.processed()
        if not vs:
            return None, None, set()
        mn, mx = min(vs), max(vs)
        if len(vs) == mx - mn + 1:
            return mn, mx, set()
        # the watermark sits just below the first hole above mn
        wm = next(v for v in range(mn + 1, mx + 1) if v not in vs) - 1
        return mn, wm, {v for v in vs if v > wm}

    def record(self, version: int) -> None:
        if self._files is None:
            self._files = len(self._entries())
        self._write(f"part-{uuid.uuid4().hex}-v{int(version)}.parquet",
                    [int(version)])
        self._files += 1
        if self._files >= self.compact_every:
            self.compact()

    def compact(self) -> None:
        """Rewrite the ledger to one parquet file. Order of
        operations makes every crash point benign: (1) the distinct
        version set is published as a new file, (2) the superseded
        originals are deleted (a crash between 1 and 2 leaves
        duplicate rows — readers set them away)."""
        old = self._entries()
        if len(old) <= 1:
            self._files = len(old)
            return
        self._write(f"compacted-{uuid.uuid4().hex}.parquet",
                    self.processed())
        for e in old:
            self._io.delete(e.path)
        self._files = 1

    # -- feed start pinning (ADVICE r7) --------------------------------
    def start_version(self) -> int | None:
        """The pinned starting version, or None for a fresh/legacy
        ledger."""
        text = self._io.read_text(f"{self.path}/_feed_start")
        return None if text is None else int(json.loads(text)["from_version"])

    def pin_start(self, version: int) -> None:
        """Write-once pin of the feed's starting version (concurrent
        pinners race harmlessly — first wins)."""
        self._io.publish(f"{self.path}/_feed_start", json.dumps(
            {"from_version": int(version)}).encode("utf-8"))


def stream_changes(spark: SparkSession, table_path: str, apply_fn,
                   ledger_path: str, from_version: int = 1,
                   keys: list[str] | None = None,
                   max_batches: int | None = None,
                   max_versions_per_trigger: int | None = None,
                   max_bytes_per_trigger: int | None = None,
                   on_missing_versions: str = "error",
                   coalesce_versions: bool = False) -> dict:
    """Drain every unprocessed commit of ``table_path`` at or above
    ``from_version`` (the feed's STARTING VERSION, Delta's
    ``startingVersion``) through ``apply_fn(changes_df, version)`` —
    the ``trigger(availableNow=True)`` shape of the change feed: one
    call processes everything available and returns.

    ``changes_df`` is the :func:`sources.lakehouse.read_changes`
    frame of versions ``(v-1, v]`` (table columns +
    ``_change_type``). Versions already in the ledger are skipped, so
    re-running after a crash (or redelivering the whole history)
    applies nothing twice; a crash BETWEEN apply and record redelivers
    that one version — apply must be idempotent per version, which
    any keyed MERGE/overwrite-by-version sink is. The skip check reads
    the ledger's :meth:`ChangeFeedLedger.summary` — a contiguous
    watermark plus a small exception set.

    ``max_versions_per_trigger`` caps how many versions one call
    applies (Delta's ``maxFilesPerTrigger`` analogue for a capped
    drain loop); ``max_batches`` is the same knob's original name and
    still accepted — the stricter of the two wins.
    ``max_bytes_per_trigger`` caps a trigger by the CUMULATIVE
    ``size_bytes`` of the drained versions' added files (the
    write-time add-action lane — Delta's ``maxBytesPerTrigger``): the
    drain stops after the version that crosses the budget, always
    applying at least one. Versions whose adds predate the size lane
    count as 0 bytes (never under-drains; a cap is a pacing hint, not
    a correctness surface).

    Expired-history safety (the Delta ``readChangeFeed`` failure
    contract): if :func:`sources.lakehouse.expire_snapshots` removed
    versions the feed has NOT yet applied — the log now starts at a
    checkpoint restatement above the feed's resume point, or an
    unprocessed version's predecessor is gone so its file diff cannot
    be computed — the stream RAISES by default instead of silently
    skipping the lost deletes/updates. Pass
    ``on_missing_versions="skip"`` to acknowledge the loss explicitly:
    the lost versions are recorded in the ledger (so the watermark
    advances) and reported under ``versions_lost`` — the documented
    full-resync escape hatch: rebuild the mirror from a full read,
    then resume the feed.

    Aborted multi-table-transaction tombstones carry no changes; they
    are recorded in the ledger without an apply call so the watermark
    stays contiguous. A PENDING transaction version stops the drain at
    that frontier (its outcome is undecided — applying later versions
    first would deliver its changes out of order when it commits);
    the stalled version is reported as ``pending_version``.

    ``coalesce_versions=True`` drains each maximal run of consecutive
    unprocessed versions as ONE batch: ``read_changes(a-1, b)`` over
    the run (the net keyed diff between the two snapshots — exactly
    what :func:`sources.lakehouse.read_changes` already computes for
    any range) and ONE ``apply_fn(changes, b)`` call, then every
    version of the run is recorded. This is the Structured-Streaming
    trigger shape (one micro-batch may span many source versions when
    ``maxFilesPerTrigger`` is unset) and removes a full MERGE
    (recon + rewrite + commit) plus a per-version diff per coalesced
    version — round-12 optimization, guide §1.2/§3. Requires the
    apply to be a SNAPSHOT-SEMANTICS sink (a keyed merge/overwrite
    mirror): applying the net diff of ``(a-1, b]`` must be equivalent
    to applying each version's diff in order, which holds for any
    latest-state-by-key consumer but NOT for a per-version audit log.
    Exactly-once is unchanged: a crash between apply and record
    redelivers the unrecorded suffix of the run as a new batch — the
    same idempotent-apply contract as the per-version path. Runs
    break at already-processed versions, at a pending-transaction
    frontier, and at the trigger caps (both caps count versions and
    bytes exactly as the per-version path does).

    Returns ``{"versions_applied": [...], "versions_skipped": n,
    "versions_lost": [...], "pending_version": v | None}``.
    """
    if on_missing_versions not in ("error", "skip"):
        raise ValueError("stream_changes: on_missing_versions must be "
                         "'error' or 'skip'")
    cap = min(x for x in (max_batches, max_versions_per_trigger)
              if x is not None) if (max_batches is not None or
                                    max_versions_per_trigger is not None
                                    ) else None
    from ..sources import lakehouse as LH
    ledger = ChangeFeedLedger(spark, ledger_path)
    mn, wm, exc = ledger._summary_full()
    start = max(from_version, 1)

    # -- starting-version pin (ADVICE r7): the watermark treats
    # everything below the feed's first recorded version as
    # out-of-scope, so resuming an existing ledger from a LOWER
    # version would silently skip commits the original drain never
    # applied. Refuse instead of skipping; a lower start needs a
    # fresh ledger (full resync).
    pinned = ledger.start_version()
    floor = pinned if pinned is not None else mn
    if floor is not None and start < floor:
        raise ValueError(
            f"stream_changes on {table_path}: this feed started at "
            f"version {floor}; resuming it with from_version={start} "
            "would NOT apply the earlier versions (they are below the "
            "ledger's watermark scope). Use a fresh ledger_path to "
            "re-feed from an earlier version.")
    if pinned is None:
        ledger.pin_start(start if mn is None else min(start, mn))

    def _done(v: int) -> bool:
        return (wm is not None and v <= wm) or v in exc

    docs = LH._commits(spark, table_path)
    all_versions = {d["version"] for d in docs}

    # -- expired-history gap detection (ADVICE r6, medium) ----------
    lost: list[int] = []
    if docs:
        log_start = min(all_versions)
        # versions wholly expired out of the log below its start
        resume = start if wm is None else max(start, wm + 1)
        lost += [v for v in range(resume, log_start) if not _done(v)]
        # surviving versions whose predecessor is gone (the log's
        # checkpoint-restated first version): their (v-1, v] file
        # diff is uncomputable once v-1 expired
        lost += [d["version"] for d in docs
                 if d["version"] >= start and not _done(d["version"])
                 and d["version"] > 1
                 and d["version"] - 1 not in all_versions]
    if lost:
        lost = sorted(set(lost))
        if on_missing_versions == "error":
            raise RuntimeError(
                f"stream_changes on {table_path}: version(s) {lost} "
                "were expired before this feed applied them — their "
                "deletes/updates are unrecoverable from the log. "
                "Full-resync the mirror (rebuild from read_table), "
                "then pass on_missing_versions='skip' to advance the "
                "ledger past the gap.")
        for v in lost:
            ledger.record(v)

    applied: list[int] = []
    skipped = 0
    pending_version = None
    bytes_drained = 0

    if not coalesce_versions:
        for d in sorted(docs, key=lambda d: d["version"]):
            v = d["version"]
            if v < start or v in lost:
                continue
            if _done(v):
                skipped += 1
                continue
            if d.get("_txn") == "pending":
                # undecided frontier: stop — processing past it would
                # deliver its changes out of order if it later commits
                pending_version = v
                break
            if LH._invisible(d):  # aborted tombstone: no changes by
                ledger.record(v)  # definition — record to keep the
                continue          # watermark contiguous
            changes = LH.read_changes(spark, table_path, v - 1, v,
                                      keys=keys)
            apply_fn(changes, v)
            ledger.record(v)
            applied.append(v)
            bytes_drained += sum(a.get("size_bytes") or 0
                                 for a in d.get("add", []))
            if cap is not None and len(applied) >= cap:
                break
            if (max_bytes_per_trigger is not None
                    and bytes_drained >= max_bytes_per_trigger):
                break
        return {"versions_applied": applied, "versions_skipped": skipped,
                "versions_lost": lost, "pending_version": pending_version}

    # -- coalesced drain: one net-diff batch per maximal run of
    # consecutive unprocessed versions (see docstring). The run is
    # flushed at any break in consecutiveness (an already-processed
    # version, a version below the start, a lost version), at the
    # pending frontier, and when a trigger cap fills mid-run. A run
    # member that is an aborted tombstone contributes nothing to the
    # diff (its commit carries no changes) — it rides the run so the
    # recorded watermark stays contiguous, exactly as the per-version
    # path records it without an apply call.
    run: list[dict] = []
    run_visible = 0
    run_bytes = 0

    def _doc_bytes(d: dict) -> int:
        return sum(a.get("size_bytes") or 0 for a in d.get("add", []))

    def _flush() -> None:
        nonlocal bytes_drained, run, run_visible, run_bytes
        if not run:
            return
        a, b = run[0]["version"], run[-1]["version"]
        if run_visible:
            changes = LH.read_changes(spark, table_path, a - 1, b,
                                      keys=keys)
            apply_fn(changes, b)
        for d in run:
            ledger.record(d["version"])
            if not LH._invisible(d):
                applied.append(d["version"])
        bytes_drained += run_bytes
        run, run_visible, run_bytes = [], 0, 0

    for d in sorted(docs, key=lambda d: d["version"]):
        v = d["version"]
        if v < start or v in lost:
            _flush()
            continue
        if _done(v):
            skipped += 1
            _flush()
            continue
        if d.get("_txn") == "pending":
            pending_version = v
            break
        if run and v != run[-1]["version"] + 1:
            _flush()  # defensive: a hole in the log breaks the run
        run.append(d)
        if not LH._invisible(d):
            run_visible += 1
            run_bytes += _doc_bytes(d)
        # the caps close a run exactly where the per-version loop
        # would stop applying
        if cap is not None and len(applied) + run_visible >= cap:
            break
        if (max_bytes_per_trigger is not None
                and bytes_drained + run_bytes >= max_bytes_per_trigger):
            break
    _flush()  # caps and the pending frontier both end the drain here
    return {"versions_applied": applied, "versions_skipped": skipped,
            "versions_lost": lost, "pending_version": pending_version}
