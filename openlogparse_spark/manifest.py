"""Manifest: per-stage / per-sink lineage, metrics, and idempotent resume.

Reference parity:
  - metadata checkpoints (scn/seq/offset + schema) written as JSON files and
    read back to resume: Metadata::writeCheckpoint/readCheckpoint,
    /root/reference/src/metadata/Metadata.cpp:360-413,415-460;
  - writer checkpoint (confirmed scn,idx) advancing only over a contiguous
    confirmed prefix: Writer::writeCheckpoint/confirmMessage,
    /root/reference/src/writer/Writer.cpp:364-445,106-165;
  - resume gate: already-confirmed messages are skipped on restart
    (Writer::isNewData, Writer.cpp:296-298,336-338).

Here: an append-only parquet manifest table (one small file per record, so
concurrent writers never conflict — the Iceberg-manifest analogue in a
jar-less sandbox) plus an atomic rename commit for sink directories. A stage
re-run first consults `done()`: completed (stage, sink) pairs whose committed
output still exists are skipped, making every stage idempotent. Metrics rows
(rows/bytes per sink) double as the reference's Prometheus counters
(/root/reference/src/common/metrics/Metrics.h:47-129).

Schema (FIXTURES.md §5):
  run_id, stage, sink, partition_id, rows, bytes, status,
  started, finished, snapshot_id
"""

from __future__ import annotations

import os
import shutil
import time
import warnings
import uuid

import pandas as pd

MANIFEST_COLS = [
    "run_id", "stage", "sink", "partition_id", "rows", "bytes",
    "status", "started", "finished", "snapshot_id", "watermark",
]


def _write_parquet_atomic(df: pd.DataFrame, fname: str) -> None:
    """Write-then-rename so a concurrent reader/compactor never observes a
    half-written parquet file (rename is atomic on POSIX; the .inprogress
    suffix keeps the temp out of _files()' .parquet listing)."""
    tmp = fname + ".inprogress"
    df.to_parquet(tmp, index=False)
    os.rename(tmp, fname)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Manifest:
    """`compact_threshold`: when a record() pushes the manifest past this many
    files, it is folded down to one file keeping the latest record per
    (stage, sink, status) — the reference's checkpoint GC
    (Metadata::deleteOldCheckpoints, Metadata.cpp:523+). Without it the
    one-file-per-record layout grows unbounded across runs and every
    load()/done() re-reads the full history (slow resumes, inode bloat).
    None disables auto-compaction (call compact() manually)."""

    def __init__(self, path: str, compact_threshold: int | None = 256):
        self.path = path
        self.compact_threshold = compact_threshold
        os.makedirs(path, exist_ok=True)

    def _files(self) -> list[str]:
        return sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".parquet")
        )

    def record(
        self,
        run_id: str,
        stage: str,
        sink: str,
        rows: int,
        nbytes: int,
        status: str = "done",
        partition_id: int = -1,
        started: float | None = None,
        snapshot_id: str | None = None,
        watermark=None,
    ) -> str:
        """`watermark` = the sink's event-time high-water mark (max event ts
        committed) — the reference's confirmedScn progression analogue
        (Writer::confirmMessage, Writer.cpp:106-165): resume/monitoring can
        read how far in event time every sink has advanced."""
        snapshot_id = snapshot_id or uuid.uuid4().hex[:16]
        now = time.time()
        rec = pd.DataFrame(
            [
                {
                    "run_id": run_id,
                    "stage": stage,
                    "sink": sink,
                    "partition_id": partition_id,
                    "rows": int(rows),
                    "bytes": int(nbytes),
                    "status": status,
                    "started": pd.Timestamp(started or now, unit="s").floor("us"),
                    "finished": pd.Timestamp(now, unit="s").floor("us"),
                    "snapshot_id": snapshot_id,
                    "watermark": (pd.Timestamp(watermark).floor("us")
                                  if watermark is not None else pd.NaT),
                }
            ],
            columns=MANIFEST_COLS,
        )
        for c in ("started", "finished", "watermark"):
            rec[c] = rec[c].astype("datetime64[us]")
        fname = os.path.join(self.path, f"m-{time.time_ns()}-{uuid.uuid4().hex[:8]}.parquet")
        _write_parquet_atomic(rec, fname)
        if self.compact_threshold is not None:
            # one listdir per record — record() fires per stage/sink commit
            # (low rate), and the listdir is microseconds at the threshold
            if len(os.listdir(self.path)) > self.compact_threshold:
                self.compact()
        return snapshot_id

    def load(self) -> pd.DataFrame:
        # file order is the append order (m-<ns> names sort by write time);
        # later files override earlier ones wherever "latest per key" matters.
        # A concurrent compact() may remove a listed file between listdir and
        # read — its records live on in the compacted file, so skip it (same
        # tolerance as compact() itself; pipeline stages call done()/
        # counts_by_sink() while commit threads record() and auto-compact)
        frames = []
        for f in self._files():
            try:
                frames.append(pd.read_parquet(f))
            except FileNotFoundError:
                continue
            except Exception:
                # unreadable file (foreign half-write; our own writes are
                # rename-atomic). compact() skips these too — if load() did
                # not, one such file would poison every status read forever.
                warnings.warn(f"manifest: skipping unreadable file {f}")
                continue
        if not frames:
            return pd.DataFrame(columns=MANIFEST_COLS)
        return pd.concat(frames, ignore_index=True)

    def compact(self) -> int:
        """Fold the manifest to ONE file holding the latest record per
        (stage, sink, status); superseded files are deleted. Returns the
        number of files removed.

        Keeping latest-per-(…,status) — not just per (stage, sink) —
        preserves done()/counts_by_sink() results exactly: a hypothetical
        non-'done' record can never shadow the 'done' row resume depends on.
        Crash-safe by ordering: the compacted file is written first (its
        m-<ns> name sorts after every input), old files are deleted after —
        a crash between the two leaves duplicates that the next compaction
        sweeps, never lost records. Concurrent record() writers are safe:
        compaction only deletes the files it read."""
        files = self._files()
        if len(files) <= 1:
            return 0
        frames, read_ok = [], []
        for f in files:
            try:
                frames.append(pd.read_parquet(f))
                read_ok.append(f)
            except FileNotFoundError:
                continue   # another compactor swept it — its records survive
            except Exception:
                # unreadable file (e.g. a foreign half-written artifact —
                # our own writes are rename-atomic): leave it in place for a
                # later sweep rather than fold-and-delete records we never read
                continue
        if not frames:
            return 0
        df = pd.concat(frames, ignore_index=True)
        # order by finished time with append order as tie-break (stable sort):
        # robust even if file names ever stop sorting chronologically
        df = df.sort_values("finished", kind="stable")
        latest = df.groupby(["stage", "sink", "status"], dropna=False).tail(1)
        latest = latest.reset_index(drop=True)
        for c in ("started", "finished", "watermark"):
            latest[c] = latest[c].astype("datetime64[us]")
        out = os.path.join(
            self.path, f"m-{time.time_ns()}-{uuid.uuid4().hex[:8]}.parquet")
        _write_parquet_atomic(latest, out)
        removed = 0
        # only the files actually folded in — deleting an unread file would
        # lose its records
        for f in read_ok:
            try:
                os.remove(f)
                removed += 1
            except FileNotFoundError:
                pass
        return removed

    def done(self, stage: str) -> set[str]:
        """Sinks recorded done for `stage` whose committed output still exists."""
        df = self.load()
        if df.empty:
            return set()
        sel = df[(df["stage"] == stage) & (df["status"] == "done")]
        return {s for s in sel["sink"] if s == "" or os.path.exists(s)}

    def counts_by_sink(self) -> dict[tuple[str, str], int]:
        df = self.load()
        # latest-wins resolved by the finished TIMESTAMP (content), not file
        # order — append order only breaks ties, so compaction/concurrent
        # writers can never shadow a fresher record with an older one
        done = df[df["status"] == "done"].sort_values("finished", kind="stable")
        out: dict[tuple[str, str], int] = {}
        for _, r in done.iterrows():
            out[(r["stage"], r["sink"])] = int(r["rows"])
        return out


def atomic_overwrite(df, path: str, partition_by: list[str] | None = None,
                     committer=None) -> None:
    """Write a DataFrame to `path` with snapshot-commit semantics.

    Spark writes into `<path>.__tmp__`, then the configured Committer (see
    route.committer — the Iceberg-commit seam) swaps it in. With the default
    RenameCommitter, readers never observe a half-written mix and no
    committed data is ever lost: a kill mid-swap leaves the old output at
    `path` or recoverable at `<path>.__old__` (the one non-atomic instant is
    between the two renames, where `path` is briefly absent — resume re-runs
    the stage). Dangling `.__tmp__` / `.__old__` dirs are swept on the next
    commit.
    """
    from openlogparse_spark.route.committer import DEFAULT_COMMITTER

    committer = committer or DEFAULT_COMMITTER
    tmp = path + ".__tmp__"
    committer.sweep(path)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    committer.commit(tmp, path)
