"""Custom Python streaming DataSource with WAL/LSN semantics (U2 shape).

The reference consumes Postgres logical replication through go-pq-cdc:
decoded messages arrive in LSN order, and acking a flushed batch advances
the slot's restart LSN (R12). This module implements the same contract as a
Spark 4 Python streaming DataSource over an append-only directory of NDJSON
"WAL segments":

- segment files are named ``wal_<start_lsn>.ndjson``; each line is one
  change message ``{"lsn": N, "op": ..., "table": ..., "before": {...},
  "after": {...}, "ts": iso}`` with strictly increasing lsn;
- the stream offset IS the lsn frontier (``{"lsn": N}``) — exactly the
  restart-LSN of a replication slot;
- the reader is a ``SimpleDataSourceStreamReader``: ``read(start)``
  returns the staged rows in (start, newest staged lsn] and that lsn as
  the end offset. Spark calls it at ``latestOffset`` inside the
  long-lived python-streaming-source runner and ships the rows to the
  JVM with the plan, so a live micro-batch's scan starts no Python
  task. ``readBetweenOffsets`` serves a batch replayed after a restart
  (the runner's prefetch cache is empty then). A catch-up backlog is
  read by that one process, not split into per-segment tasks. A poll
  that finds no new segment opens no file;
- the ack is the Structured Streaming checkpoint: once batch N's sink
  completes, ``commits/N`` marks the end offset in ``offsets/N`` as
  consumed. The live consumer loop reads that frontier
  (sources/pgoutput.py:committed_checkpoint_lsn) and sends the
  ``StandbyStatusUpdate`` that advances the slot's restart LSN. The
  reader keeps Spark's no-op ``commit``.

The live producer is sources/pgoutput.py's ``run_live_consumer``: a
pgoutput slot consumer (CREATE_REPLICATION_SLOT / START_REPLICATION /
keepalive / ack) that writes the socket's changes into these segment
files. The staged dir holds nothing else, so the segments are the single
source of truth for rows and the checkpoint for consumed offsets.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

WAL_SCHEMA = (
    "lsn bigint, op string, table_schema string, table_name string, "
    "before map<string,string>, after map<string,string>, ts string"
)



def segment_start_lsn(fname: str) -> int:
    return int(fname.split("_")[1].split(".")[0])


def list_segments(path: str) -> list[tuple[int, str]]:
    """(start_lsn, full_path) for every segment, sorted by start."""
    if not os.path.isdir(path):
        return []
    return sorted(
        (segment_start_lsn(f), os.path.join(path, f))
        for f in os.listdir(path)
        if f.startswith("wal_") and f.endswith(".ndjson")
    )


def max_segment_lsn(path: str) -> int:
    """Highest stamped lsn across all segments (-1 when empty): only the
    LAST segment needs a line scan; earlier ones are bounded by their
    successor's start. The live consumer seeds its monotone stamp clamp
    from this at (re)start, so stamps assigned after a reconnect always
    sort after every stamp already flushed — without it, an interleaved
    transaction redelivered after a crash could be stamped below the
    stream frontier and silently dropped by the (start, end] filter."""
    # retry on FileNotFoundError: an ack sweep can prune the listed tail
    # segment between our listdir and open (its "newest segment is always
    # kept" guarantee holds at PRUNE time, not at this list time) — a fresh
    # listing sees the surviving newer segment. Bounded attempts: with the
    # pruner deleting at most once a second, two races in a row already
    # needs adversarial timing.
    for _ in range(5):
        segs = list_segments(path)
        if not segs:
            return -1
        mx = segs[-1][0]
        try:
            with open(segs[-1][1]) as f:
                for line in f:
                    mx = max(mx, json.loads(line)["lsn"])
            return mx
        except FileNotFoundError:
            continue
    raise FileNotFoundError(
        f"segment tail at {path} vanished in 5 consecutive list/open races"
    )


def prune_segments(path: str, committed_lsn: int) -> int:
    """Delete segments wholly consumed by the committed stream frontier —
    the WAL-retention analog of the slot's restart LSN advancing (without
    it a long-running live stream grows the directory, and every read()
    listdir, without bound). A segment is prunable exactly when all its
    rows are consumed: its successor starts at or below ``committed_lsn``
    + 1 (a segment's rows lie below its successor's start). The newest
    segment is always kept, and Spark never re-reads below the newest
    COMMITTED batch's offset, so a reader never needs a pruned segment.
    Returns the number of files removed."""
    removed = 0
    segs = list_segments(path)
    for i in range(len(segs) - 1):
        if segs[i + 1][0] - 1 <= committed_lsn:
            try:
                os.remove(segs[i][1])
                removed += 1
            except OSError:
                break
        else:
            break
    return removed


def write_wal_segment(path: str, messages: list[dict]) -> str:
    """Append one WAL segment (messages must carry increasing lsn).

    Written to a dot-prefixed temp name and renamed into place: the live
    producer (run_live_consumer's thread) races the Spark reader —
    the reader scanning ``wal_*.ndjson`` must never observe a
    half-flushed final line (json.loads on a truncated line killed the
    stream). rename() is atomic on one filesystem, and the ``wal_``
    prefix filter ignores the in-flight temp name."""
    os.makedirs(path, exist_ok=True)
    start = messages[0]["lsn"]
    fpath = os.path.join(path, f"wal_{start:016d}.ndjson")
    tmp = os.path.join(path, f".wal_{start:016d}.ndjson.tmp")
    with open(tmp, "w") as f:
        for m in messages:
            f.write(json.dumps(m) + "\n")
    os.rename(tmp, fpath)
    return fpath


def staged_truncate_count(path: str) -> int:
    """TRUNCATE tombstone rows still replayable from the live segments (0
    if none). Segments staged under on_truncate='tombstone_table' carry
    them; replaying those through a connector whose policy reverted to
    'ignore' drops them, so ``Connector.start()`` warns with this count.
    A pruned segment was consumed and is not counted. Each segment is
    read whole and skipped unless it contains the quoted op; only the
    lines that match are parsed, since a payload value can carry the same
    string."""
    n = 0
    for _, fpath in list_segments(path):
        try:
            with open(fpath, "rb") as f:
                data = f.read()
        except FileNotFoundError:
            continue  # pruned after the listing: consumed
        if b'"TRUNCATE"' not in data:
            continue
        n += sum(
            json.loads(line).get("op") == "TRUNCATE"
            for line in data.splitlines()
            if b'"TRUNCATE"' in line
        )
    return n


def _read_segment(fpath: str, lo: int, hi: int | None) -> list[tuple]:
    """Rows of one segment with lsn in (lo, hi] (``hi`` None: no upper
    bound), as WAL_SCHEMA tuples."""
    rows = []
    with open(fpath) as f:
        for line in f:
            m = json.loads(line)
            lsn = m["lsn"]
            if lsn <= lo or (hi is not None and lsn > hi):
                continue
            rows.append((
                lsn,
                m.get("op"),
                m.get("table_schema", "public"),
                m.get("table_name"),
                m.get("before"),
                m.get("after"),
                m.get("ts"),
            ))
    return rows


class WalStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pgwal source requires option 'path'")
        # (name, size, inode) of the newest segment -> a bound on its max
        # lsn. No successor bounds the newest segment, so without this
        # every poll of an idle stream would open and parse it again.
        # Segments are immutable once renamed into place.
        self._tail: tuple[tuple, int] | None = None

    # -- offset management (== slot restart LSN) ----------------------------

    def initialOffset(self) -> dict:
        return {"lsn": -1}

    def _rows(self, lo: int, hi: int | None) -> list[tuple]:
        """Staged rows with lsn in (lo, hi], in lsn order. A segment's rows
        lie below its successor's start, so segments wholly at or below
        ``lo`` are skipped unopened."""
        rows: list[tuple] = []
        segs = list_segments(self.path)
        for i, (seg_start, fpath) in enumerate(segs):
            if i + 1 < len(segs) and segs[i + 1][0] - 1 <= lo:
                continue
            if hi is not None and seg_start > hi:
                break
            try:
                if i + 1 < len(segs):
                    rows += _read_segment(fpath, lo, hi)
                else:
                    rows += self._read_tail(fpath, lo, hi)
            except FileNotFoundError:
                # the ack sweep prunes only segments wholly at or below the
                # committed frontier, which never passes ``lo``: a segment
                # that vanished after the listing held no row we need
                continue
        return rows

    def _read_tail(self, fpath: str, lo: int, hi: int | None) -> list[tuple]:
        """``_read_segment`` for the newest segment, which is skipped
        unopened while it is the one last read and its max lsn is at or
        below ``lo``."""
        st = os.stat(fpath)
        key = (fpath, st.st_size, st.st_ino)
        if self._tail is not None and self._tail[0] == key and self._tail[1] <= lo:
            return []
        rows = _read_segment(fpath, lo, hi)
        if hi is None:
            # lsn rises through a segment: its max is the last row read,
            # or at most ``lo`` when none was above it
            self._tail = (key, rows[-1][0] if rows else lo)
        return rows

    def read(self, start: dict):
        rows = self._rows(start["lsn"], None)
        end = {"lsn": rows[-1][0]} if rows else start
        # a list iterator: the prefetch cache copy.copy()s what we return,
        # which a generator does not survive
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(start["lsn"], end["lsn"]))


class WalDataSource(DataSource):
    """spark.readStream.format("pgwal").option("path", dir).load()"""

    @classmethod
    def name(cls) -> str:
        return "pgwal"

    def schema(self) -> str:
        return WAL_SCHEMA

    def simpleStreamReader(self, schema) -> WalStreamReader:  # noqa: ARG002
        return WalStreamReader(self.options)


def register(spark) -> None:
    """Register the source. The DataSource class is shipped to Python
    workers by cloudpickle; workers don't necessarily have this repo on
    sys.path, so pickle this module BY VALUE (self-contained bytes) rather
    than by module reference — otherwise a hosting process started outside
    the repo dies with ModuleNotFoundError in create_data_source."""
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # noqa: BLE001 — best effort; in-repo hosts still work
        pass
    spark.dataSource.register(WalDataSource)
