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
- ``commit(offset)`` is the ack: it records to ``<path>/_committed``; the
  live consumer loop tails that file and sends the ``StandbyStatusUpdate``
  that advances the slot's restart LSN
  (sources/pgoutput.py:forward_committed_acks). File-based because Spark
  executes these callbacks in the python-streaming-source runner process,
  not the user's.

The live producer is sources/pgoutput.py: a pgoutput slot consumer
(CREATE_REPLICATION_SLOT / START_REPLICATION / keepalive / ack) pumps the
socket into these segment files (``stream_to_segments``), so the file
contract stays the single source of truth for offsets while the socket is
just the producer.
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
    pruned_names = []
    for i in range(len(segs) - 1):
        if segs[i + 1][0] - 1 <= committed_lsn:
            try:
                os.remove(segs[i][1])
                removed += 1
                pruned_names.append(os.path.basename(segs[i][1]))
            except OSError:
                break
        else:
            break
    if pruned_names:
        # retire the pruned segments' TRUNCATE-tombstone counts: the
        # replay-parity warning is about tombstones still REPLAYABLE from
        # live segments, and a cumulative count warned forever after the
        # carrying segments were consumed and deleted (review r11)
        _drop_staged_truncates(path, pruned_names)
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
    n_trunc = sum(1 for m in messages if m.get("op") == "TRUNCATE")
    if n_trunc:
        note_staged_truncates(path, n_trunc, os.path.basename(fpath))
    return fpath


TRUNCATE_STAGE_MARKER = "_truncates_staged"


def _read_truncate_marker(path: str) -> dict:
    """The marker maps segment basename -> its TRUNCATE tombstone count.
    A legacy plain-int marker (the r11 cumulative form) is folded under
    a sentinel key so its conservative warning survives until the dir is
    fully drained."""
    try:
        with open(os.path.join(path, TRUNCATE_STAGE_MARKER)) as f:
            raw = f.read().strip()
    except OSError:
        return {}
    if not raw:
        return {}
    try:
        data = json.loads(raw)
    except ValueError:
        return {}
    if isinstance(data, dict):
        return data
    if isinstance(data, int):
        return {"_legacy": data}
    return {}


def _write_truncate_marker(path: str, data: dict) -> None:
    marker = os.path.join(path, TRUNCATE_STAGE_MARKER)
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump(data, f)
    os.rename(tmp, marker)


def _gc_marker_entries(path: str, data: dict) -> dict:
    """Drop marker entries that can never warn again (ADVICE r11): a
    per-segment entry whose file is gone (crash between a prune's
    os.remove and the marker rewrite — correctly excluded from the count
    already, but the file grew monotonically), and the '_legacy'
    cumulative sentinel once the dir holds no segment files at all (it
    has no file to check, so it otherwise warned forever even after the
    dir fully drained — the permanent-false-alarm class the per-segment
    form was introduced to fix)."""
    kept = {
        k: v
        for k, v in data.items()
        if k != "_legacy" and os.path.exists(os.path.join(path, k))
    }
    if "_legacy" in data and list_segments(path):
        kept["_legacy"] = data["_legacy"]
    return kept


def note_staged_truncates(path: str, n: int, segment: str) -> None:
    """Record ``n`` TRUNCATE tombstone rows staged into ``segment``
    (``TRUNCATE_STAGE_MARKER`` sidecar, per-segment counts). Written by
    the single active staging producer, read by Connector.start(): a
    replay of these segments through a connector whose on_truncate
    policy reverted to 'ignore' silently drops the tombstones and keeps
    rows the live view truncated — the marker lets start() warn loudly,
    with the count (review r11). Counts are PER SEGMENT so the ack
    sweep's prune retires them with the files — a cumulative total kept
    warning forever after the carrying segments were consumed, a
    permanent false alarm. Same tmp+rename protocol as the segments so
    a racing reader never sees a half-written marker. Every rewrite also
    garbage-collects dead entries (``_gc_marker_entries``)."""
    data = _gc_marker_entries(path, _read_truncate_marker(path))
    data[segment] = data.get(segment, 0) + n
    _write_truncate_marker(path, data)


def _drop_staged_truncates(path: str, segments: list[str]) -> None:
    data = _read_truncate_marker(path)
    if not data:
        return
    kept = _gc_marker_entries(
        path, {k: v for k, v in data.items() if k not in set(segments)}
    )
    if kept != data:
        _write_truncate_marker(path, kept)


def staged_truncate_count(path: str) -> int:
    """TRUNCATE tombstone rows still replayable from LIVE segments (0 if
    none). Entries whose segment file no longer exists are ignored — a
    crash between a prune's file delete and its marker rewrite must not
    resurrect the false alarm. The legacy cumulative sentinel (no file
    to check) counts only while the dir still holds segments: once fully
    drained nothing it described is replayable (ADVICE r11)."""
    data = _read_truncate_marker(path)
    total = 0
    legacy_live = None  # lazily probed: list_segments lists the dir
    for seg, n in data.items():
        if seg == "_legacy":
            if legacy_live is None:
                legacy_live = bool(list_segments(path))
            if legacy_live:
                total += int(n)
        elif os.path.exists(os.path.join(path, seg)):
            total += int(n)
    return total


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

    def commit(self, end: dict) -> None:
        """The ack (R12): advance the restart LSN. Spark runs this in the
        python-streaming-source runner process, so the live bridge is
        file-based: the record appended here is picked up by the consumer
        loop (pgoutput.forward_committed_acks) which owns the socket and
        sends the StandbyStatusUpdate."""
        try:
            with open(os.path.join(self.path, "_committed"), "a") as f:
                f.write(json.dumps(end) + "\n")
        except OSError:
            # swallowing keeps the STREAM alive (commit() must not kill a
            # healthy query over the ack side-channel), but a silent drop
            # stalls the slot's restart LSN invisibly — upstream retains
            # WAL forever while everything reports progress (review r7).
            # Log loudly; the next successful commit's larger cumulative
            # frontier supersedes this one.
            import logging

            logging.getLogger(__name__).warning(
                "pgwal commit record append failed (slot ack frontier "
                "will not advance until a later commit lands): %s",
                end,
                exc_info=True,
            )


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
