"""Manifest-committed parquet file store: the one publish protocol behind
the keyed view (``MaterializedView``, ``ContinuousAggregate``, the
deduper's kept view) and the band index (``_BandSegmentIndex``).

Layout under ``path``::

    __bucket=<b>/<name>.parquet   immutable data files, never rewritten
    __epoch=<seq>/<name>.parquet  the deduper's corpus text (kept view only)
    _manifest/<gen>.json          one full snapshot per commit
    _staging/<id>/                a Spark write in flight

A manifest names its files in file groups, each mapping a key to
relative paths: ``files`` (bucket -> the view's or the index's data) and,
in the deduper's kept view, ``corpus`` (epoch seq -> the text of the rows
that epoch kept, with its own ``corpus_schema``). Both groups commit in
the same snapshot, so the kept ids, the corpus text and the frontier
become visible together.

A write lands in its own staging dir, and its files are then renamed
into their group dirs under the unique names Spark gave them. Nothing
is visible until a commit names the files. A commit writes the complete
next snapshot to a temp file and ``os.link``s it to
``_manifest/<gen+1>.json``. ``link`` fails when the name exists, so of
two writers that read the same generation exactly one commits and the
other gets ``FencedWriterError``: the commit is atomic and conditional.

A reader resolves the newest generation once and reads the explicit file
list it records, with the schema it records. Every read is a snapshot;
no data directory is listed. A file a commit drops stays on disk for
``GC_GRACE_S`` (the manifest carries it under ``retired``), so a reader
that resolved an older generation within that period still finds every
file it was given. After that the next commit deletes it, together with
files no commit ever named (a failed or interrupted write) and pruned
manifests.

Crash points: before the link, the previous generation stays newest and
the new files are orphans GC removes; after the link, the commit is
complete and only GC is pending. Neither needs repair code on open.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_COL = "__bucket"
EPOCH_COL = "__epoch"
# seconds an unreferenced file (or manifest) outlives the commit that
# dropped it: the longest a reader may hold a resolved snapshot
GC_GRACE_S = 60.0

_MANIFEST = "_manifest"
_STAGING = "_staging"
# file group -> the column whose value names its files' dirs (<col>=<key>/)
_GROUPS = {"files": BUCKET_COL, "corpus": EPOCH_COL}


class FencedWriterError(RuntimeError):
    """A commit lost its generation: another writer committed first (a
    standby took over, or this writer's base snapshot is stale), or the
    newest manifest carries a newer fence token than the one this writer
    acquired. The only safe response is to stop — retrying would write
    behind the legitimate active."""


class ManifestStore:
    """Manifest commits, snapshot reads and GC for one store directory.
    Manifests are plain dicts; each file group maps its key (a bucket, an
    epoch seq) -> relative paths."""

    def __init__(self, path: str):
        self.path = path
        self._mdir = os.path.join(path, _MANIFEST)
        self._swept_at: float | None = None

    def _gens(self) -> list[int]:
        try:
            names = os.listdir(self._mdir)
        except FileNotFoundError:
            return []
        return sorted(
            int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
        )

    def latest(self) -> dict | None:
        """The newest committed snapshot, with its ``gen``; None before the
        first commit."""
        while True:
            gens = self._gens()
            if not gens:
                return None
            try:
                with open(os.path.join(self._mdir, f"{gens[-1]}.json")) as f:
                    snap = json.load(f)
            except FileNotFoundError:
                continue  # a stale writer withdrew its link: list again
            snap["gen"] = gens[-1]
            for g in _GROUPS.keys() & snap.keys():
                snap[g] = {int(k): v for k, v in snap[g].items()}
            return snap

    def commit(self, base: dict | None, snap: dict) -> dict:
        """Publish ``snap`` as generation ``base.gen + 1`` (1 when ``base``
        is None), then run GC. Files ``base`` listed and ``snap`` does not
        become ``retired``."""
        gen = (base["gen"] if base else 0) + 1
        now = time.time()
        live = _live(snap)
        retired = {
            rel: t
            for rel, t in (base or {}).get("retired", {}).items()
            if now - t < GC_GRACE_S and rel not in live
        }
        retired.update((rel, now) for rel in _live(base or {}) - live)
        snap = {**snap, "retired": retired}
        snap.pop("gen", None)
        os.makedirs(self._mdir, exist_ok=True)
        tmp = os.path.join(self._mdir, f".{uuid.uuid4().hex}.tmp")
        final = os.path.join(self._mdir, f"{gen}.json")
        with open(tmp, "w") as f:
            json.dump(snap, f)
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise FencedWriterError(
                f"commit to {self.path} lost generation {gen}: another "
                f"writer committed it first"
            ) from None
        finally:
            os.unlink(tmp)
        newest = self._gens()[-1]
        if newest != gen:
            # a newer generation already exists: the name was free only
            # because GC had pruned it (this writer's base is older than
            # the grace period), or a second writer raced this one. Both
            # are outside the single-writer contract: withdraw and stop.
            os.unlink(final)
            raise FencedWriterError(
                f"commit to {self.path} from generation {gen - 1} lost: "
                f"the store is at generation {newest}"
            )
        snap["gen"] = gen
        self._gc(snap, now)
        return snap

    def write(
        self, df: DataFrame, n_buckets: int, col: str = BUCKET_COL
    ) -> dict[int, list[str]]:
        """Write ``df`` (carrying the group column ``col``) as new files,
        one per key it holds rows for, and return their relative paths per
        key. A 1-bucket write coalesces instead of shuffling: the hash
        exchange would only collapse the rows to one task."""
        staging = os.path.join(self.path, _STAGING, uuid.uuid4().hex)
        aligned = (
            df.coalesce(1) if n_buckets == 1 else df.repartition(n_buckets, F.col(col))
        )
        try:
            aligned.write.partitionBy(col).parquet(staging)
            out: dict[int, list[str]] = {}
            for d in os.listdir(staging):
                if not d.startswith(col + "="):
                    continue
                os.makedirs(os.path.join(self.path, d), exist_ok=True)
                for name in os.listdir(os.path.join(staging, d)):
                    if name.endswith(".parquet"):
                        rel = f"{d}/{name}"
                        os.rename(
                            os.path.join(staging, rel), os.path.join(self.path, rel)
                        )
                        out.setdefault(int(d.split("=", 1)[1]), []).append(rel)
            return out
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def paths(
        self, snap: dict, group: str = "files", keys: list[int] | None = None
    ) -> list[str]:
        """Absolute paths of the files ``group`` lists in ``snap`` (all, or
        only those under ``keys``)."""
        return [
            os.path.join(self.path, rel)
            for k, rels in snap.get(group, {}).items()
            if keys is None or k in keys
            for rel in rels
        ]

    def read(
        self, spark: SparkSession, snap: dict, buckets: list[int] | None = None
    ) -> DataFrame | None:
        """The files of ``snap`` (all, or only ``buckets``) with the
        recorded schema plus ``BUCKET_COL``; None when there are none. A
        file missing a recorded column reads it as NULL."""
        files = self.paths(snap, keys=buckets)
        if not files:
            return None
        schema = T.StructType.fromJson(snap["schema"]).add(BUCKET_COL, T.IntegerType())
        return (
            spark.read.schema(schema).option("basePath", self.path).parquet(*files)
        )

    def _gc(self, snap: dict, now: float) -> None:
        """Delete retired files past the grace period, manifests older than
        it, and (at most once per grace period per store object) every
        file in the store no commit names that is older than it."""
        for rel in snap["retired"]:
            if now - snap["retired"][rel] >= GC_GRACE_S:
                _remove(os.path.join(self.path, rel))
        for name in os.listdir(self._mdir):
            p = os.path.join(self._mdir, name)
            if name != f"{snap['gen']}.json" and _older(p, now):
                _remove(p)
        if self._swept_at is not None and now - self._swept_at < GC_GRACE_S:
            return
        self._swept_at = now
        named = set(snap["retired"]) | _live(snap)
        prefixes = tuple(c + "=" for c in _GROUPS.values())
        for d in os.listdir(self.path):
            p = os.path.join(self.path, d)
            if d == _STAGING:
                for s in os.listdir(p):
                    if _older(os.path.join(p, s), now):
                        shutil.rmtree(os.path.join(p, s), ignore_errors=True)
            elif d.startswith(prefixes):
                for name in os.listdir(p):
                    if f"{d}/{name}" not in named and _older(
                        os.path.join(p, name), now
                    ):
                        _remove(os.path.join(p, name))
                try:
                    os.rmdir(p)  # only succeeds once the dir is empty
                except OSError:
                    pass


def _live(snap: dict) -> set[str]:
    """Every file any group of ``snap`` names."""
    return {
        rel for g in _GROUPS for rels in snap.get(g, {}).values() for rel in rels
    }


def union_schema(recorded: dict | None, schema: T.StructType) -> dict:
    """The recorded schema plus the columns of ``schema`` it lacks: a
    group's schema only grows, and files written before a column existed
    read it as NULL."""
    if recorded is None:
        return schema.jsonValue()
    names = {f["name"] for f in recorded["fields"]}
    added = [f for f in schema.jsonValue()["fields"] if f["name"] not in names]
    return {**recorded, "fields": recorded["fields"] + added}


def _older(p: str, now: float) -> bool:
    try:
        return now - os.path.getmtime(p) >= GC_GRACE_S
    except FileNotFoundError:
        return False


def _remove(p: str) -> None:
    try:
        os.remove(p)
    except FileNotFoundError:
        pass
