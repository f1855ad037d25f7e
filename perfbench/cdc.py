"""The ``cdc_live`` workload.

It drives the engine only through ``Connector`` against the paced
walsender process (``walsender.py``). Time points:

- a txn is *due* when the walsender's schedule says it is sent;
- it is *covered* when the Spark checkpoint's commit log holds a batch
  whose end offset reaches the txn's last change (the view holds it); the
  time is the commit file's modification time;
- it is *acked* when the walsender receives a StandbyStatusUpdate whose
  flushed LSN reaches the txn's commit end.
"""

from __future__ import annotations

import json
import os
import random
import re
import subprocess
import sys
import threading
import time
import urllib.request
from datetime import datetime

from perfbench import workload as W
from perfbench.common import CPUS, ROOT, median, pct, result
from perfbench.trace import (
    Tracer,
    max_job_id,
    spark_layer,
    spark_status,
    trace_path,
)
from perfbench.walsender import build

POLL_S = 0.01


class Sender:
    """Handle on one walsender process."""

    def __init__(self, sandbox, spec: dict) -> None:
        d = sandbox.fresh("walsender")
        spec = dict(spec, out=os.path.join(d, "result.json"))
        self.out = spec["out"]
        path = os.path.join(d, "spec.json")
        with open(path, "w") as f:
            json.dump(spec, f)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "walsender.py"), path],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            cwd=ROOT,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            self.kill()
            raise RuntimeError(f"walsender did not start: {line!r}")
        self.port = int(line[1])
        sandbox.defer(self.kill)

    def go(self) -> None:
        self.proc.stdin.write("GO\n")
        self.proc.stdin.flush()

    def stop(self) -> dict:
        self.proc.stdin.write("STOP\n")
        self.proc.stdin.close()
        self.proc.wait(timeout=30)
        with open(self.out) as f:
            return json.load(f)

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait(timeout=10)


def commit_log(checkpoint_dir: str) -> list[tuple[int, int, float]]:
    """(batch id, end offset LSN, commit time) for every committed batch."""
    commits = os.path.join(checkpoint_dir, "commits")
    out = []
    try:
        names = [n for n in os.listdir(commits) if n.isdigit()]
    except FileNotFoundError:
        return out
    for n in names:
        try:
            t = os.stat(os.path.join(commits, n)).st_mtime
            with open(os.path.join(checkpoint_dir, "offsets", n)) as f:
                lines = [ln for ln in f.read().splitlines() if ln.strip()]
            out.append((int(n), int(json.loads(lines[-1])["lsn"]), t))
        except (OSError, ValueError, KeyError, IndexError):
            continue
    return sorted(out)


def covered_at(log, lsn: int) -> float | None:
    for _b, end, t in log:
        if end >= lsn:
            return t
    return None


def wait_covered(conn, checkpoint_dir: str, lsn: int, timeout: float) -> bool:
    """Block until the commit log covers ``lsn`` (the event the warm-up and
    the drain wait for); raises if the streaming query failed."""
    deadline = time.time() + timeout
    next_health = 0.0
    while time.time() < deadline:
        log = commit_log(checkpoint_dir)
        if log and log[-1][1] >= lsn:
            return True
        if time.time() >= next_health:
            conn.wait_until_ready(timeout_sec=1)
            next_health = time.time() + 1.0
        time.sleep(POLL_S)
    return False


def make_connector(spark, sandbox, port: int):
    from go_pq_cdc_elasticsearch_spark.connector import (
        Connector,
        ConnectorConfig,
        ReplicationSettings,
    )

    d = sandbox.fresh("pipeline")
    cfg = ConnectorConfig(
        staged_dir=os.path.join(d, "staged"),
        view_path=os.path.join(d, "view"),
        checkpoint_dir=os.path.join(d, "checkpoint"),
        replication=ReplicationSettings(
            host="127.0.0.1", port=port, slot="perfbench"
        ),
        metric_port=0,
    )
    os.makedirs(cfg.staged_dir)
    conn = Connector(spark, cfg)
    sandbox.defer(conn.close)
    return conn, cfg


def view_mismatches(conn, expected: dict) -> int:
    """Keys whose row in the view differs from the expected state
    (missing, extra or different payload)."""
    from pyspark.sql import functions as F

    pdf = conn.read().select(
        "user_id",
        F.col("payload")["name"].alias("name"),
        F.col("payload")["balance"].alias("balance"),
    ).toPandas()
    got = {
        u: (n, b) for u, n, b in zip(pdf["user_id"], pdf["name"], pdf["balance"])
    }
    bad = sum(
        1 for k, row in expected.items()
        if got.get(k) != (row["name"], row["balance"])
    )
    bad += sum(1 for k in got if k not in expected)
    if len(pdf) != len(got):  # a key held twice
        bad += len(pdf) - len(got)
    return bad


def live_spec(cfg: dict, seed: int, seconds: float) -> dict:
    return {
        "rate": cfg["rate_txn_per_s"],
        "seed": seed,
        "txns": int(round(cfg["rate_txn_per_s"] * seconds)),
        "warm_seed": cfg["warm_seed"],
        "warm_txns": cfg["warm_txns"],
        "warm_changes_per_txn": cfg["warm_changes_per_txn"],
        "lead_txns": int(round(cfg["rate_txn_per_s"] * cfg["lead_s"])),
        "keys": cfg["keys"],
        "op_mix": cfg["op_mix"],
        "changes_per_txn": cfg["changes_per_txn"],
    }


# -- tracing ---------------------------------------------------------------


def install_tracer() -> Tracer:
    """Wrap the public entry points the CDC layers are reached through."""
    from pyspark.sql.streaming import DataStreamWriter

    from go_pq_cdc_elasticsearch_spark.sink import materialized as MV
    from go_pq_cdc_elasticsearch_spark.sources import pgoutput as PG
    from go_pq_cdc_elasticsearch_spark.sources import wal as WAL

    tr = Tracer()
    tr.count_py4j()

    def decoded(span, out, args, kwargs):
        span["change"] = isinstance(out, dict)

    tr.wrap(PG.PgOutputDecoder, "decode", "pgoutput.decode", after=decoded)

    def segment(span, out, args, kwargs):
        msgs = args[1]
        span["lsn_min"] = min(m["lsn"] for m in msgs)
        span["lsn_max"] = max(m["lsn"] for m in msgs)
        span["rows"] = len(msgs)

    tr.wrap(WAL, "write_wal_segment", "wal.write_segment", after=segment)
    tr.wrap(PG, "forward_checkpoint_acks", "pgoutput.forward_acks")
    tr.wrap(MV.MaterializedView, "read", "materialized.read")

    inner_merge = MV.MaterializedView.merge_batch

    def merge_batch(view, batch, epoch_id=None, lineage=None):
        before = _bucket_inodes(view.path)
        span = tr.open("materialized.merge_batch", epoch_id)
        ok = False
        try:
            inner_merge(view, batch, epoch_id=epoch_id, lineage=lineage)
            ok = True
        finally:
            after = _bucket_inodes(view.path)
            tr.close(
                span,
                ok=ok,
                buckets_touched=sum(
                    1 for b, ino in after.items() if before.get(b) != ino
                ),
            )

    MV.MaterializedView.merge_batch = merge_batch

    inner_fb = DataStreamWriter.foreachBatch

    def foreach_batch(writer, func):
        def batch(df, epoch_id):
            span = tr.open("connector.batch", epoch_id)
            try:
                return func(df, epoch_id)
            finally:
                tr.close(span)

        return inner_fb(writer, batch)

    DataStreamWriter.foreachBatch = foreach_batch
    return tr


def _bucket_inodes(path: str) -> dict[str, int]:
    try:
        return {
            n: os.stat(os.path.join(path, n)).st_ino
            for n in os.listdir(path)
            if n.startswith("__bucket=")
        }
    except FileNotFoundError:
        return {}


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _progress(spark) -> list[dict]:
    out = []
    for q in spark.streams.active:
        for p in q.recentProgress:
            out.append(json.loads(p.json))
    return out


def _batch_of(description: str) -> int | None:
    """Micro-batch id from a streaming job's description (``batch = N``)."""
    m = re.search(r"batch = (\d+)", description)
    return int(m.group(1)) if m else None


def _offset(v) -> int:
    """LSN of a pgwal offset as progress reports it (dict, JSON or null)."""
    if v is None:
        return -1
    return (json.loads(v) if isinstance(v, str) else v)["lsn"]


def layer_metrics(tr: Tracer, spark, t_from: float, job0: int,
                  progress: list[dict]) -> dict:
    """Per-layer figures of the CDC layers over spans started after
    ``t_from``, micro-batches triggered after it and jobs with id >
    ``job0``."""
    def win(name):
        return [s for s in tr.named(name) if s["t0"] >= t_from]

    status = spark_status(spark, job0)
    tr.extra.update(spark_jobs=status["jobs"], progress=progress)
    decode = win("pgoutput.decode")
    segs = win("wal.write_segment")
    merges = [s for s in win("materialized.merge_batch") if s["ok"]]
    reads = win("materialized.read")
    prog = [p for p in progress if p.get("numInputRows", 0) > 0
            and _ts(p["timestamp"]) >= t_from]
    dur = [p.get("durationMs", {}) for p in prog]

    jobs_of: dict[int, list[dict]] = {}
    for j in status["jobs"]:
        b = _batch_of(j["description"])
        if b is not None:
            jobs_of.setdefault(b, []).append(j)
    merge_jobs = [
        sum(1 for j in jobs_of.get(s["key"], [])
            if s["t0"] * 1e3 <= j["submitted_ms"] <= s["t1"] * 1e3)
        for s in merges
    ]
    # the source plans one partition per staged segment that overlaps the
    # batch's offset range, so a stage scanning it has that many tasks;
    # only counted above the shuffle partition count (CPUS), where no
    # other stage of a batch has as many tasks
    starts = sorted(s["lsn_min"] for s in segs)
    seg_tasks, scans = [], []
    for p in prog:
        lo = _offset(p["sources"][0]["startOffset"])
        hi = _offset(p["sources"][0]["endOffset"])
        n = sum(
            1 for i, a in enumerate(starts)
            if a <= hi and (i + 1 == len(starts) or starts[i + 1] - 1 > lo)
        )
        seg_tasks.append(n)
        if n > CPUS:
            scans.append(sum(
                j["stage_tasks"].count(n) for j in jobs_of.get(p["batchId"], [])
            ))
    self_merge = [tr.self_time(s) for s in merges]

    def med(v):
        return median(v) if v else 0.0

    return {
        "pgoutput.decode_s": (sum(s["t1"] - s["t0"] for s in decode), "s"),
        "pgoutput.changes": (sum(1 for s in decode if s.get("change")), "count"),
        "wal.segments": (len(segs), "count"),
        "wal.segment_write_s": (sum(s["t1"] - s["t0"] for s in segs), "s"),
        "wal.latest_offset_s": (med([d.get("latestOffset", 0) / 1e3 for d in dur]), "s"),
        "wal.source_tasks_per_batch": (med(seg_tasks), "count"),
        "wal.source_scans_per_batch": (med(scans), "count"),
        "connector.batches": (len(prog), "count"),
        "connector.rows_per_batch_p50": (med([p["numInputRows"] for p in prog]), "count"),
        "connector.trigger_overhead_s": (med([
            (d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3 for d in dur
        ]), "s"),
        "connector.jobs_per_batch": (
            med([len(jobs_of.get(p["batchId"], [])) for p in prog]), "count"),
        "connector.py4j_per_batch": (
            med([s["py4j"] for s in win("connector.batch")]), "count"),
        "materialized.merge_p50_s": (med(self_merge), "s"),
        "materialized.merge_p99_s": (pct(self_merge, 99) if merges else 0.0, "s"),
        "materialized.merge_jobs_p50": (med(merge_jobs), "count"),
        "materialized.buckets_touched_p50": (
            med([s["buckets_touched"] for s in merges]), "count"),
        "materialized.read_s_p50": (med([s["t1"] - s["t0"] for s in reads]), "s"),
        **spark_layer(status),
    }


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


# -- cdc_live --------------------------------------------------------------


class OpenLoop(threading.Thread):
    """One client calling ``op(i)`` at ``t0 + i * period`` for every due
    time before ``t_end``. A slow call delays the next call, never its
    due time, and latency is taken from the due time (an open loop)."""

    def __init__(self, t0: float, t_end: float, period: float, op) -> None:
        super().__init__(daemon=True)
        self.t0, self.t_end, self.period, self.op = t0, t_end, period, op
        self.records: list[tuple[float, float, bool]] = []

    def run(self) -> None:
        i = 0
        while True:
            due = self.t0 + i * self.period
            if due >= self.t_end:
                return
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            ok = self.op(i)
            self.records.append((due, time.time(), ok))
            i += 1


def run_live(args, cfg, sandbox, session, t_process, tr) -> dict:
    spec = live_spec(cfg, args.seed, args.seconds)
    warm, lead, txns = build(spec)
    expected = W.expected_state(warm + lead + txns)

    spark = session.start()
    sender = Sender(sandbox, spec)
    conn, ccfg = make_connector(spark, sandbox, sender.port)
    conn.start()
    if not wait_covered(conn, ccfg.checkpoint_dir,
                        warm[-1].last_change_lsn, cfg["drain_timeout_s"]):
        raise RuntimeError("warm-up batch never committed")

    from pyspark.sql import functions as F

    rng = random.Random(args.seed ^ 0x100C)
    lookup_keys = [str(rng.randrange(cfg["keys"])) for _ in range(cfg["lookups"])]
    url = f"http://127.0.0.1:{conn.metric_port}/metrics"

    def lookup(k: str) -> bool:
        """Point lookup on the drained view; its row must be the expected
        state of ``k`` (no row for a deleted or never-written key)."""
        try:
            rows = conn.read().filter(F.col("user_id") == k).collect()
        except Exception:  # noqa: BLE001 — counted, never retried
            return False
        want = expected.get(k)
        got = [(r["payload"]["name"], r["payload"]["balance"]) for r in rows]
        return got == ([] if want is None else [(want["name"], want["balance"])])

    scrape_s: list[float] = []

    def scrape(_i: int) -> bool:
        t = time.time()
        try:
            with urllib.request.urlopen(url, timeout=5) as resp:
                body = resp.read().decode()
                ok = resp.status == 200
        except OSError:
            return False
        scrape_s.append(time.time() - t)
        return ok and all(f"go_pq_cdc_elasticsearch_{m}" in body for m in (
            "process_latency_current", "index_total", "delete_total"))

    # set-up ends with the lead-in: the walsender sends it on the measured
    # schedule, so the window starts on a warm pipeline at its steady pace
    sender.go()
    t_go = time.time() + cfg["lead_s"]
    time.sleep(max(0.0, t_go - time.time()))
    setup_s = t_go - t_process
    job0 = max_job_id(spark) if tr else -1
    py4j0 = tr.py4j if tr else 0
    t_end = t_go + args.seconds
    scraper = OpenLoop(t_go, t_end, cfg["scrape_every_s"], scrape)
    scraper.start()
    time.sleep(max(0.0, t_end - time.time()))
    scraper.join()
    drained = wait_covered(conn, ccfg.checkpoint_dir, txns[-1].last_change_lsn,
                           cfg["drain_timeout_s"])
    drain_s = time.time() - t_end
    # lookups run on the drained view, where no merge swaps a bucket
    # directory under them: during merges a read fails at random
    # (FILE_NOT_EXIST on a swapped bucket), see workloads.json
    lookups = []
    for k in lookup_keys:
        t = time.time()
        ok = lookup(k)
        lookups.append((t, time.time(), ok))
    if tr:
        # the consumer acks on its ack interval; give it two to ack the
        # tail (ack latency is a traced metric only)
        time.sleep(2 * ccfg.replication.ack_interval_sec + 0.2)
    py4j_window = tr.py4j - py4j0 if tr else 0
    progress = _progress(spark) if tr else []
    conn.close()
    gen = sender.stop()
    log = commit_log(ccfg.checkpoint_dir)
    bad_keys = view_mismatches(conn, expected)

    due, sent = gen["due"][len(lead):], gen["sent"][len(lead):]
    fresh = []
    for t, d in zip(txns, due):
        c = covered_at(log, t.last_change_lsn)
        fresh.append(float("inf") if c is None else c - d)
    acks = sorted(gen["acks"])
    ack_lat = []
    for t, d in zip(txns, due):
        a = next((at for at, fl in acks if fl >= t.end_lsn), None)
        ack_lat.append(float("inf") if a is None else a - d)
    scrapes = scraper.records
    ok_lookups = [done - d for d, done, ok in lookups if ok]
    failed_lookups = sum(1 for *_x, ok in lookups if not ok)
    failed_scrapes = sum(1 for *_x, ok in scrapes if not ok)
    uncovered = sum(1 for f in fresh if f == float("inf"))
    attempted = len(txns) + len(lookups) + len(scrapes)
    # a txn fails if it was never served or the view lost or garbled a key
    failed = failed_lookups + failed_scrapes + min(max(uncovered, bad_keys), len(txns))
    correct = (drained and bad_keys == 0 and failed_lookups == 0
               and len(due) == len(txns))

    print(f"perfbench: setup {round(setup_s, 2)} s, "
          f"{len(log)} batches committed, drain {round(drain_s, 1)} s, "
          f"failed: {failed_lookups} lookups, {failed_scrapes} scrapes, "
          f"{uncovered} txns uncovered, {bad_keys} keys wrong",
          file=sys.stderr)
    # freshness: a txn's latency from its due time to visible in the view
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (_finite(median(fresh)), "s"),
        "latency_p99_s": (_finite(pct(fresh, 99)), "s"),
    }
    if not tr:
        return result(correct, attempted, failed, e2e)

    tr.py4j_enabled = False
    layers = layer_metrics(tr, spark, t_go, job0, progress)
    layers["py4j.round_trips"] = (py4j_window, "count")
    # blocking path per txn: due -> staged (its segment written) -> batch
    # start (trigger timestamp) -> batch end, each part measured on its own
    segs = sorted((s["lsn_max"], s["t1"]) for s in tr.named("wal.write_segment")
                  if s["t0"] >= t_go - 5)
    starts = sorted(
        (_offset(p["sources"][0]["endOffset"]), _ts(p["timestamp"]),
         p.get("durationMs", {}).get("triggerExecution", 0) / 1e3)
        for p in progress if p.get("numInputRows", 0) > 0
    )
    staging, trigger, batch, explained = [], [], [], []
    early = 0
    for t, d in zip(txns, due):
        st = next((ts for lsn, ts in segs if lsn >= t.last_change_lsn), None)
        bs = next(((ts, ex) for lsn, ts, ex in starts
                   if lsn >= t.last_change_lsn), None)
        if st is None or bs is None or covered_at(log, t.last_change_lsn) is None:
            continue
        # a segment written after the trigger's timestamp but before its
        # latestOffset call is still in that batch: no wait, counted
        early += bs[0] < st
        staging.append(st - d)
        trigger.append(max(0.0, bs[0] - st))
        batch.append(bs[1])
        explained.append(staging[-1] + trigger[-1] + batch[-1])
    ack_delay = []
    for _b, lsn, tc in log:
        if tc < t_go:
            continue
        ends = [t.end_lsn for t in txns if t.last_change_lsn <= lsn]
        if ends:
            a = next((at for at, fl in acks if fl >= ends[-1]), None)
            if a is not None:
                ack_delay.append(a - tc)
    live_rows = len(expected)
    layers.update({
        "pgoutput.ack_p99_s": (_finite(pct(ack_lat, 99)), "s"),
        "pgoutput.ack_delay_p50_s": (median(ack_delay) if ack_delay else 0.0, "s"),
        "materialized.lookup_p50_s": (median(ok_lookups) if ok_lookups else 0.0, "s"),
        "materialized.lookup_p90_s": (pct(ok_lookups, 90) if ok_lookups else 0.0, "s"),
        "materialized.read_failed": (failed_lookups, "count"),
        "materialized.bytes_per_live_row": (
            _dir_bytes(ccfg.view_path) / max(live_rows, 1), "bytes"),
        "metrics.scrape_s": (median(scrape_s) if scrape_s else 0.0, "s"),
        "metrics.scrape_failed": (failed_scrapes, "count"),
        "gen.late_p99_s": (pct([s - d for s, d in zip(sent, due)], 99), "s"),
        "path.staging_wait_p50_s": (median(staging) if staging else 0.0, "s"),
        "path.trigger_wait_p50_s": (median(trigger) if trigger else 0.0, "s"),
        "path.batch_p50_s": (median(batch) if batch else 0.0, "s"),
        "path.trigger_wait_negative": (early, "count"),
        # the three parts over freshness, summed over all covered txns.
        # The batch part is Spark's own triggerExecution timer, not the
        # commit file's time, so the share leaves 1 when the commit lands
        # outside the trigger's timer, when a segment overlaps a trigger
        # (above 1) or when a txn's segment or batch is not traced (below
        # 1). It cannot see an error in the staging part, which shares its
        # start (the due time) with freshness.
        "path.explained_share": (
            sum(explained)
            / max(sum(f for f in fresh if f != float("inf")), 1e-9), "ratio"),
        "failed_share": (failed / max(attempted, 1), "ratio"),
        **{f"traced.{k}": v for k, v in e2e.items()},
    })
    return result(correct, attempted, failed, layers)


def _finite(v: float) -> float:
    """+inf (a txn never served) cannot be written as JSON; such a run
    is already failed and incorrect, so report a large sentinel."""
    return v if v != float("inf") else 1e9


def run(args, cfg, sandbox, session, t_process) -> dict:
    tr = install_tracer() if args.trace else None
    try:
        return run_live(args, cfg, sandbox, session, t_process, tr)
    finally:
        if tr:
            tr.dump(trace_path(args))
