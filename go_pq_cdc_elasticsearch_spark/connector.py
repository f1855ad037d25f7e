"""Connector facade — lifecycle parity with the reference's public API.

Reference (connector.go:25-29): ``Connector`` exposes Start / WaitUntilReady
/ Close; construction wires config -> CDC source -> handler -> bulk sink
(NewConnector, connector.go:43-80). The engine mirrors that surface so a
reference user keeps their mental model:

    cfg = ConnectorConfig(
        staged_dir=...,            # change-feed location (file replay / live)
        view_path=...,             # materialized target ("the index")
        checkpoint_dir=...,        # slot/LSN analog
        table_index_mapping={...}, # R6 routing
        snapshot_mode="never"|"initial"|"snapshot_only",
    )
    c = Connector(spark, cfg, handler=None)   # None => simple handler preset
    c.start(); c.wait_until_ready(); ...; c.close()

Modes (connector.go:84-96): ``snapshot_only`` runs the batch backfill and
returns; ``initial`` backfills then streams; ``never`` streams only.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from go_pq_cdc_elasticsearch_spark.sink.materialized import MaterializedView
from go_pq_cdc_elasticsearch_spark.sources.replay import read_event_stream

# reserved op value carrying a decoded TRUNCATE through the transform to
# the truncating foreachBatch wrapper (never merged as a row op)
TRUNCATE_MARKER = "__truncate__"


@dataclass
class ReplicationSettings:
    """Live logical-replication upstream (reference cdc config block,
    README.md:186-227): where the slot lives and what to subscribe to.
    The consumer (sources/pgoutput.py) runs in a daemon thread owned by
    the Connector — single connection per slot, like the reference.

    Staging cadence: the consumer writes a segment for the stream once
    ``batch_size`` changes have arrived or on the ack ticker
    (``ack_interval_sec``), whichever comes first, and forwards the
    committed frontier as a slot ack on the same ticker — the
    reference's bulk flushes on batchTickerDuration, then acks."""

    host: str
    port: int
    slot: str
    publication: str = "pub"
    user: str = "postgres"
    database: str = "postgres"
    password: str | None = None
    create_slot: bool = True
    # reference publication.createIfNotExists: CREATE PUBLICATION FOR ALL
    # TABLES over the walsender connection (logical replication
    # connections accept simple SQL), idempotent on duplicate_object.
    # Default False — most deployments scope publications to tables
    # explicitly, which is a DDL decision the operator should own.
    create_publication: bool = False
    batch_size: int = 200
    ack_interval_sec: float = 0.5
    # bounded TCP connect: an unreachable host must fail start() loudly,
    # not hang it for the OS default (minutes+) before wait_until_ready
    # can even run
    connect_timeout_sec: float = 15.0
    # pgoutput protocol: 1 (default, works on PG 10+) or 2 (PG 14+,
    # streamed in-progress transactions — large txns arrive while still
    # open instead of bursting at commit; the client buffers per xid with
    # a disk spill and still delivers at Stream Commit, so downstream
    # semantics are identical; see sources/pgoutput.py's module docstring)
    proto_version: int = 1
    # where v2 stream buffers spill past the in-memory threshold (None =
    # the system temp dir). A deployment sizes this like any spill volume:
    # a streamed txn exceeded the server's logical_decoding_work_mem, so
    # its spool can be GBs on a busy OLTP primary.
    stream_spill_dir: str | None = None
    # TLS for the walsender link (libpq sslmode semantics for the levels
    # that change client behavior): "disable" (default, plain TCP),
    # "require" (encrypt, no peer authentication), "verify-full" (cert
    # verified against ssl_ca_file + hostname match). Managed providers
    # commonly refuse non-SSL connections outright.
    ssl_mode: str = "disable"
    ssl_ca_file: str | None = None
    # per-session GUCs applied right after the startup handshake (SET
    # name = 'value' over the walsender connection — logical replication
    # connections accept simple SQL). The canonical use is
    # {"logical_decoding_work_mem": "64kB"} to force the server to
    # stream large transactions instead of buffering them (pairs with
    # proto_version=2); applied on every session the supervisor opens,
    # including reconnects, so the behavior survives failover.
    session_settings: dict = field(default_factory=dict)
    # TRUNCATE policy (r10). 'ignore' (default) = reference parity: count
    # + warn, view rows for the truncated table go stale until a snapshot
    # rebuild. 'tombstone_table' = the decoder emits a positioned
    # tombstone per truncated relation (transactional under v2) and the
    # Connector applies it: every view row at-or-below the truncate's
    # sequence is dropped, in-batch rows before it are discarded, acks
    # advance normally. Scope note: the default transform collapses table
    # identity into one keyed view, so the wipe covers every row that
    # ROUTED into this view — exact for the 1-table-per-view mapping the
    # reference's tableIndexMapping describes; a multi-table view should
    # keep 'ignore'. Replay parity: segments staged under
    # 'tombstone_table' contain TRUNCATE tombstone rows — replaying them
    # through a connector that reverted to 'ignore' drops the tombstones
    # (the view keeps rows the source truncated); start() detects the
    # staged-truncate marker and logs a warning with the count, but the
    # policy must STAY 'tombstone_table' for the staged dir's lifetime
    # to preserve parity (review r11).
    on_truncate: str = "ignore"
    # Logical-decoding message policy (r11). 'ignore' (default) =
    # reference parity: pg_logical_emit_message frames are counted
    # (decoder.messages_skipped) and dropped — the server is not even
    # asked to send them. 'envelope' asks the walsender for them
    # (``messages 'true'``, PG 14+) and surfaces each as a staged
    # envelope row: op 'MESSAGE', NULL table identity, ``after`` =
    # {"prefix", "content_b64", "transactional", "message_lsn"}.
    # Transactional messages are positioned inside their transaction
    # (buffered under v2 streaming, dropped on abort); non-transactional
    # ones are delivered immediately. The DEFAULT view transform drops
    # MESSAGE rows (no key image to merge) — consume them with a custom
    # transform (in-band watermarks, DDL signals) or read the staged
    # segments directly.
    on_message: str = "ignore"


@dataclass
class ConnectorConfig:
    staged_dir: str
    view_path: str
    checkpoint_dir: str
    table_index_mapping: dict[str, str] = field(default_factory=dict)
    snapshot_mode: str = "never"  # never | initial | snapshot_only
    keys: tuple[str, ...] = ("user_id",)
    seq_col: str = "event_id"
    op_col: str = "event_type"
    delete_op: str = "delete"
    max_files_per_trigger: int = 1
    processing_time: str = "1 second"
    replication: ReplicationSettings | None = None  # live pgoutput upstream
    # reference cdc.metric.port (README.md:245-274): when set, the
    # Connector serves GET /metrics (Prometheus exposition, the reference's
    # metric families/labels) and GET /status (200 while the pipeline is
    # healthy, 503 otherwise) on this port for the query's lifetime.
    # 0 = bind an ephemeral port (read it back from Connector.metric_port).
    metric_port: int | None = None
    metric_host: str = "127.0.0.1"


def wal_to_view_transform(cfg: ConnectorConfig):
    """Default transform for live replication: map pgwal envelope rows
    (lsn/op/before/after string maps) to the view's column contract —
    seq = lsn, op lower-cased with DELETE mapped to cfg.delete_op, key
    columns extracted from the row image. Payload values stay strings
    (pgoutput text format); cast downstream if typed columns are needed.

    When ``cfg.table_index_mapping`` is configured, R6 routing applies
    FIRST and unroutable tables are dropped (the reference acks-and-drops
    them, connector.go:147-152). Without the filter, a second published
    table with overlapping key values silently overwrote the view's rows
    (the transform discards table_schema/table_name, so every table's
    rows merged under cfg.keys alone — review r5)."""
    from pyspark.sql import functions as F

    def xform(df: DataFrame) -> DataFrame:
        if cfg.table_index_mapping:
            from go_pq_cdc_elasticsearch_spark.routing import IndexRouter

            df = IndexRouter(cfg.table_index_mapping).route(
                df, drop_unmapped=True
            )
        tombstones = (
            cfg.replication is not None
            and cfg.replication.on_truncate == "tombstone_table"
        )
        if not tombstones:
            # a TRUNCATE row can still appear without the policy: segments
            # staged by a tombstone_table run, replayed after a restart
            # that reverted to 'ignore'. Unintercepted, its NULL images
            # merged as a NULL-keyed live garbage row (review r10) — drop
            # it here, matching the decoder-never-emits baseline.
            df = df.filter(
                F.col("op").isNull() | (F.col("op") != "TRUNCATE")
            )
        # MESSAGE envelope rows (on_message='envelope') are signals, not
        # table rows — they carry no key image and would merge as NULL-key
        # garbage. The default transform ALWAYS drops them; a pipeline
        # that wants them (in-band watermarks, DDL hints) supplies its
        # own transform over the raw envelope stream.
        df = df.filter(F.col("op").isNull() | (F.col("op") != "MESSAGE"))
        img = F.coalesce(df["after"], df["before"])
        cols = [
            F.col("lsn").alias(cfg.seq_col),
            # TRUNCATE tombstones (tombstone_table mode) keep a reserved
            # marker the Connector's truncating writer intercepts before
            # the keyed merge
            F.when(F.col("op") == "DELETE", F.lit(cfg.delete_op))
            .when(F.col("op") == "TRUNCATE", F.lit(TRUNCATE_MARKER))
            .otherwise(F.lower("op"))
            .alias(cfg.op_col),
        ]
        cols += [img.getItem(k).alias(k) for k in cfg.keys]
        cols.append(img.alias("payload"))
        return df.select(*cols)

    return xform


def _read_once(inner):
    """Outermost foreachBatch wrapper: persist the micro-batch, run
    ``inner``, unpersist it (also when ``inner`` raises). Every action
    inside — the truncate probe, the merge's emptiness probe and merge,
    the metered counters — then reads the one materialization, so the
    source (e.g. the pgwal segments) is scanned once per micro-batch
    instead of once per action."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            inner(batch_df, epoch_id)
        finally:
            batch_df.unpersist()

    return write


class Connector:
    """Start/WaitUntilReady/Close over the streaming CDC pipeline.

    Each micro-batch is read from its source exactly once: the query's
    foreachBatch function persists the batch before the view's writer
    (and the truncate and metrics wrappers around it) runs its several
    actions over it, and unpersists it afterwards."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: ConnectorConfig,
        snapshot_df: DataFrame | None = None,
        transform=None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.snapshot_df = snapshot_df
        self.transform = transform  # optional DataFrame->DataFrame handler hook
        self.view = MaterializedView(
            spark,
            cfg.view_path,
            keys=cfg.keys,
            seq_col=cfg.seq_col,
            op_col=cfg.op_col,
            delete_op=cfg.delete_op,
        )
        self._query = None
        self._repl_client = None
        self._repl_thread = None
        self._repl_stop = None
        # metrics endpoint state (cfg.metric_port): the registry serving
        # /metrics + /status, the bound port, and the Spark listener that
        # feeds per-micro-batch observed counters into the registry
        self.metrics = None
        self.metric_port: int | None = None
        self._metrics_listener = None
        # consumer supervision state (see _start_replication_consumer):
        # restarts counts healthy reconnects; error records the
        # non-reconnectable exception that ended supervision, if any
        self.consumer_restarts = 0
        self.consumer_error: BaseException | None = None
        # close()-abort signal for start_as_standby's polling loop: the
        # consumer's _repl_stop only exists once START_REPLICATION has
        # SUCCEEDED — exactly what keeps failing while the standby waits —
        # so the standby needs its own always-present event (review r10)
        import threading as _threading

        self._standby_abort = _threading.Event()

    # -- lifecycle (reference connector.go:82-127) --------------------------

    def _connect_replication(self):
        """Connect + handshake + create the slot — WITHOUT starting the
        stream. Split from the consumer start so initial-mode can create
        the slot BEFORE reading the snapshot: the slot's consistent point
        is set at CREATE_REPLICATION_SLOT, so every change after it is
        retained in WAL for the slot — a change landing between the
        snapshot read and slot creation would be in NEITHER (served stale
        forever). START_REPLICATION itself stays deferred until after the
        snapshot merge: once CopyBoth starts the server streams frames,
        and nobody would drain them during a long backfill (socket
        backpressure + unanswered keepalives).

        RETURNS the new client; the caller assigns ``self._repl_client``
        only once it is usable. Assigning mid-handshake let close()'s
        final ack sweep target a half-open reconnect attempt instead of
        the last GOOD session (review r6). The socket keeps
        ``connect_timeout_sec`` through the whole handshake — a peer that
        accepts TCP but never answers (listener backlog, half-dead
        failover VIP) must fail the attempt, not hang the supervisor;
        streaming reads switch to unbounded after START_REPLICATION."""
        import socket

        from go_pq_cdc_elasticsearch_spark.sources import pgoutput as PG

        rs = self.cfg.replication
        # bounded connect: an unreachable/filtered host must surface as an
        # error here, not hang start() before wait_until_ready can run
        sock = socket.create_connection(
            (rs.host, rs.port), timeout=rs.connect_timeout_sec
        )
        if rs.ssl_mode != "disable":
            # TLS negotiation must precede the startup packet; a refusal
            # ('N') raises rather than downgrading. On failure close the
            # raw socket — negotiate_ssl only returns a wrapped one.
            try:
                sock = PG.negotiate_ssl(
                    sock, rs.host, rs.ssl_mode, rs.ssl_ca_file
                )
            except BaseException:
                try:
                    sock.close()
                except OSError:
                    pass
                raise
        client = PG.ReplicationClient(
            sock,
            slot=rs.slot,
            publication=rs.publication,
            proto_version=rs.proto_version,
            stream_spill_dir=rs.stream_spill_dir,
            on_truncate=rs.on_truncate,
            on_message=rs.on_message,
        )
        try:
            # a backend rejects any command before the startup handshake
            client.startup(
                user=rs.user, database=rs.database, password=rs.password
            )
            import re as _re

            for name, value in rs.session_settings.items():
                # identifier-only name guard: GUC names are [a-z0-9_.]
                # and an unvalidated f-string here would be an injection
                # surface on a connection that can run arbitrary SQL
                if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", name):
                    raise ValueError(f"invalid session setting name {name!r}")
                sval = str(value).replace("'", "''")
                client._run_simple_query(f"SET {name} = '{sval}'", "SET")
            if rs.create_publication:
                # publication BEFORE slot: the slot's consistent point
                # should see the publication in place (matches the
                # reference's publication.createIfNotExists ordering)
                client.create_publication()
            if rs.create_slot:
                client.create_slot()
        except BaseException:
            # release the session: a handshake failure must not leak an
            # open walsender (slot reported 'in use' to the next starter)
            try:
                client.close()
            except Exception:  # noqa: BLE001
                pass
            raise
        return client

    def _start_replication_consumer(self) -> None:
        """START_REPLICATION and pump the socket into staged_dir in a
        SUPERVISED daemon thread (reference: go-pq-cdc's listener
        goroutine, connector.go:129-172, which likewise reconnects on
        connection loss). run_live_consumer returns — instead of raising —
        on socket breaks, clean server stream ends, and reconnectable
        57P0x terminations (admin kill, crash shutdown, failover); without
        a supervisor that return silently and permanently halts
        replication behind a healthy-looking Connector (review r6). The
        supervisor reconnects on the SAME slot with capped exponential
        backoff; redelivery from the slot's confirmed position is the
        at-least-once contract the seq-resolved view absorbs. A
        non-reconnectable error (slot invalidation, decode bug) is
        recorded in ``self.consumer_error`` and ends supervision — the
        silent-halt failure mode stays surfaced via ``consumer_error`` /
        ``consumer_restarts``."""
        import threading

        self._repl_client.start()
        # Fence the view the moment the slot is won (START_REPLICATION
        # succeeded above; a refused 55006 standby attempt raised there
        # and never reaches this line, so a polling standby can never
        # fence the healthy active) and BEFORE the consumer thread stages
        # a single segment: a zombie previous active — replication
        # connection gone but Spark query still running on the shared
        # staged dir — must see the bumped generation before any segment
        # this instance produces can wake its query, or the two could
        # swap buckets concurrently. Bumped ONLY at start, never on the
        # supervisor's reconnects: the same instance re-winning its slot
        # keeps its token (re-acquiring would race its own running
        # merges), and an active that reconnects after a full
        # takeover-and-death cycle of a standby finds itself fenced —
        # the safe direction (operator decides who owns the view).
        # Closes the README runbook's fencing caveat (review r11).
        self.view.acquire_fence()
        # streaming reads are select()-paced, not timed: drop the
        # handshake timeout once CopyBoth is established
        self._repl_client.sock.settimeout(None)
        self._repl_stop = threading.Event()
        self.consumer_restarts = 0
        self.consumer_error: BaseException | None = None
        self._repl_thread = threading.Thread(
            target=self._supervised_consume, daemon=True
        )
        self._repl_thread.start()

    def _supervised_consume(self) -> None:
        import logging

        from go_pq_cdc_elasticsearch_spark.sources import pgoutput as PG

        log = logging.getLogger(__name__)
        rs = self.cfg.replication
        backoff = 1.0
        while True:
            try:
                PG.run_live_consumer(
                    self._repl_client,
                    self.cfg.staged_dir,
                    checkpoint_dir=self.cfg.checkpoint_dir,
                    stop_event=self._repl_stop,
                    batch_size=rs.batch_size,
                    ack_interval_sec=rs.ack_interval_sec,
                    # a partial segment is staged on the ack ticker, like
                    # the reference's bulk flushing on batchTickerDuration
                    flush_interval_sec=rs.ack_interval_sec,
                )
            except BaseException as e:  # noqa: BLE001 — record, never vanish
                self.consumer_error = e
                log.exception(
                    "replication consumer stopped on a non-reconnectable "
                    "error; replication is halted"
                )
                return
            if self._repl_stop.is_set():
                return
            # connection ended without a stop request: reconnect on the
            # same slot, retrying INSIDE this inner loop. A failed attempt
            # must NOT fall back into run_live_consumer on the old client
            # (review r7): a cleanly-ended stream (CopyDone) leaves the
            # old socket open-but-silent, so a re-entered poll() would
            # heartbeat forever and the supervisor would never reach the
            # reconnect code again — replication silently halted, the
            # exact failure mode this supervisor exists for.
            # stop_event.wait doubles as the backoff sleep so close()
            # isn't delayed by it.
            while True:
                log.warning(
                    "replication connection ended; reconnecting to %s:%s "
                    "slot=%s in %.1fs",
                    rs.host, rs.port, rs.slot, backoff,
                )
                if self._repl_stop.wait(backoff):
                    return
                backoff = min(backoff * 2, 30.0)
                # establish the NEW session fully BEFORE touching
                # self._repl_client or the old socket: close()'s final ack
                # sweep must always target the last GOOD session, and a
                # cleanly-ended stream leaves the old socket usable for
                # acks while the server refuses new sessions
                old = self._repl_client
                try:
                    new = self._connect_replication()
                    new.start()
                    new.sock.settimeout(None)  # streaming: select()-paced
                except BaseException as e:  # noqa: BLE001
                    if self._repl_stop.is_set():
                        return
                    # server still down: retry with the grown backoff
                    log.warning("replication reconnect failed: %s", e)
                    continue
                self._repl_client = new
                if old is not None:
                    try:
                        old.close()
                    except Exception:  # noqa: BLE001
                        pass
                if self._repl_stop.is_set():
                    # close() ran while we were mid-handshake: it swept and
                    # closed the OLD client and will never see this one —
                    # without this check the fresh walsender session leaked
                    # for the process lifetime, holding the slot 'in use'
                    # (review r7)
                    try:
                        new.close()
                    except Exception:  # noqa: BLE001
                        pass
                    return
                self.consumer_restarts += 1
                backoff = 1.0  # healthy reconnect: reset
                break

    def start(self, available_now: bool = False) -> "Connector":
        mode = self.cfg.snapshot_mode
        if mode not in ("never", "initial", "snapshot_only"):
            # a typo ('Initial', 'snapshot-only') must not silently become
            # a stream-only pipeline with an empty view
            raise ValueError(
                f"unknown snapshot_mode {mode!r}: expected "
                f"'never', 'initial' or 'snapshot_only'"
            )
        if mode in ("initial", "snapshot_only") and self.snapshot_df is None:
            # validate BEFORE opening a walsender session: raising after
            # _connect_replication would leave the session open (and a
            # created slot "in use") so a corrected retry hits
            # 'replication slot is in use' unless close() is called
            raise ValueError(f"snapshot_mode={mode} requires snapshot_df")
        try:
            if self.cfg.replication is not None and mode != "snapshot_only":
                # slot first, snapshot second — see _connect_replication.
                # INSIDE the cleanup try: a failure mid-handshake (an
                # auth rejection after the socket was assigned, a
                # non-duplicate create_slot error) must also release the
                # session, or a start() retry orphans an open walsender
                self._repl_client = self._connect_replication()
            return self._start_after_connect(mode, available_now)
        except BaseException:
            # any later failure must release the walsender session, or
            # the slot stays 'in use' for a retry in the same process.
            # Stop the SUPERVISOR first (review r7): if the consumer
            # thread was already started (e.g. writer.start() raised
            # after it), merely closing the client made the supervisor
            # treat it as a connection loss and RECONNECT — an orphaned
            # replication session pumping segments behind a raised start()
            if self._repl_stop is not None:
                self._repl_stop.set()
                if self._repl_thread is not None:
                    self._repl_thread.join(timeout=10)
            if self._repl_client is not None:
                try:
                    self._repl_client.close()
                except Exception:
                    pass
                self._repl_client = None
            # a metrics endpoint started before the failure must not
            # outlive the failed start (orphaned socket + listener)
            if self._metrics_listener is not None:
                try:
                    self.spark.streams.removeListener(self._metrics_listener)
                except Exception:
                    pass
                self._metrics_listener = None
            if self.metrics is not None:
                self.metrics.close()
            raise

    def start_as_standby(
        self,
        poll_interval_sec: float = 2.0,
        timeout_sec: float | None = None,
        available_now: bool = False,
    ) -> "Connector":
        """Active/passive standby takeover (the reference's max-2-instance
        deployment, docs/production_tutorial.md:115-129; U3): retry
        ``start()`` while the replication slot is held by the active
        instance and take over the moment it frees.

        Safety shape: the slot is the mutual-exclusion token. While the
        active holds it, the standby's START_REPLICATION fails with
        sqlstate 55006 (object_in_use) BEFORE its Spark query — and hence
        the shared checkpoint dir and view — is ever touched, and
        ``start()``'s cleanup releases the standby's walsender session;
        nothing is corrupted by the refused attempt (test-proven). When
        the active dies (SIGKILL, OOM, node loss), the server frees the
        slot on connection teardown, the standby's next retry wins it,
        and the shared checkpoint + slot ``confirmed_flush_lsn`` resume
        delivery with at-least-once redelivery that the seq-resolved
        keyed view absorbs — no loss, no duplicates.

        Zombie fencing (r11): the slot only proves the active's
        REPLICATION CONNECTION is gone — an active that lost its
        connection (partition, server-side terminate, SIGSTOP) may still
        be running its Spark query. Winning the slot bumps the view's
        fence generation (MaterializedView.acquire_fence), so every
        mutation the zombie attempts afterwards raises FencedWriterError
        before touching a bucket. Live-tested in
        test_live_zombie_active_fenced_after_takeover.

        Raises the last slot-in-use error if ``timeout_sec`` elapses;
        non-55006 failures raise immediately."""
        import time as _time

        from go_pq_cdc_elasticsearch_spark.sources.pgoutput import (
            ReplicationStreamError,
        )

        if self.cfg.snapshot_mode != "never":
            # the ACTIVE instance owns the backfill; a retried standby
            # start would re-merge the snapshot on every 55006 attempt
            raise ValueError(
                "start_as_standby requires snapshot_mode='never' (the "
                "active instance performs the snapshot backfill)"
            )
        if self.cfg.replication is None:
            raise ValueError(
                "start_as_standby requires replication settings: the slot "
                "is the active/passive mutual-exclusion token"
            )
        deadline = (
            None if timeout_sec is None else _time.monotonic() + timeout_sec
        )
        self._standby_abort.clear()
        while True:
            try:
                return self.start(available_now=available_now)
            except ReplicationStreamError as e:
                if e.sqlstate != "55006":
                    raise
                if deadline is not None and _time.monotonic() >= deadline:
                    raise
            # wait() doubles as the poll sleep, so close() aborts the
            # standby immediately instead of after the current interval
            if self._standby_abort.wait(poll_interval_sec):
                raise RuntimeError("standby start aborted by close()")

    def _start_after_connect(self, mode: str, available_now: bool) -> "Connector":
        if self.cfg.replication is None:
            # no slot to elect on — starting IS the takeover signal for a
            # staged-dir connector. Bump the view's fence generation so a
            # zombie prior instance still holding a running query on this
            # view dies loudly (FencedWriterError) instead of writing
            # behind this one. Replication connectors fence later, only
            # after the slot is actually won (see below).
            self.view.acquire_fence()
        if mode in ("initial", "snapshot_only"):
            # U1: chunked consistent snapshot == batch merge (sync, like the
            # reference's snapshot-only synchronous Start path). With the
            # DEFAULT transform the stream side extracts key columns as
            # STRINGS (pgoutput text format) — cast the snapshot's key
            # columns to match, or the initial-mode handoff would merge
            # long keys against string keys (union type conflict / silent
            # non-matching keys on the first stream batch). A custom
            # transform owns its own typing and gets the snapshot as-is.
            snap = self.snapshot_df
            if self.transform is None and self.cfg.replication is not None:
                from pyspark.sql import functions as F

                for k in self.cfg.keys:
                    snap = snap.withColumn(k, F.col(k).cast("string"))
            self.view.merge_batch(snap)
            if mode == "snapshot_only":
                return self
        if self.cfg.replication is not None:
            self._start_replication_consumer()
            from go_pq_cdc_elasticsearch_spark.sources.wal import (
                register,
                staged_truncate_count,
            )

            if self.cfg.replication.on_truncate != "tombstone_table":
                # segments staged by a tombstone_table run, replayed after
                # the policy reverted to 'ignore', have their TRUNCATE
                # tombstones silently dropped by the default transform —
                # the replayed view keeps rows the live view truncated.
                # The staging producer counts tombstones into a sidecar
                # marker; warn loudly here instead of diverging in
                # silence (review r11). Parity requires the policy to
                # STAY 'tombstone_table' for the life of the staged dir.
                staged = staged_truncate_count(self.cfg.staged_dir)
                if staged:
                    import logging

                    logging.getLogger(__name__).warning(
                        "staged dir %s carries %d TRUNCATE tombstone "
                        "row(s) from a prior on_truncate='tombstone_table' "
                        "run, but this connector's policy is %r — replayed "
                        "tombstones will be DROPPED and the view may keep "
                        "rows the source truncated. Keep "
                        "on_truncate='tombstone_table' for replay parity.",
                        self.cfg.staged_dir,
                        staged,
                        self.cfg.replication.on_truncate,
                    )
            register(self.spark)
            stream = (
                self.spark.readStream.format("pgwal")
                .option("path", self.cfg.staged_dir)
                .load()
            )
            stream = (self.transform or wal_to_view_transform(self.cfg))(stream)
        else:
            stream = read_event_stream(
                self.spark, self.cfg.staged_dir, self.cfg.max_files_per_trigger
            )
            if self.transform is not None:
                stream = self.transform(stream)
        batch_fn = self.view.foreach_batch_writer()
        if self.cfg.metric_port is not None:
            self._start_metrics_endpoint()
            batch_fn = self._metered_writer(batch_fn)
        if (
            self.cfg.replication is not None
            and self.cfg.replication.on_truncate == "tombstone_table"
        ):
            # tombstone rows are intercepted before the metered counters
            # and the keyed merge ever see them
            batch_fn = self._truncating_writer(batch_fn)
        writer = (
            stream.writeStream.foreachBatch(_read_once(batch_fn))
            .option("checkpointLocation", self.cfg.checkpoint_dir)
        )
        if available_now:
            self._query = writer.trigger(availableNow=True).start()
        else:
            self._query = writer.trigger(
                processingTime=self.cfg.processing_time
            ).start()
        return self

    def _start_metrics_endpoint(self) -> None:
        """cfg.metric_port wiring (reference cdc.metric.port + the metrics
        listener README.md:245-274): serve GET /metrics + GET /status and
        register a StreamingQueryListener feeding the latency gauges from
        each progress event. The COUNTERS are fed by ``_metered_writer``
        (an Observation riding the merge's own actions inside
        foreachBatch) — NOT from progress observedMetrics: under
        foreachBatch the batch plan is cached/evaluated by the user
        callback's actions, and the epoch's observedMetrics were seen to
        repeat the previous batch's values (stale accumulators), which
        would both miscount and double-book.

        Labels: slot_name = the replication slot (live mode) or the
        checkpoint dir's basename (replay mode — the checkpoint IS the
        slot analog, R12); index_name = the single routed index when the
        mapping has exactly one target, else the view path's basename
        (the keyed view is "the index" — R9). The per-index BREAKDOWN for
        multi-index pipelines stays on the observed_actions/q_c5 path
        where the routed frame still carries the index column; the
        connector's default transform collapses it before the sink."""
        import os

        from go_pq_cdc_elasticsearch_spark.metrics import PrometheusRegistry

        slot = (
            self.cfg.replication.slot
            if self.cfg.replication is not None
            else os.path.basename(self.cfg.checkpoint_dir.rstrip("/"))
        )
        self.metrics = PrometheusRegistry(slot_name=slot)
        registry = self.metrics
        my_qid = lambda: self._query.id if self._query is not None else None  # noqa: E731

        from pyspark.sql.streaming import StreamingQueryListener

        class _Feed(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                if str(p.id) != str(my_qid()):
                    return  # another query's progress
                ms = p.durationMs or {}
                # ns gauges, like the reference's SetProcessLatency
                if ms.get("triggerExecution") is not None:
                    registry.set_process_latency(
                        float(ms["triggerExecution"]) * 1e6
                    )
                # addBatch = the sink write portion of the trigger — the
                # closest analog of the reference's bulk-request latency
                if ms.get("addBatch") is not None:
                    registry.set_bulk_request_latency(
                        float(ms["addBatch"]) * 1e6
                    )

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._metrics_listener = _Feed()
        self.spark.streams.addListener(self._metrics_listener)

        def healthy() -> bool:
            # the reference's /status pings Postgres; the engine's unit of
            # health is the pipeline: query alive and (live mode) the
            # consumer supervision not ended in error
            if self.consumer_error is not None:
                return False
            q = self._query
            return q is not None and q.isActive and q.exception() is None

        self.metric_port = self.metrics.serve(
            port=self.cfg.metric_port,
            host=self.cfg.metric_host,
            status_fn=healthy,
        )

    def _metered_writer(self, inner):
        """Wrap the view's foreachBatch writer so each merged epoch books
        its op counters with ONE explicit aggregate over the micro-batch
        (the persisted copy ``_read_once`` holds, not the source).

        Not an Observation riding the merge's own actions: Observation.get
        captures the FIRST completed action's flow, and merge_batch's
        first action is a limit-style emptiness/bucket probe — the
        observed counts came back as 1 per epoch (proven by execution,
        r10). Counters are booked only when the epoch actually advanced
        the view frontier, so a redelivered (skipped) epoch books nothing
        — counters stay exactly-once like the merge itself."""
        import os

        from go_pq_cdc_elasticsearch_spark.metrics import (
            _action_counter_cols,
        )

        targets = set(self.cfg.table_index_mapping.values())
        index_label = (
            next(iter(targets))
            if len(targets) == 1
            else os.path.basename(self.cfg.view_path.rstrip("/"))
        )
        registry = self.metrics
        view = self.view

        def write(batch_df: DataFrame, epoch_id: int) -> None:
            # book only when THIS call advanced the frontier: after a crash
            # between merge commit and checkpoint commit, the redelivered
            # epoch arrives with the frontier ALREADY at epoch_id (adopted
            # from meta) and merge_batch skips — a bare equality check
            # would double-book the whole batch (review r10). Adopt the
            # on-disk frontier BEFORE capturing `before`: on a standby's
            # first batch the view object is fresh (in-object frontier
            # None) while meta already carries epoch_id — reading the raw
            # field saw before=None, merge_batch skipped inside inner(),
            # and counters were booked for a merge that never ran
            # (review r11)
            view._ensure_meta_adopted()
            before = view._last_epoch
            inner(batch_df, epoch_id)
            if view._last_epoch == epoch_id and before != epoch_id:
                row = batch_df.agg(
                    *_action_counter_cols(
                        self.cfg.op_col, self.cfg.delete_op, None, ()
                    )
                ).first()
                registry.observe_result(row.asDict(), index=index_label)

        return write

    def _truncating_writer(self, inner):
        """foreachBatch wrapper applying TRUNCATE tombstones
        (on_truncate='tombstone_table'): view rows at or below the
        batch's latest truncate position are dropped, in-batch rows
        before it are discarded (they were truncated at the source before
        this batch committed), rows after it merge normally. Idempotent
        under redelivery: the wipe only touches sub-truncate state, which
        a replayed epoch re-wipes to the same result, and the inner
        merge's epoch frontier guard stays authoritative for the row
        ops. Multiple truncates in one batch collapse to the latest —
        the earlier ones' effects are a subset. Cost note: the tombstone
        probe is one extra small aggregate job per epoch even when no
        truncate is present — the accepted price of the opt-in policy (it
        cannot ride the merge's own actions: the wipe must happen BEFORE
        them). It reads the persisted batch (``_read_once``), so the
        merge after it does not scan the source again."""
        from pyspark.sql import functions as F

        seq_col, op_col = self.cfg.seq_col, self.cfg.op_col
        view = self.view

        def write(batch_df: DataFrame, epoch_id: int) -> None:
            is_t = F.col(op_col) == F.lit(TRUNCATE_MARKER)
            t_max = (
                batch_df.filter(is_t).agg(F.max(F.col(seq_col))).first()[0]
            )
            if t_max is not None:
                view.truncate_upto(int(t_max))
                # null-safe not-truncate: a NULL op row is a (malformed)
                # row op for the merge to judge, not a tombstone
                batch_df = batch_df.filter(
                    (F.col(op_col).isNull() | (F.col(op_col) != F.lit(TRUNCATE_MARKER)))
                    & (F.col(seq_col) > F.lit(int(t_max)))
                )
            inner(batch_df, epoch_id)

        return write

    def wait_until_ready(self, timeout_sec: float = 60.0) -> bool:
        """Reference WaitUntilReady: returns once the pipeline is live
        (query started and not failed).

        Straight-line by design (review r7 removed a deadline loop whose
        second iteration was unreachable): by the time this is callable,
        ``start()`` has already returned, so the query object is either
        active, failed, or terminated — there is no pending state to poll.
        ``timeout_sec`` is kept for API compatibility; it can only matter
        for ``timeout_sec <= 0``, which reports not-ready without looking.
        """
        if self._query is None:
            return True  # snapshot_only: synchronous, already done
        if timeout_sec <= 0:
            return False
        import time

        if self._query.exception() is not None:
            raise self._query.exception()
        if self._query.isActive:
            return True
        # not active with no exception: an availableNow run that already
        # drained terminated SUCCESSFULLY — ready, not a timeout. Re-check
        # the exception once after a beat in case termination won the race
        # with its error being recorded.
        time.sleep(0.1)
        if self._query.exception() is not None:
            raise self._query.exception()
        return True

    def await_drained(self) -> None:
        """Block until an availableNow run finishes (snapshot_only drain)."""
        if self._query is not None:
            self._query.awaitTermination()

    def close(self) -> None:
        """Reference Close (connector.go:120-127): stop the source, flush the
        tail. foreachBatch completes the in-flight batch before stop returns;
        the checkpoint holds the ack frontier. Live mode: also stop the
        replication consumer, send a final ack sweep, drop the socket."""
        self._standby_abort.set()  # end a start_as_standby polling loop
        if self._query is not None and self._query.isActive:
            self._query.stop()
        if self._repl_stop is not None:
            self._repl_stop.set()
        if self._repl_client is not None:
            # final ack sweep while the socket is still alive (the consumer
            # thread may be blocked reading; _send is lock-protected) — the
            # checkpoint's commits/ dir is the durable frontier, covering
            # the last batch (commit() callbacks lag one batch)
            # (OSError, ValueError): the sweep on an ALREADY-closed file
            # object raises ValueError — close() must be re-enterable like
            # the reference's Close, and a failed sweep must never skip
            # the client close / thread join below (thread leak)
            try:
                from go_pq_cdc_elasticsearch_spark.sources.pgoutput import (
                    forward_checkpoint_acks,
                )

                forward_checkpoint_acks(
                    self._repl_client, self.cfg.checkpoint_dir
                )
            except (OSError, ValueError):
                pass
            try:
                self._repl_client.close()  # breaks the blocked poll read
            except (OSError, ValueError):
                pass
        if self._repl_thread is not None:
            self._repl_thread.join(timeout=5)
        if self._metrics_listener is not None:
            # unregister BEFORE closing the registry: a straggling progress
            # event must not feed a dead endpoint's counters
            try:
                self.spark.streams.removeListener(self._metrics_listener)
            except Exception:
                pass
            self._metrics_listener = None
        if self.metrics is not None:
            self.metrics.close()

    def read(self) -> DataFrame:
        return self.view.read()
