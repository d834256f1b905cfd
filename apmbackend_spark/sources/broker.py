"""In-process TCP mini-broker with explicit ack + redelivery-on-no-ack —
the at-least-once delivery contract of the reference's AMQP transport
(queue.js:206-305: `ProducerQueue.writeLineToQueue` publishes durable
pipe-delimited lines, `ConsumerQueue.consumeCbWrapper` explicitly
`channel.ack(msg)`s each delivery; a consumer that dies before acking gets
the message REDELIVERED by the broker). The socket replay gates prove the
codecs survive duplicate LINES; this module proves the broker-semantics
loop itself: unacked messages survive a consumer crash, the recovered
consumer receives exactly the unacked set again, and the downstream
exactly-once projection collapses the duplicates.

Wire protocol (UTF-8, one frame per line; every verb optionally
addresses a NAMED queue as ``VERB@queue`` — the bare verb is the default
queue, byte-identical to the original single-queue protocol):

  producer  ``PUB <payload>``             enqueue (fire-and-forget, the
                                          amqp ``sendToQueue`` shape)
            ``PUB@stats <payload>``       enqueue on queue 'stats'
  consumer  ``SUB`` / ``SUB@stats``       broker answers ``MSG <tag>
                                          <n_delivery> <payload>`` for
                                          every currently-unacked message
                                          in tag order, then ``END``
            ``ACK <tag>`` / ``ACK@q <t>`` settle forever (idempotent)
            disconnect                    unacked messages stay queued and
                                          REDELIVER on the next ``SUB``
                                          with n_delivery incremented

Scale notes: a message broker is an external system — at 100 TB you run a
real cluster (the consumer here is `format("socket")`/`format("kafka")`
away, sources/queue.py:388) and this module is the semantics test double.
The pieces that ARE data-sized stay distributed: publishing runs
executor-side via ``foreachPartition`` (one producer connection per
partition, the reference's one-producer-per-process shape), decode/
accounting are the usual codegen line projections over the spooled
delivery log.
"""

from __future__ import annotations

import os
import socket
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apmbackend_spark.functions.text import hash64_sql, py_hash64
from apmbackend_spark.sources.queue import (
    _NULL_STR,
    _REPLAY_MOD,
    _REPLAY_REM,
    _WIRE_COLS,
    tx_to_wire,
    wire_to_tx,
)


class MiniBroker:
    """Multi-queue broker: NAMED queues of tagged messages, explicit acks,
    redelivery of the unacked set on every new consume session — the
    reference's four-queue topology shape (apm_config.json:58-114) on one
    transport. Frames address the default queue ("PUB <payload>") or a
    named one ("PUB@stats <payload>"); the default-queue frames are
    byte-identical to the original single-queue protocol, so existing
    gates grade the same wire traffic. Each connection is served by its
    own thread (amqplib multiplexes channels the same way), so producers
    and consumers of DIFFERENT queues make progress simultaneously, while
    all queue-state mutations stay serialized under one lock. Frames from
    two connections are therefore not ordered: a producer that needs its
    PUBs queued before anyone else connects waits for a COUNT reply."""

    DEFAULT_QUEUE = "main"

    def __init__(self) -> None:
        self._lock = threading.Lock()
        # per-queue state: (tag, payload) list in tag order, acked set,
        # delivery counts
        self._q: dict[str, dict] = {}
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(64)
        self.port = self._srv.getsockname()[1]
        self._stop = False
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def _queue(self, name: str) -> dict:
        # caller holds self._lock
        if name not in self._q:
            self._q[name] = {"msgs": [], "acked": set(), "deliveries": {}}
        return self._q[name]

    @staticmethod
    def _verb_queue(verb: str) -> tuple[str, str]:
        """'PUB' -> ('PUB', default); 'PUB@stats' -> ('PUB', 'stats')."""
        if "@" in verb:
            v, q = verb.split("@", 1)
            return v, q
        return verb, MiniBroker.DEFAULT_QUEUE

    # -- server side --------------------------------------------------

    def _serve(self) -> None:
        self._srv.settimeout(0.2)
        while not self._stop:
            try:
                conn, _ = self._srv.accept()
            except socket.timeout:
                continue
            except OSError:
                return
            t = threading.Thread(
                target=self._handle, args=(conn,), daemon=True
            )
            t.start()

    def _handle(self, conn) -> None:
        with conn:
            conn.settimeout(30.0)
            rfile = conn.makefile("r", encoding="utf-8", newline="\n")
            wfile = conn.makefile("w", encoding="utf-8", newline="\n")
            try:
                for line in rfile:
                    line = line.rstrip("\n")
                    verb, _sp, rest = line.partition(" ")
                    verb, qname = self._verb_queue(verb)
                    if verb == "PUB":
                        with self._lock:
                            q = self._queue(qname)
                            tag = len(q["msgs"])
                            q["msgs"].append((tag, rest))
                    elif verb == "SUB":
                        with self._lock:
                            q = self._queue(qname)
                            live = [
                                (t, p)
                                for t, p in q["msgs"]
                                if t not in q["acked"]
                            ]
                            for t, _ in live:
                                q["deliveries"][t] = (
                                    q["deliveries"].get(t, 0) + 1
                                )
                            counts = dict(q["deliveries"])
                        for t, p in live:
                            wfile.write(f"MSG {t} {counts[t]} {p}\n")
                        wfile.write("END\n")
                        wfile.flush()
                    elif verb == "ACK":
                        tag = int(rest)
                        with self._lock:
                            q = self._queue(qname)
                            # unknown tags are ignored (amqp raises a
                            # channel error; a test double must at
                            # least not corrupt the queue accounting)
                            if 0 <= tag < len(q["msgs"]):
                                q["acked"].add(tag)
                    elif verb == "PEND":
                        # synchronous settlement barrier: the reply
                        # proves every earlier frame on this
                        # connection (all the ACKs) is processed
                        wfile.write(f"PEND {self.pending(qname)}\n")
                        wfile.flush()
                    elif verb == "COUNT":
                        with self._lock:
                            n = len(self._queue(qname)["msgs"])
                        wfile.write(f"COUNT {n}\n")
                        wfile.flush()
                    elif verb == "QUIT":
                        break
            except (OSError, ValueError):
                pass  # dropped connection == consumer crash

    def pending(self, queue: str = DEFAULT_QUEUE) -> int:
        with self._lock:
            q = self._queue(queue)
            return sum(1 for t, _ in q["msgs"] if t not in q["acked"])

    def message_count(self, queue: str = DEFAULT_QUEUE) -> int:
        with self._lock:
            return len(self._queue(queue)["msgs"])

    def close(self) -> None:
        self._stop = True
        try:
            self._srv.close()
        except OSError:
            pass
        self._thread.join(timeout=5)


def _frame(verb: str, queue: str) -> str:
    """Default-queue frames stay byte-identical to the single-queue
    protocol; named queues use the VERB@queue form."""
    return verb if queue == MiniBroker.DEFAULT_QUEUE else f"{verb}@{queue}"


def _publish_partition(port: int, queue: str = MiniBroker.DEFAULT_QUEUE):
    """foreachPartition closure: one producer connection per partition,
    PUB every wire line."""
    pub = _frame("PUB", queue)
    count = _frame("COUNT", queue)

    def run(rows) -> None:
        first = True
        sock = None
        wfile = None
        rfile = None
        for row in rows:
            if first:  # connect lazily so empty partitions open nothing
                sock = socket.create_connection(("127.0.0.1", port), 30)
                wfile = sock.makefile("w", encoding="utf-8", newline="\n")
                rfile = sock.makefile("r", encoding="utf-8", newline="\n")
                first = False
            wfile.write(f"{pub} {row['value']}\n")
        if sock is not None:
            # synchronous settlement barrier: the COUNT reply proves the
            # broker consumed every PUB on this connection, so when
            # foreachPartition returns, ALL publishes are in the queue —
            # without it the gate's publish-count check could read the
            # broker while late connections still sit in the accept
            # backlog and raise spuriously
            wfile.write(count + "\n")
            wfile.flush()
            rfile.readline()
            wfile.write("QUIT\n")
            wfile.flush()
            sock.close()

    return run


def _consume_session(
    port: int,
    spool_path: str,
    ack_if=lambda payload: True,
    spool_acked_only: bool = False,
    queue: str = MiniBroker.DEFAULT_QUEUE,
) -> tuple[int, int]:
    """One consumer session: SUB, spool the delivered payloads (durable
    write BEFORE any ack — the reference's ack-after-handoff contract),
    ack the payloads ``ack_if`` admits, disconnect. Returns (deliveries,
    broker-pending AFTER this session's acks settled — the PEND reply is
    the settlement barrier, so the count is race-free).

    ``spool_acked_only=True`` models the mid-stream CRASH shape: handoff
    and ack are one atomic per-message step (spool the line, then ack it),
    and for the refused set the crash loses BOTH — the message was never
    processed, so its work exists nowhere downstream and MUST come back
    via broker redelivery for the pipeline to be complete. (The default
    spool-everything form instead grades the duplicate-delivery side:
    processed-but-unacked messages arrive twice.)"""
    sock = socket.create_connection(("127.0.0.1", port), 30)
    rfile = sock.makefile("r", encoding="utf-8", newline="\n")
    wfile = sock.makefile("w", encoding="utf-8", newline="\n")
    wfile.write(_frame("SUB", queue) + "\n")
    wfile.flush()
    got: list[tuple[int, str]] = []
    for line in rfile:
        line = line.rstrip("\n")
        if line == "END":
            break
        _msg, tag, _n, payload = line.split(" ", 3)
        got.append((int(tag), payload))
    admitted = [(t, p) for t, p in got if ack_if(p)]
    with open(spool_path, "w", encoding="utf-8") as fh:
        for _, payload in admitted if spool_acked_only else got:
            fh.write(payload + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    ack = _frame("ACK", queue)
    for tag, _payload in admitted:
        wfile.write(f"{ack} {tag}\n")
    wfile.write(_frame("PEND", queue) + "\n")
    wfile.flush()
    reply = rfile.readline().rstrip("\n")
    pending = int(reply.split(" ", 1)[1])
    wfile.write("QUIT\n")
    wfile.flush()
    sock.close()
    return len(got), pending


def broker_redelivery_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded broker-semantics gate (S3/S4, reference queue.js:206-305):
    tx -> wire encode -> executor-side publish into the mini-broker ->
    consumer session 1 receives everything, durably spools it, then
    CRASHES having acked only the deterministic survivor set (every line
    whose wire-logid hash ends in 7 loses its ack — the crash window) ->
    consumer session 2 receives exactly the broker's unacked set again
    (real redelivery, not an injected union), spools and acks all ->
    a third session must see an EMPTY queue (raises otherwise).

    Output is one row per unique tx with its observed delivery count —
    the %10==7 records exactly twice, everything else exactly once — so
    the value hash proves the broker redelivered all of, and only, the
    unacked set, and that ack settlement sticks. The exactly-once
    projection a downstream sink would apply is the same groupBy.

    Determinism: the ack-loss rule is content-keyed (hash of the wire
    logid field, the queue_roundtrip replay rule), so delivery ORDER —
    nondeterministic across partition producers — never reaches the
    result."""
    import atexit
    import shutil
    import tempfile

    from apmbackend_spark.sources.tx import load_tx

    work = tempfile.mkdtemp(prefix="apm_broker_gate_")
    # the spooled delivery log is read by the returned DataFrame until the
    # caller collects; reclaim at interpreter exit
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    tx = load_tx(spark, sf_dir).drop("endtime")
    wire = tx_to_wire(tx).localCheckpoint()
    # ack-loss rule: content-keyed hash PREDICATE on the wire logid field,
    # evaluated per payload as the consumer streams it (py_hash64 is the
    # bit-exact Python twin of the hash64 the oracle replays) — the
    # harness holds no data-proportional membership set.
    mod, rem = int(_REPLAY_MOD), int(_REPLAY_REM)

    def _ack_if(p: str) -> bool:
        return py_hash64(p.split("|")[3]) % mod != rem

    broker = MiniBroker()
    try:
        wire.foreachPartition(_publish_partition(broker.port))
        # a Spark task retry would re-run a partition's publishes; the
        # count check turns that rare nondeterminism into a clear error
        # instead of a downstream hash mismatch
        n_wire = wire.count()
        n_pub = broker.message_count()
        if n_pub != n_wire:
            raise RuntimeError(
                f"published {n_pub} != {n_wire} wire lines "
                "(task retry double-publish?)"
            )
        n1, pend1 = _consume_session(
            broker.port,
            os.path.join(work, "session1.txt"),
            ack_if=_ack_if,
        )
        n2, pend2 = _consume_session(
            broker.port, os.path.join(work, "session2.txt")
        )
        if pend1 != n2:
            raise RuntimeError(
                f"redelivery mismatch: {pend1} unacked but {n2} redelivered"
            )
        if pend2 != 0:
            raise RuntimeError(
                f"broker holds {pend2} unacked after full ack"
            )
        if n2 > n1:
            raise RuntimeError(f"redelivered {n2} > first delivery {n1}")
    finally:
        broker.close()
    delivered = spark.read.text(work)
    decoded = wire_to_tx(delivered)
    return decoded.groupBy(*_WIRE_COLS).agg(
        F.count(F.lit(1)).alias("n_deliveries")
    )


def broker_redelivery_oracle_sql() -> str:
    """Appends to TX_CTE. The delivery log must decode back to tx verbatim
    with count 2 exactly where the ack was lost (wire rendering of logid:
    NULL rides as the 'undefined' sentinel). Grouped over the wire columns
    like the gate, so full-duplicate tx rows pool their counts the same
    way on both sides."""
    h = hash64_sql(f"coalesce(logid, '{_NULL_STR}')")
    return f"""
SELECT server, service, logid, acctnum, startts, endts, elapsed, toplevel,
       CAST(SUM(CASE WHEN {h} % {_REPLAY_MOD} = {_REPLAY_REM}
                     THEN 2 ELSE 1 END) AS BIGINT) AS n_deliveries
FROM tx
GROUP BY server, service, logid, acctnum, startts, endts, elapsed, toplevel
"""
