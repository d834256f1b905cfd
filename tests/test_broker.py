"""MiniBroker ack/redelivery semantics (reference queue.js:206-305: the
amqplib contract — explicit per-message ack, unacked messages redeliver to
the next consumer session) and the graded gate's exactly-once accounting."""

import socket

import pytest

from apmbackend_spark.sources.broker import (
    MiniBroker,
    _consume_session,
    broker_redelivery_gate,
)


def _pub(port, payloads):
    sock = socket.create_connection(("127.0.0.1", port), 10)
    r = sock.makefile("r", encoding="utf-8", newline="\n")
    w = sock.makefile("w", encoding="utf-8", newline="\n")
    for p in payloads:
        w.write(f"PUB {p}\n")
    # the broker serves each connection on its own thread, so wait for the
    # COUNT reply: it proves every PUB is queued before a consumer connects
    w.write("COUNT\n")
    w.flush()
    r.readline()
    w.write("QUIT\n")
    w.flush()
    sock.close()


def _sub(port, ack_tags=()):
    sock = socket.create_connection(("127.0.0.1", port), 10)
    r = sock.makefile("r", encoding="utf-8", newline="\n")
    w = sock.makefile("w", encoding="utf-8", newline="\n")
    w.write("SUB\n")
    w.flush()
    got = []
    for line in r:
        line = line.rstrip("\n")
        if line == "END":
            break
        _m, tag, n, payload = line.split(" ", 3)
        got.append((int(tag), int(n), payload))
    for t in ack_tags:
        w.write(f"ACK {t}\n")
    w.write("PEND\n")
    w.flush()
    pending = int(r.readline().split(" ", 1)[1])
    w.write("QUIT\n")
    w.flush()
    sock.close()
    return got, pending


def test_broker_redelivers_only_unacked_with_incremented_count():
    b = MiniBroker()
    try:
        _pub(b.port, ["m0", "m1", "m2", "m3", "m4"])
        got1, pend1 = _sub(b.port, ack_tags=[0, 2, 4])
        assert [(t, n) for t, n, _ in got1] == [(i, 1) for i in range(5)]
        assert pend1 == 2
        # crash recovery: the next session sees exactly the unacked set,
        # delivery counts incremented
        got2, pend2 = _sub(b.port, ack_tags=[1, 3])
        assert got2 == [(1, 2, "m1"), (3, 2, "m3")]
        assert pend2 == 0
        got3, pend3 = _sub(b.port)
        assert got3 == [] and pend3 == 0
    finally:
        b.close()


def test_broker_crash_before_any_ack_redelivers_everything():
    b = MiniBroker()
    try:
        _pub(b.port, ["a", "b"])
        got1, pend1 = _sub(b.port)  # no acks at all
        assert pend1 == 2
        got2, pend2 = _sub(b.port, ack_tags=[0, 1])
        assert [(t, n, p) for t, n, p in got2] == [
            (0, 2, "a"), (1, 2, "b"),
        ]
        assert pend2 == 0
    finally:
        b.close()


def test_broker_ack_is_idempotent_and_unknown_tags_ignored():
    b = MiniBroker()
    try:
        _pub(b.port, ["x"])
        _, pend = _sub(b.port, ack_tags=[0, 0, 99])
        assert pend == 0
        got, _ = _sub(b.port)
        assert got == []
    finally:
        b.close()


def test_broker_payloads_with_spaces_survive():
    b = MiniBroker()
    try:
        _pub(b.port, ["tx|a b|c  d", "plain words here"])
        got, _ = _sub(b.port, ack_tags=[0, 1])
        assert [p for _, _, p in got] == ["tx|a b|c  d", "plain words here"]
    finally:
        b.close()


def test_gate_counts_match_queue_replay_rule(spark):
    # gate output == queue_roundtrip's deterministic accounting: every tx
    # whose wire-logid hash ends in 7 delivered exactly twice, the rest
    # exactly once — but here the duplicate comes from REAL redelivery of
    # the broker's unacked set, not an injected union
    from pyspark.sql import functions as F

    from apmbackend_spark.functions.text import hash64
    from apmbackend_spark.sources.queue import (
        _REPLAY_MOD,
        _REPLAY_REM,
        tx_to_wire,
    )
    from apmbackend_spark.sources.tx import load_tx
    from tests.conftest import SF_SMOKE

    out = broker_redelivery_gate(spark, SF_SMOKE).collect()
    tx_n = load_tx(spark, SF_SMOKE).count()
    assert sum(1 for _ in out) == tx_n  # one row per unique tx
    wire = tx_to_wire(load_tx(spark, SF_SMOKE).drop("endtime"))
    n_lost = wire.where(
        F.pmod(
            hash64(F.split(F.col("value"), r"\|").getItem(3)),
            F.lit(_REPLAY_MOD),
        )
        == F.lit(_REPLAY_REM)
    ).count()
    assert sum(r["n_deliveries"] == 2 for r in out) == n_lost
    assert all(r["n_deliveries"] in (1, 2) for r in out)


def test_consume_session_spool_acked_only_crash_shape(tmp_path):
    # The topology_broker crash contract: handoff and ack are one atomic
    # per-message step, so session 1's spool holds EXACTLY what it acked,
    # the crash set exists nowhere downstream, and session 2's recovery
    # spool is exactly the redelivered complement — together a lossless,
    # duplicate-free handoff.
    b = MiniBroker()
    try:
        _pub(b.port, ["keep0", "lose1", "keep2", "lose3", "keep4"])
        s1 = tmp_path / "s1.txt"
        s2 = tmp_path / "s2.txt"
        n1, pend1 = _consume_session(
            b.port, str(s1),
            ack_if=lambda p: not p.startswith("lose"),
            spool_acked_only=True,
        )
        assert n1 == 5 and pend1 == 2
        assert s1.read_text().splitlines() == ["keep0", "keep2", "keep4"]
        n2, pend2 = _consume_session(b.port, str(s2))
        assert n2 == 2 and pend2 == 0
        assert s2.read_text().splitlines() == ["lose1", "lose3"]
    finally:
        b.close()


def test_broker_named_queues_are_isolated(tmp_path):
    # named queues (the four-queue topology shape) hold independent
    # tag spaces, ack state, and redelivery sets on one transport;
    # default-queue frames stay byte-identical to the original protocol
    import socket as _socket

    b = MiniBroker()
    try:
        _pub(b.port, ["plain0"])  # default queue, original frames
        sock = _socket.create_connection(("127.0.0.1", b.port), 10)
        w = sock.makefile("w", encoding="utf-8", newline="\n")
        r = sock.makefile("r", encoding="utf-8", newline="\n")
        for p in ["t0", "t1"]:
            w.write(f"PUB@transactions {p}\n")
        w.write("PUB@stats s0\n")
        # COUNT replies double as settlement barriers (_pub waited for its
        # own, so the default queue's frame is counted too)
        w.write("COUNT\n")
        w.write("COUNT@transactions\n")
        w.write("COUNT@stats\n")
        w.flush()
        counts = [int(r.readline().split()[1]) for _ in range(3)]
        w.write("QUIT\n")
        w.flush()
        sock.close()
        assert counts == [1, 2, 1]
        # consume transactions only; stats and default stay pending
        n1, pend1 = _consume_session(
            b.port, str(tmp_path / "tq.txt"), queue="transactions"
        )
        assert (n1, pend1) == (2, 0)
        assert b.pending("stats") == 1
        assert b.pending() == 1
        # tag spaces are per queue: stats' first message is tag 0 too
        n2, pend2 = _consume_session(
            b.port, str(tmp_path / "sq.txt"), queue="stats"
        )
        assert (n2, pend2) == (1, 0)
    finally:
        b.close()


def test_py_hash64_matches_spark_hash64(spark):
    # the broker hops' crash rules evaluate py_hash64 per streamed
    # payload; it must agree with the JVM-side md5 hash on every payload
    # shape the wire carries (pipes, colons, '&'-escapes, unicode)
    from pyspark.sql import functions as F

    from apmbackend_spark.functions.text import hash64, py_hash64

    samples = [
        "tx|web-1|login|L123|9|1578400802669|1578400802869|200|svc",
        "st|1578400800000|web-1|login|12.50|210.0|250.0|400.0",
        "fs|1578400800000|web-1|login|60|12.50|210.0:200.0:1.0:2.0:1",
        "al|1|2|s|svc|hardmax_avg|fs&1&s&svc&60",
        "", " ", "undefined", "naïve-unicode-ü", "a|b&c:d,e",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "value string")
    got = {
        r["value"]: r["h"]
        for r in df.select("value", hash64(F.col("value")).alias("h")).collect()
    }
    for s in samples:
        assert py_hash64(s) == got[s], s
