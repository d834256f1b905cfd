"""Self-tests of the benchmark (not of the program):

    python3 -m pytest perfbench -q

* the same seed gives byte-identical inputs, another seed different ones;
* every metric named in BENCHMARK.json is printed, with its unit, by a run
  of each workload (end-to-end metrics in the report line, per-layer
  metrics in the result line of a ``--trace 1`` run);
* a tiny-size smoke run of each workload finishes with failed_frac 0;
* the log tx check compares against the generator's expected records with
  its one known wrong account corrected, and catches a parser that drops
  the riskid account.

The smoke runs start Spark; together they take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_backfill_inputs_are_byte_identical_per_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_backfill(str(tmp_path / name), seed, "tiny")
    a, b, c = (_tree_bytes(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a["archive/events.parquet"] != c["archive/events.parquet"]


def test_live_ticks_are_byte_identical_per_seed(tmp_path):
    spec = gen.LIVE["tiny"]
    _, n = gen.live_schedule(spec, 2.0)
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / name
        d.mkdir()
        ticks = gen.live_ticks(seed, spec, n)
        for i in range(2):
            ticks.append(gen.live_burst(seed, spec, n, i, ticks[n - 1]))
        for k, table in enumerate(ticks):
            gen.write_tick(str(d), k, table, 0.0)
    a, b, c = (_tree_bytes(str(tmp_path / n)) for n in "abc")
    assert a == b and len(a) == n + 2
    assert a != c


def test_live_schedule_has_a_tail_tick():
    for spec in gen.LIVE.values():
        for seconds in (2.0, 6.0):
            prefill, n = gen.live_schedule(spec, seconds)
            # tick prefill + j is due j * tick_s after the generator starts
            last_due = (n - 1 - prefill) * spec.tick_s
            assert last_due >= spec.warm_s + seconds


def _smoke(workload: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", "1", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.fixture(scope="module")
def smoke_runs():
    return {w: _smoke(w) for w in ("backfill", "live_stream")}


def test_every_metric_is_printed_with_its_unit(smoke_runs):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for report, result in smoke_runs.values():
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        printed = result["metrics"]
        for m in spec["per_layer"]:
            assert printed[m["name"]]["unit"] == m["unit"]
        assert len(printed) == len(spec["per_layer"])
        for m in spec["end_to_end"]:
            assert report["end_to_end"][m["name"]]["unit"] == m["unit"]
            assert report["end_to_end"][m["name"]]["value"] > 0
        assert "failed_frac" in report and report["units"]["failed_frac"] == "ratio"


def test_live_stream_smoke_has_no_failures(smoke_runs):
    report, result = smoke_runs["live_stream"]
    assert report["failed_frac"] == 0, report["checks"]
    assert result["correct"] and result["failed"] == 0


def test_backfill_smoke_has_no_failures(smoke_runs):
    report, result = smoke_runs["backfill"]
    assert report["failed_frac"] == 0, report["checks"]
    assert result["correct"] and result["failed"] == 0


def test_log_tx_check_expects_the_riskid_account(tmp_path):
    import backfill
    import pyarrow as pa
    import pyarrow.parquet as pq
    from apmbackend_spark.sources.loggen import generate

    expected = generate(servers=("s1",), n_per_kind=120).expected
    right, n = backfill.expected_log_tx(expected)
    changed = {e["logid"]: f["acctnum"] for e, f in zip(expected, right) if e != f}
    # ct-115 has no exit line, so no record; ct-25 (BAF) and ct-70 remain
    assert changed == {"s1-ct-25": 100_000_025, "s1-ct-70": 100_000_070} and n == 2
    assert backfill.expected_log_tx(right) == (right, 0)

    def write(rows, name):
        path = str(tmp_path / name)
        pq.write_table(pa.Table.from_pylist(
            [{c: r[c] for c in backfill.LOG_TX_COLS} for r in rows]), path)
        return path

    assert backfill.log_tx_diff(expected, write(right, "right.parquet")) == {
        "unexpected": 0, "missing": 0, "loggen_expected_wrong": 2}
    # a parser that ignores the riskid frame falls back as the generator expects
    diff = backfill.log_tx_diff(expected, write(expected, "wrong.parquet"))
    assert diff["unexpected"] == diff["missing"] == 2
