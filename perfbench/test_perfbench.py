"""Self-tests of the benchmark. From the repository root:

    python3 -m pytest perfbench -q

The gate tests take milliseconds. The metric tests run every workload at
the tiny size, untraced and traced, each in its own Spark session, and
take several minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gate  # noqa: E402

WORKLOADS = ("crawl_mixed", "dedup_curation")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_gate_rejects_one_flipped_byte():
    expected = {"https://a/1": "Invoice Number: INV-1", "https://a/2": "Total"}
    rows = list(expected.items())
    gate.check_table(rows, expected, "crawl")
    raw = bytearray(rows[0][1].encode())
    raw[3] ^= 0x01
    with pytest.raises(gate.GateError):
        gate.check_table([(rows[0][0], raw.decode()), rows[1]], expected,
                         "crawl")


def test_gate_rejects_duplicated_url_after_compaction():
    expected = {"https://a/1": "new text", "https://a/2": "kept"}
    rows = list(expected.items())
    gate.check_table(rows, expected, "recrawl")
    with pytest.raises(gate.GateError):
        gate.check_table(rows + [("https://a/1", "old text")], expected,
                         "recrawl")
    with pytest.raises(gate.GateError):  # stale content is caught too
        gate.check_table([("https://a/1", "old text"), rows[1]], expected,
                         "recrawl")


def test_gate_rejects_one_dropped_oracle_row():
    from tools.check_oracles import table_hash

    cols = ["doc_id", "canonical_id", "is_duplicate"]
    rows = [(i, i - i % 3, i % 3 != 0) for i in range(30)]
    expected = table_hash(rows, cols)
    gate.check_oracle("neardup_verdict", list(reversed(rows)), cols, expected)
    with pytest.raises(gate.GateError):
        gate.check_oracle("neardup_verdict", rows[:-1], cols, expected)


def _run(workload: str, trace: int, cwd: str = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_printed_with_its_unit(workload, trace):
    res = _run(workload, trace)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] > 0
    assert out["failed"] == 0
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    if trace and workload == "crawl_mixed":
        m = {k: v["value"] for k, v in out["metrics"].items()}
        assert m["extract.kernel_s"] + m["extract.outside_kernel_s"] == \
            pytest.approx(m["extract.task_s"])
        assert m["trace.span_coverage"] == pytest.approx(1.0, abs=0.1)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = _run("crawl_mixed", 0, cwd=str(tmp_path))
    assert res.returncode != 0
    assert not res.stdout.strip()
