"""Tests for the benchmark harness itself.

    python3 -m pytest perfbench/tests -q

The smoke tests start one Spark session per workload at the ``tiny``
input size (about a minute each on 4 cores).
"""

from __future__ import annotations

import filecmp
import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run  # noqa: E402
from perfbench.trace import parse_metric, tail  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_names_and_units_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in BENCH["workloads"]] == ["bank_warehouse", "near_dedup"]


@pytest.mark.parametrize("make", [
    lambda d, s: gen.bank_csvs(d, s, scale=1, batches=2),
    lambda d, s: gen.mart_tables(d, s, sf=0.001),
    lambda d, s: gen.documents(d, s, n_docs=80),
])
def test_generators_are_deterministic(tmp_path, make):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    assert make(str(a), 5) == make(str(b), 5)
    names = sorted(p.name for p in a.iterdir())
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    make(str(c), 6)
    assert any(not filecmp.cmp(a / n, c / n, shallow=False) for n in names)


def test_bank_batches_update_and_insert_keys(tmp_path):
    import pandas as pd

    gen.bank_csvs(str(tmp_path), 3, scale=1, batches=2)
    base = pd.read_csv(tmp_path / "payments.csv")
    keys = set(zip(base.loan_id, base.payment_date))
    assert len(keys) == len(base)
    for b in range(2):
        batch = pd.read_csv(tmp_path / f"payments_batch_{b}.csv")
        bkeys = list(zip(batch.loan_id, batch.payment_date))
        assert len(set(bkeys)) == len(bkeys)
        updated = sum(k in keys for k in bkeys)
        assert 0 < updated < len(bkeys)


def test_documents_keep_ids_below_image_mutant_offset(tmp_path):
    with pytest.raises(ValueError):
        gen.documents(str(tmp_path), 1, n_docs=1_000_000)


@pytest.mark.parametrize("n, p, rank", [
    (9, 0.5, None),      # fewer than 20 samples: the tail is the median
    (20, 0.5, None),
    (40, 0.75, 30),
    (100, 0.9, 90),
    (1000, 0.99, 990),
    (10_010, 0.999, 10_000),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, p, rank):
    xs = list(range(1, n + 1))
    got_p, value, count = tail(xs)
    assert (got_p, count) == (p, n)
    if rank is not None:
        assert value == rank
        assert sum(x > value for x in xs) >= 10


def test_parse_spark_metric_strings():
    assert parse_metric("292 ms") == pytest.approx(0.292)
    assert parse_metric("2.3 s") == pytest.approx(2.3)
    assert parse_metric("63.5 KiB") == pytest.approx(63.5 * 1024)
    assert parse_metric("26,165") == 26165
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 m (1 ms, 2 ms)") == 90


def test_refuses_to_run_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in (ROOT / "perfbench").glob("*.py"):
        (bench / f.name).write_bytes(f.read_bytes())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "near_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload", ["bank_warehouse", "mart_queries", "near_dedup"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_smoke_run(workload, trace, tmp_path):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny",
         "--trace-out", str(tmp_path / "trace.json")],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if trace:
        spans = json.loads((tmp_path / "trace.json").read_text())
        b = spans["breakdown"]
        assert sum(b["self_s"].values()) + b["unattributed_s"] == pytest.approx(
            b["pass_wall_s"], rel=1e-9)
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
