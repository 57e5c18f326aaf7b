"""The benchmark's own tests: every named metric is emitted with its
unit, and each output check rejects a wrong answer (a dropped or extra
candidate pair, a wrong oracle row).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs use ``--smoke`` (sf0.001 and a few small files) and
start one Spark session each.
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

import datagen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    report, result = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    return report, result


def test_spec_names_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_traced_smoke_run_emits_every_metric(workload):
    report, result = _run(workload, 1)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, report["check_failures"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    # the traced run computes the end-to-end metrics too (for the
    # tracing-overhead report)
    assert set(report["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert report["samples"]["ops"] >= 1


def test_untraced_smoke_run_emits_end_to_end_metrics():
    _, result = _run("stream_dedup", 0)
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_no_result_without_the_engine(tmp_path):
    """In a tree holding only the benchmark the run fails fast."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    p = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "stream_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""


# -- the output checks bite ---------------------------------------------------


def test_stream_check_rejects_dropped_pair():
    want = {(1, 2), (3, 9), (4, 5)}
    assert workloads.pair_problems(set(want), want) == []
    assert workloads.pair_problems(want - {(3, 9)}, want)
    assert workloads.pair_problems(want | {(7, 8)}, want)


@pytest.mark.parametrize("name,column,delta,bites", [
    ("q3_shipping_priority", "revenue", 1.0, True),
    # one flip of the last rounded digit is tolerated (ROUNDED_SUM_TOL)
    ("q3_shipping_priority", "revenue", 0.01, False),
    ("ivf_cosine_topk", "cos_sim", 1e-6, True),
])
def test_batch_check_rejects_wrong_rows(tmp_path, name, column, delta, bites):
    """Batch.check compares collected rows against the DuckDB oracle:
    the oracle's own rows pass, a perturbed value fails."""
    from pulsar_internal_spark.plans.queries import oracle_sql
    from tests.oracle_harness import run_oracle

    fixture = datagen.write(str(tmp_path / "fx"), 0.001, 5)
    b = workloads.Batch.__new__(workloads.Batch)
    b.fixture, b.check_failures = fixture, []
    pdf = run_oracle(oracle_sql()[name], fixture)
    assert len(pdf) > 0
    b.collected = {name: pdf.copy()}
    b.check()
    assert b.check_failures == []
    bad = pdf.copy()
    bad.loc[0, column] = bad.loc[0, column] + delta
    b.collected = {name: bad}
    b.check()
    assert len(b.check_failures) == int(bites)


def test_fixture_is_a_function_of_the_seed():
    a = datagen.generate(0.001, 11)
    b = datagen.generate(0.001, 11, ("documents", "embeddings"))
    c = datagen.generate(0.001, 12, ("documents",))
    assert a["documents"].equals(b["documents"]) and a["embeddings"].equals(b["embeddings"])
    assert not a["documents"].equals(c["documents"])


def test_stream_reads_compacted_source_logs(tmp_path):
    """Every tenth source log is a .compact file listing earlier
    batches' files too; only the asked batch's files are returned."""
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)
    entry = '{{"path":"file:///in/drop/part-{0:05d}.json","timestamp":1,"batchId":{0}}}'
    (d / "8").write_text("v1\n" + entry.format(8) + "\n")
    (d / "9.compact").write_text("v1\n" + "\n".join(entry.format(b) for b in range(10)) + "\n")
    s = workloads.Stream.__new__(workloads.Stream)
    s.ckpt = str(tmp_path)
    assert s._batch_files(8) == ["part-00008.json"]
    assert s._batch_files(9) == ["part-00009.json"]
