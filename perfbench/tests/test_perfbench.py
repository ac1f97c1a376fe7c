"""Tests of the benchmark itself: seeded inputs, the correctness gate and the
metric names it prints.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gate  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from pdfextract_spark import corpus  # noqa: E402
from pdfextract_spark.config import CONFIG  # noqa: E402


def test_same_seed_gives_byte_identical_input(tmp_path):
    w = workloads.WORKLOADS["skewed"]
    a = workloads.write_input(str(tmp_path / "a.parquet"), workloads.documents(w, 7, 1))
    b = workloads.write_input(str(tmp_path / "b.parquet"), workloads.documents(w, 7, 1))
    c = workloads.write_input(str(tmp_path / "c.parquet"), workloads.documents(w, 8, 1))
    with open(a, "rb") as fa, open(b, "rb") as fb, open(c, "rb") as fc:
        da, db, dc = fa.read(), fb.read(), fc.read()
    assert da == db
    assert da != dc


def test_workload_documents():
    w = workloads.WORKLOADS["skewed"]
    docs = workloads.documents(w, 3, 0)
    regular, oversized = docs[: w.n_docs], docs[w.n_docs:]
    assert regular == list(corpus.generate(w.n_docs, seed=3, skew_frac=0))
    assert len(oversized) == w.n_oversized
    for _, spans in oversized:
        assert len(spans) > CONFIG.oversize_span_threshold
        assert [s["offset"] for s in spans] == list(range(len(spans)))
    # every job extracts documents of its own
    later = workloads.documents(w, 3, 1)
    assert not {d for d, _ in docs} & {d for d, _ in later}
    # skewed is uniform plus the oversized band
    assert workloads.documents(workloads.WORKLOADS["uniform"], 3, 0) == regular


def _commit(out, rows_by_doc, n_buckets=1):
    """Lay out spans and a manifest the way pipeline.run_extraction does."""
    rows = [
        {"doc_id": d, "seq": i, "kind": k, "text": t, "media_ref": m, "offset": o,
         "page": 0, "para": 0, "style_ref": ""}
        for d, spans in rows_by_doc.items() for i, (k, t, m, o) in enumerate(spans)
    ]
    os.makedirs(out / "spans" / "bucket=0")
    pq.write_table(pa.Table.from_pylist(rows), out / "spans" / "bucket=0" / "part-0.parquet")
    os.makedirs(out / "manifest")
    manifest = [{"bucket": b, "n_docs": 0, "n_spans": len(rows) if b == 0 else 0,
                 "n_errors": 0, "wall_s": 1.0, "ts": ""} for b in range(n_buckets)]
    pq.write_table(pa.Table.from_pylist(manifest), out / "manifest" / "part-0.parquet")


@pytest.fixture(scope="module")
def sample():
    docs = [corpus.make_doc(5, i) for i in range(3)]
    return docs, gate.oracle_sample(docs, seed=5, k=3)


def test_gate_passes_faithful_output(tmp_path, sample):
    docs, expected = sample
    _commit(tmp_path, expected)
    res = gate.check_output(str(tmp_path), [d for d, _ in docs], 1, expected)
    assert res.errors == []
    assert (res.committed, res.failed, res.span_rows) == (3, 0, sum(map(len, expected.values())))


def test_gate_catches_planted_span_mismatch(tmp_path, sample):
    docs, expected = sample
    planted = {d: list(s) for d, s in expected.items()}
    victim = sorted(planted)[1]
    kind, text, ref, off = planted[victim][0]
    planted[victim][0] = (kind, text + "x", ref, off)
    _commit(tmp_path, planted)
    res = gate.check_output(str(tmp_path), [d for d, _ in docs], 1, expected)
    assert res.errors == [f"docs whose spans differ from the oracle: {victim}"]


def test_gate_catches_planted_missing_doc(tmp_path, sample):
    docs, expected = sample
    victim = sorted(expected)[0]
    _commit(tmp_path, {d: s for d, s in expected.items() if d != victim})
    res = gate.check_output(str(tmp_path), [d for d, _ in docs], 1, expected)
    assert f"missing docs: {victim}" in res.errors
    assert res.failed == 1


def test_gate_catches_manifest_and_seq_errors(tmp_path, sample):
    docs, expected = sample
    _commit(tmp_path, expected, n_buckets=2)
    table = pq.read_table(tmp_path / "spans" / "bucket=0" / "part-0.parquet")
    pq.write_table(table.slice(1), tmp_path / "spans" / "bucket=0" / "part-0.parquet")
    res = gate.check_output(str(tmp_path), [d for d, _ in docs], 1, expected)
    assert any(e.startswith("manifest buckets") for e in res.errors)
    assert any(e.startswith("manifest n_spans") for e in res.errors)
    assert any(e.startswith("docs whose seq is not contiguous") for e in res.errors)


def test_result_line_rejects_undeclared_metric():
    declared = run.declared_metrics(False)
    metrics = dict.fromkeys(declared, 1.0)
    line = json.loads(run.result_line(True, 1, 0, metrics, False))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    with pytest.raises(ValueError):
        run.result_line(True, 1, 0, {**metrics, "not_declared": 1.0}, False)
    with pytest.raises(ValueError):
        run.result_line(True, 1, 0, {"docs_per_s": 1.0}, False)


def test_benchmark_json_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_are_declared(trace):
    """Runs the benchmark once per mode (tens of seconds each)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "skewed",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    declared = run.declared_metrics(bool(trace))
    assert result["correct"] is True and result["failed"] == 0
    assert set(result["metrics"]) == set(declared)
    printed = {ln.split(" = ")[0]: ln.rsplit(" ", 1)[1] for ln in lines[:-1] if " = " in ln}
    assert printed == declared
