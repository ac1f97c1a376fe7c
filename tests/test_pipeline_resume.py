"""Checkpoint/resume + lineage semantics of pipeline.run_extraction."""

import json
import os

import pyarrow.parquet as pq
import pytest

from pdfextract_spark import pipeline
from pdfextract_spark.corpus import as_pandas
from pdfextract_spark.pipeline import (
    completed_buckets,
    metrics_summary,
    run_extraction,
)
from pdfextract_spark.sources.adapters import documents_to_interleaved  # noqa: F401


@pytest.fixture()
def docs_sdf(spark):
    return spark.createDataFrame(as_pandas(40, seed=13, skew_frac=0.0))


def test_run_and_resume(spark, docs_sdf, tmp_path):
    out = str(tmp_path / "extract_out")
    r1 = run_extraction(spark, docs_sdf, out, n_buckets=4, parallelism=4)
    assert sorted(r1.buckets_done) == [0, 1, 2, 3]
    assert r1.buckets_skipped == []
    assert r1.total_docs == 40
    assert r1.total_errors == 0

    spans = spark.read.parquet(os.path.join(out, "spans"))
    assert spans.count() == r1.total_spans
    assert spans.select("doc_id").distinct().count() == 40

    # resume: everything already committed -> nothing recomputed
    r2 = run_extraction(spark, docs_sdf, out, n_buckets=4, parallelism=4)
    assert r2.buckets_done == []
    assert sorted(r2.buckets_skipped) == [0, 1, 2, 3]

    m = json.loads(metrics_summary(spark, out))
    assert m["buckets"] == 4 and m["docs"] == 40 and m["errors"] == 0


def test_partial_resume(spark, docs_sdf, tmp_path):
    out = str(tmp_path / "extract_partial")
    # run only buckets 0..1 by pretending 2,3 are a later run: first full run,
    # then delete manifest rows is awkward with parquet — instead run with a
    # fresh dir and verify completed_buckets() drives the skip logic
    r1 = run_extraction(spark, docs_sdf, out, n_buckets=2, parallelism=4)
    assert sorted(completed_buckets(spark, out)) == [0, 1]
    # a second run with the same bucket count finds every bucket committed
    # and recomputes nothing
    r2 = run_extraction(spark, docs_sdf, out, n_buckets=2, parallelism=4)
    assert r2.buckets_done == []


def test_quarantine_rows_isolated(spark, tmp_path):
    import pandas as pd

    pdf = pd.DataFrame(
        [
            {"doc_id": "ok", "spans": [
                {"kind": "text", "text": "A Fine Title", "media_ref": "", "offset": 0},
                {"kind": "text", "text": "body line of words", "media_ref": "", "offset": 1},
            ]},
            {"doc_id": "broken", "spans": [
                {"kind": "text", "text": None, "media_ref": None, "offset": None},
            ]},
        ]
    )
    out = str(tmp_path / "extract_q")
    r = run_extraction(spark, spark.createDataFrame(pdf), out, n_buckets=1, parallelism=2)
    assert r.total_docs == 2
    spans = spark.read.parquet(os.path.join(out, "spans"))
    assert spans.filter("kind = 'error'").count() == 0
    if r.total_errors:
        q = spark.read.parquet(os.path.join(out, "quarantine"))
        assert q.count() == r.total_errors
        assert set(r.doc_id for r in q.select("doc_id").collect()) == {"broken"}


DOCS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _text_spans(n):
    return [{"kind": "text", "text": f"word{i} of a line", "media_ref": "",
             "offset": i} for i in range(n)]


def _assert_manifest_matches_disk(spark, out, n_docs):
    m = json.loads(metrics_summary(spark, out))
    assert m["docs"] == n_docs
    assert m["spans"] == spark.read.parquet(os.path.join(out, "spans")).count()
    q = os.path.join(out, "quarantine")
    q_rows = spark.read.parquet(q).count() if os.path.isdir(q) else 0
    assert m["errors"] == q_rows


def test_oversized_doc_with_bad_span_is_quarantined(spark, tmp_path):
    # past oversize_span_threshold, so the paged route extracts it
    bad = _text_spans(4_100)
    bad[17]["offset"] = None
    docs = spark.createDataFrame(
        [("ok", _text_spans(3)), ("big_bad", bad)], DOCS_SCHEMA
    )
    out = str(tmp_path / "extract_big_bad")
    r = run_extraction(spark, docs, out, n_buckets=1, parallelism=2)
    assert r.total_docs == 2 and r.total_errors == 1
    q = spark.read.parquet(os.path.join(out, "quarantine")).collect()
    assert [(row.doc_id, row.kind, row.seq) for row in q] == [("big_bad", "error", -1)]
    assert q[0].text.startswith("TypeError")
    m = pipeline.read_manifest(spark, out).collect()
    assert [row.n_errors for row in m] == [1]


def test_zero_span_doc_counts_in_n_docs(spark, tmp_path):
    docs = spark.createDataFrame([("ok", _text_spans(3)), ("empty", [])], DOCS_SCHEMA)
    out = str(tmp_path / "extract_empty_doc")
    r = run_extraction(spark, docs, out, n_buckets=1, parallelism=2)
    assert r.total_docs == 2
    assert [row.n_docs for row in pipeline.read_manifest(spark, out).collect()] == [2]


def test_crash_before_manifest_commit_reruns_only_that_bucket(
    spark, docs_sdf, tmp_path, monkeypatch
):
    out = str(tmp_path / "extract_crash")
    commit = pipeline._commit_manifest

    def crash_on_bucket_0(fs, output_path, row):
        if row["bucket"] == 0:
            raise RuntimeError("injected crash before the manifest commit")
        commit(fs, output_path, row)

    monkeypatch.setattr(pipeline, "_commit_manifest", crash_on_bucket_0)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_extraction(spark, docs_sdf, out, n_buckets=2, parallelism=4)
    # bucket 0's rows were renamed into place but never committed
    assert os.listdir(os.path.join(out, "spans", "bucket=0"))
    assert completed_buckets(spark, out) == [1]

    monkeypatch.undo()
    r = run_extraction(spark, docs_sdf, out, n_buckets=2, parallelism=4)
    assert r.buckets_done == [0] and r.buckets_skipped == [1]
    _assert_manifest_matches_disk(spark, out, 40)


def test_truncated_manifest_file_reruns_only_its_bucket(spark, docs_sdf, tmp_path):
    out = str(tmp_path / "extract_truncated")
    run_extraction(spark, docs_sdf, out, n_buckets=2, parallelism=4)
    mdir = os.path.join(out, "manifest")
    (victim,) = [
        os.path.join(mdir, f) for f in os.listdir(mdir)
        if f.endswith(".parquet")
        and pq.read_table(os.path.join(mdir, f)).column("bucket").to_pylist() == [0]
    ]
    with open(victim, "r+b") as fh:
        fh.truncate(os.path.getsize(victim) // 2)
    assert completed_buckets(spark, out) == [1]

    r = run_extraction(spark, docs_sdf, out, n_buckets=2, parallelism=4)
    assert r.buckets_done == [0] and r.buckets_skipped == [1]
    assert sorted(completed_buckets(spark, out)) == [0, 1]
    _assert_manifest_matches_disk(spark, out, 40)


def test_leftover_staging_and_temp_manifest_are_ignored(spark, docs_sdf, tmp_path):
    out = tmp_path / "extract_leftovers"
    stale = out / "_staging" / "bucket=0" / "quarantined=false"
    stale.mkdir(parents=True)
    (stale / "part-00000.parquet").write_bytes(b"not parquet")
    (out / "manifest").mkdir()
    (out / "manifest" / ".bucket-0.tmp").write_bytes(b"not parquet")

    r = run_extraction(spark, docs_sdf, str(out), n_buckets=2, parallelism=4)
    assert sorted(r.buckets_done) == [0, 1]
    _assert_manifest_matches_disk(spark, str(out), 40)
    assert not (out / "_staging").exists()
    assert not (out / "manifest" / ".bucket-0.tmp").exists()


def test_uri_output_path_commits_through_its_file_system(spark, docs_sdf, tmp_path):
    # a scheme-qualified path must resolve through Hadoop, never as a
    # relative local directory named "file:"
    local = tmp_path / "extract_uri"
    out = local.as_uri()
    r1 = run_extraction(spark, docs_sdf, out, n_buckets=2, parallelism=4)
    assert sorted(r1.buckets_done) == [0, 1] and r1.total_docs == 40
    assert sorted(f for f in os.listdir(local / "manifest")
                  if not f.startswith(".")) == ["bucket-0.parquet", "bucket-1.parquet"]
    assert sorted(os.listdir(local / "spans")) == ["bucket=0", "bucket=1"]
    assert not (local / "_staging").exists()
    _assert_manifest_matches_disk(spark, str(local), 40)

    r2 = run_extraction(spark, docs_sdf, out, n_buckets=2, parallelism=4)
    assert r2.buckets_done == [] and sorted(r2.buckets_skipped) == [0, 1]


def test_null_spans_doc_is_quarantined(spark, tmp_path):
    # size(null) is null under ANSI, so the band split must not drop the doc
    docs = spark.createDataFrame(
        [("good", _text_spans(3)), ("null_spans", None)], DOCS_SCHEMA
    )
    out = str(tmp_path / "extract_null_spans")
    r = run_extraction(spark, docs, out, n_buckets=1, parallelism=2)
    assert r.total_docs == 2 and r.total_errors == 1
    q = spark.read.parquet(os.path.join(out, "quarantine")).collect()
    assert [(row.doc_id, row.kind, row.seq) for row in q] == [("null_spans", "error", -1)]
    assert [row.n_errors for row in pipeline.read_manifest(spark, out).collect()] == [1]


@pytest.mark.parametrize("bucket_type, buckets", [
    ("int", [0, None, None]),        # min/max skip the nulls
    ("double", [0.5, 1.5, 1.0]),     # int(lo), int(hi) in range; == b misses
])
def test_untrusted_doc_bucket_is_recomputed(spark, tmp_path, bucket_type, buckets):
    docs = spark.createDataFrame(
        [(d, _text_spans(3), b) for d, b in zip("abc", buckets)],
        f"{DOCS_SCHEMA}, doc_bucket {bucket_type}",
    )
    out = str(tmp_path / f"extract_bucket_{bucket_type}")
    r = run_extraction(spark, docs, out, n_buckets=2, parallelism=2)
    assert r.total_docs == 3
    spans = spark.read.parquet(os.path.join(out, "spans"))
    assert {row.doc_id for row in spans.select("doc_id").distinct().collect()} == set("abc")
