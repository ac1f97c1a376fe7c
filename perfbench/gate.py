"""Correctness gate for one committed ``run_extraction`` output directory.

Runs outside every timed region and reads the output with pyarrow, so it adds
no Spark jobs. Three checks:

1. every input ``doc_id`` is committed with ``seq`` contiguous from 0, or is
   quarantined (``kind='error'``, counted as failed, not as incorrect);
2. the manifest's span and error totals equal the rows on disk;
3. on a seeded sample, the committed spans equal the reference
   ``oracle.document.extract_document`` under span-sequence equality
   ``(kind, text, media_ref, offset)`` in ``seq`` order.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Sequence, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from pdfextract_spark.config import CONFIG
from pdfextract_spark.oracle.document import extract_document

Span = Tuple[str, str, str, int]
SPAN_COLS = ["doc_id", "seq", "kind", "text", "media_ref", "offset"]
MAX_REPORTED = 5


@dataclass
class GateResult:
    attempted: int
    committed: int = 0
    quarantined: int = 0
    span_rows: int = 0
    out_bytes: int = 0
    errors: List[str] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return self.attempted - self.committed


def oracle_sample(docs: Sequence[Tuple[str, List[Dict]]], seed: int, k: int) -> Dict[str, List[Span]]:
    """Reference spans for k seeded documents. Oversized documents are left
    out: the oracle costs seconds per oversized document, and the repo's own
    tests check the paged operator against the narrow one."""
    regular = [d for d in docs if len(d[1]) <= CONFIG.oversize_span_threshold]
    sample = random.Random(seed).sample(regular, min(k, len(regular)))
    out: Dict[str, List[Span]] = {}
    for doc_id, spans in sample:
        result = extract_document(
            doc_id,
            [s["kind"] for s in spans],
            [s["text"] or "" for s in spans],
            [s["media_ref"] or "" for s in spans],
            [int(s["offset"]) for s in spans],
        )
        out[doc_id] = [(o.kind, o.text, o.media_ref, o.offset) for o in result]
    return out


def _parquet_files(root: str) -> List[str]:
    found = []
    for dirpath, _, files in os.walk(root):
        found.extend(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return sorted(found)


def _read(root: str, columns=None) -> Tuple[pa.Table, int]:
    files = _parquet_files(root)
    if not files:
        return None, 0
    tables = [pq.read_table(f, columns=columns) for f in files]
    return pa.concat_tables(tables), sum(os.path.getsize(f) for f in files)


def _report(errors: List[str], what: str, items: Iterable) -> None:
    items = sorted(items)
    if items:
        shown = ", ".join(map(str, items[:MAX_REPORTED]))
        more = f" (+{len(items) - MAX_REPORTED} more)" if len(items) > MAX_REPORTED else ""
        errors.append(f"{what}: {shown}{more}")


def check_output(
    output_path: str,
    input_ids: Sequence[str],
    n_buckets: int,
    expected: Dict[str, List[Span]],
) -> GateResult:
    res = GateResult(attempted=len(input_ids))
    spans, res.out_bytes = _read(os.path.join(output_path, "spans"), SPAN_COLS)
    quarantine, _ = _read(os.path.join(output_path, "quarantine"), ["doc_id"])
    manifest, _ = _read(os.path.join(output_path, "manifest"), ["bucket", "n_spans", "n_errors"])

    by_doc: Dict[str, List[Tuple[int, Span]]] = {}
    if spans is not None:
        cols = spans.to_pydict()
        res.span_rows = spans.num_rows
        for d, sq, k, t, m, o in zip(*(cols[c] for c in SPAN_COLS)):
            by_doc.setdefault(d, []).append((sq, (k, t, m, o)))
    quarantined = set(quarantine.column("doc_id").to_pylist()) if quarantine is not None else set()
    q_rows = quarantine.num_rows if quarantine is not None else 0

    inputs = set(input_ids)
    res.quarantined = len(quarantined & inputs)
    _report(res.errors, "missing docs", inputs - set(by_doc) - quarantined)
    _report(res.errors, "docs not in the input", (set(by_doc) | quarantined) - inputs)
    _report(res.errors, "docs both committed and quarantined", set(by_doc) & quarantined)
    gaps = []
    for d, rows in by_doc.items():
        rows.sort(key=lambda r: r[0])
        if [r[0] for r in rows] != list(range(len(rows))):
            gaps.append(d)
    _report(res.errors, "docs whose seq is not contiguous from 0", gaps)
    res.committed = len((set(by_doc) & inputs) - quarantined) - len(set(gaps) & inputs)

    if manifest is None:
        res.errors.append("no manifest committed")
    else:
        m = manifest.to_pydict()
        if sorted(m["bucket"]) != list(range(n_buckets)):
            res.errors.append(f"manifest buckets {sorted(m['bucket'])} != 0..{n_buckets - 1}")
        if sum(m["n_spans"]) != res.span_rows:
            res.errors.append(f"manifest n_spans {sum(m['n_spans'])} != {res.span_rows} rows on disk")
        if sum(m["n_errors"]) != q_rows:
            res.errors.append(f"manifest n_errors {sum(m['n_errors'])} != {q_rows} quarantine rows")

    mismatched = [
        d for d, want in expected.items()
        if d not in quarantined and [s for _, s in by_doc.get(d, [])] != want
    ]
    _report(res.errors, "docs whose spans differ from the oracle", mismatched)
    return res


def committed_pages(output_path: str, doc_ids: Iterable[str]) -> set:
    """(doc_id, page) pairs that carry committed spans, for the given docs."""
    wanted = set(doc_ids)
    spans, _ = _read(os.path.join(output_path, "spans"), ["doc_id", "page"])
    if spans is None or not wanted:
        return set()
    cols = spans.to_pydict()
    return {(d, p) for d, p in zip(cols["doc_id"], cols["page"]) if d in wanted and p >= 0}


def manifest_walls(output_path: str) -> List[float]:
    """Per-bucket wall seconds the pipeline recorded in its manifest."""
    manifest, _ = _read(os.path.join(output_path, "manifest"), ["wall_s"])
    return manifest.column("wall_s").to_pylist()
