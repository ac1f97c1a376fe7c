"""Seeded inputs for the extraction benchmark's workloads.

Every document comes from ``pdfextract_spark.corpus``: regular documents from
``corpus.make_doc`` (as ``corpus.generate`` without its skew band makes them)
and, for ``skewed``, oversized documents built by concatenating
``corpus.make_doc(..., skew=True)`` documents past
``CONFIG.oversize_span_threshold``. The corpus' own skew band does not
reliably cross that threshold, so without the concatenation the paged operator
would not run. The same seed always yields byte-identical parquet.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from pdfextract_spark import corpus
from pdfextract_spark.config import CONFIG


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int        # regular documents per job
    n_buckets: int     # run_extraction buckets
    n_oversized: int   # documents above CONFIG.oversize_span_threshold


# Why each workload exists (also in BENCHMARK.json):
#   uniform  two buckets, no oversized docs: the narrow extract operator, the
#            per-document engine and the per-bucket Spark jobs of
#            pipeline.run_extraction carry the job.
#   skewed   the uniform documents plus an oversized band that run_extraction
#            routes through extract_paged: straggler and skew handling.
WORKLOADS: Dict[str, Workload] = {
    w.name: w
    for w in (
        Workload("uniform", n_docs=64, n_buckets=2, n_oversized=0),
        Workload("skewed", n_docs=64, n_buckets=2, n_oversized=1),
    )
}

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])

Doc = Tuple[str, List[Dict]]

# document indices at or above these are reserved, so no job's regular
# documents repeat the warm-up documents or the parts of an oversized one
WARM_INDEX = 1_000_000_000
OVERSIZED_INDEX = 2_000_000_000
# oversized-document number of the warm-up; no run has that many jobs
WARM_OVERSIZED = 999


def oversized_doc(seed: int, k: int) -> Doc:
    """The k-th oversized document: skew documents concatenated with offsets
    re-sequenced from 0, cut at a fixed span count a quarter above the paged
    threshold. The fixed size keeps the band's work the same for every seed."""
    n_spans = CONFIG.oversize_span_threshold * 5 // 4
    spans: List[Dict] = []
    part = 0
    while len(spans) < n_spans:
        _, doc_spans = corpus.make_doc(seed, OVERSIZED_INDEX + 1_000 * k + part, skew=True)
        base = len(spans)
        spans.extend(dict(s, offset=base + i) for i, s in enumerate(doc_spans))
        part += 1
    return f"doc_{seed}_oversized{k:02d}", spans[:n_spans]


def documents(workload: Workload, seed: int, job: int) -> List[Doc]:
    """Input of the job-th job of a run. Every job gets documents of its own,
    so no job re-reads what an earlier one extracted; job 0's regular
    documents are exactly ``corpus.generate(n_docs, seed, skew_frac=0)``."""
    first = job * workload.n_docs
    docs = [corpus.make_doc(seed, i) for i in range(first, first + workload.n_docs)]
    first = job * workload.n_oversized
    docs.extend(oversized_doc(seed, k) for k in range(first, first + workload.n_oversized))
    return docs


def warm_documents(seed: int, n: int) -> List[Doc]:
    """Regular documents for the untimed warm-up jobs, disjoint from every
    job's documents."""
    return [corpus.make_doc(seed, WARM_INDEX + i) for i in range(n)]


def write_input(path: str, docs: List[Doc]) -> str:
    table = pa.Table.from_pydict(
        {"doc_id": [d for d, _ in docs], "spans": [s for _, s in docs]},
        schema=DOC_SCHEMA,
    )
    pq.write_table(table, path)
    return path
