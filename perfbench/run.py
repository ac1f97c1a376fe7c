"""Extraction benchmark: one workload and one seed per run.

    python3 perfbench/run.py --workload uniform --seed 1 --seconds 20 --trace 0

Runs ``pipeline.run_extraction`` on ``local[<cores>]`` from this one Spark
driver process as a closed loop: one job at a time, each on seeded documents of its
own, while the window of ``--seconds`` lasts. Every job's output passes the
correctness gate (gate.py) before any number is printed. The last line of
standard output is one JSON object; with ``--trace 0`` it holds the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the per-layer ones,
and the spans go to ``perfbench/_traces/``. Exit code 1 means the gate
failed; the result line then has ``"correct": false`` and no metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from pdfextract_spark import pipeline  # noqa: E402
from pdfextract_spark.config import CONFIG  # noqa: E402
from pdfextract_spark.operators.extract import extract_spans  # noqa: E402
from pdfextract_spark.operators.extract_paged import extract_spans_paged  # noqa: E402
from pdfextract_spark.operators.postprocess import dehyphenate  # noqa: E402
from pdfextract_spark.operators.serialize import to_pxml, to_tei  # noqa: E402

import gate  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402
from tracing import PeakTreeRss, Tracer, alive, descendants  # noqa: E402

WORK = os.path.join(BENCH_DIR, "_work")
TRACES = os.path.join(BENCH_DIR, "_traces")
SETUPS_PER_RUN = 3
SETUP_DOCS = 4
ORACLE_DOCS_PER_JOB = 6
WARM_DOCS = 16


def declared_metrics(trace: bool) -> Dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def result_line(correct: bool, attempted: int, failed: int, metrics: Dict[str, float], trace: bool) -> str:
    declared = declared_metrics(trace)
    if metrics and set(metrics) != set(declared):
        raise ValueError(
            f"metrics {sorted(set(metrics) ^ set(declared))} differ from BENCHMARK.json"
        )
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": declared[k]} for k, v in metrics.items()},
    })


@dataclass
class Job:
    index: int
    docs: list
    output: str
    traced: bool
    wall_s: float = 0.0
    peak_rss_bytes: int = 0
    spark_jobs: int = 0
    spark_stages: int = 0
    expected: Dict = field(default_factory=dict)
    gate: Optional[gate.GateResult] = None


class Bench:
    def __init__(self, workload: workloads.Workload, seed: int, tracer: Tracer):
        self.w = workload
        self.seed = seed
        self.tracer = tracer
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.next_job = 0

    # ------------------------------------------------------------ session
    def _conf(self) -> Dict[str, str]:
        tmp = os.path.join(WORK, "tmp")
        return {
            "spark.master": f"local[{self.cores}]",
            "spark.app.name": "perfbench",
            # a heap fixed and touched at start-up, so the JVM's resident
            # size does not follow garbage-collector timing; C1 only, because
            # C2 kept job times drifting, differently in every run, for the
            # first ten or so jobs
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-Xms1g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.sql.shuffle.partitions": str(self.cores),
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }

    def set_up(self) -> float:
        """Session start through the first completed warm-up extract_spans
        job (Python-worker spawn and imports included)."""
        from pyspark.sql import SparkSession

        warm = os.path.join(WORK, "warm.parquet")
        if not os.path.exists(warm):
            workloads.write_input(warm, workloads.warm_documents(self.seed, SETUP_DOCS))
        t0 = time.perf_counter()
        builder = SparkSession.builder
        for k, v in self._conf().items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        extract_spans(self.spark.read.parquet(warm)).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def shut_down(self, keep_jvm: bool = False) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if keep_jvm or gw is None:
            return
        gw.shutdown()
        # the JVM exits when its stdin closes
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def warm_pipeline(self) -> None:
        """One untimed run_extraction shaped like a job (the workload's
        buckets, WARM_DOCS regular documents and, if the workload has that
        band, one oversized one), so the first timed job neither takes JVM
        code paths for the first time nor spawns the Python workers."""
        docs = workloads.warm_documents(self.seed, WARM_DOCS)
        if self.w.n_oversized:
            docs.append(workloads.oversized_doc(self.seed, workloads.WARM_OVERSIZED))
        warm = workloads.write_input(os.path.join(WORK, "warm_pipeline.parquet"), docs)
        pipeline.run_extraction(
            self.spark, self.spark.read.parquet(warm), os.path.join(WORK, "warm_out"),
            n_buckets=self.w.n_buckets, parallelism=self.cores, concurrency=self.cores,
        )

    # ------------------------------------------------------------ jobs
    def _run_job(self, traced: bool) -> Job:
        i = self.next_job
        self.next_job += 1
        job = Job(i, workloads.documents(self.w, self.seed, i), os.path.join(WORK, f"job{i}"), traced)
        os.makedirs(job.output)
        inp = workloads.write_input(os.path.join(job.output, "input.parquet"), job.docs)
        out = os.path.join(job.output, "out")
        with PeakTreeRss() as rss:
            if traced:
                with self.tracer.span("pipeline.run_extraction", job=i), \
                        layers.spark_jobs(self.spark.sparkContext, f"perfbench-job{i}") as counts:
                    t0 = time.perf_counter()
                    self._extract(inp, out)
                    job.wall_s = time.perf_counter() - t0
                job.spark_jobs, job.spark_stages = counts["jobs"], counts["stages"]
            else:
                t0 = time.perf_counter()
                self._extract(inp, out)
                job.wall_s = time.perf_counter() - t0
        job.peak_rss_bytes = rss.peak
        return job

    def _extract(self, inp: str, out: str) -> None:
        pipeline.run_extraction(
            self.spark, self.spark.read.parquet(inp), out,
            n_buckets=self.w.n_buckets, parallelism=self.cores, concurrency=self.cores,
        )

    def window(self, seconds: float, trace: bool) -> List[Job]:
        """Closed loop: the next job starts when the previous one returns,
        while its predicted midpoint still falls inside the window. Input
        generation happens between jobs, outside every timed job. With trace,
        every second job is traced, so traced and untraced jobs share the
        window's conditions, and the window holds at least one of each."""
        jobs: List[Job] = []
        spent = 0.0
        while len(jobs) < 1 + trace or spent + jobs[-1].wall_s / 2 <= seconds:
            jobs.append(self._run_job(traced=trace and len(jobs) % 2 == 1))
            spent += jobs[-1].wall_s
        return jobs

    def check(self, jobs: List[Job]) -> List[str]:
        errors = []
        for job in jobs:
            job.expected = gate.oracle_sample(job.docs, self.seed * 1_000 + job.index, ORACLE_DOCS_PER_JOB)
            job.gate = gate.check_output(
                os.path.join(job.output, "out"), [d for d, _ in job.docs], self.w.n_buckets, job.expected,
            )
            errors.extend(f"job {job.index}: {e}" for e in job.gate.errors)
        return errors

    # ------------------------------------------------------------ layers
    def layer_metrics(self, jobs: List[Job]) -> Dict[str, float]:
        from pyspark.sql import functions as F

        tr = self.tracer
        traced = [j for j in jobs if j.traced]
        untraced = [j for j in jobs if not j.traced]

        # engine layers, replayed in-process on the oracle sample
        sample = [d for job in traced for d in job.docs if d[0] in job.expected]
        expected = {d: s for job in traced for d, s in job.expected.items()}
        counts, produced = layers.replay_engine(tr, sample)
        differ = sorted(d for d in produced if produced[d] != expected[d])
        if differ:
            raise RuntimeError(f"engine replay differs from the oracle on {differ}")
        n = counts["docs"]
        engine_s = sum(tr.total_s(k) for k in ("layout", "scanfilters", "engine.page", "engine.finalize"))

        # operators on the last traced job's input: regular docs and the band
        last = traced[-1]
        threshold = CONFIG.oversize_span_threshold
        inp = self.spark.read.parquet(os.path.join(last.output, "input.parquet"))
        n_regular = sum(len(s) <= threshold for _, s in last.docs)
        band_ids = {d for d, s in last.docs if len(s) > threshold}
        band = inp.filter(F.size("spans") > threshold)
        extract_s = layers.timed_noop(tr, "operators.extract",
                                      extract_spans(inp.filter(F.size("spans") <= threshold)))
        paged_s = layers.timed_noop(tr, "operators.extract_paged", extract_spans_paged(
            band, page_partitions=2 * self.cores, doc_partitions=self.cores))
        whole_s = layers.timed_noop(tr, "operators.extract.band", extract_spans(band))

        out = os.path.join(last.output, "out")
        spans = self.spark.read.parquet(os.path.join(out, "spans"))
        tei_s = layers.timed_noop(tr, "operators.serialize.tei", to_tei(spans))
        pxml_s = layers.timed_noop(tr, "operators.serialize.pxml", to_pxml(spans))
        dehyph_s = layers.timed_noop(tr, "operators.postprocess.dehyphenate", dehyphenate(spans))

        bucket_walls = [w for j in traced for w in gate.manifest_walls(os.path.join(j.output, "out"))]
        traced_rate, untraced_rate = docs_per_s(traced), docs_per_s(untraced)
        return {
            "layout.ms_per_doc": 1e3 * tr.total_s("layout") / n,
            "layout.glyphs_per_doc": counts["glyphs"] / n,
            "scanfilters.ms_per_doc": 1e3 * tr.total_s("scanfilters") / n,
            "scanfilters.dropped_frac": 1 - counts["glyphs_kept"] / counts["glyphs"],
            "engine.page_ms_per_doc": 1e3 * tr.total_s("engine.page") / n,
            "engine.finalize_ms_per_doc": 1e3 * tr.total_s("engine.finalize") / n,
            "engine.pages_per_doc": counts["pages"] / n,
            "engine.words_per_doc": counts["words"] / n,
            "extract.docs_per_s": n_regular / extract_s,
            "extract.framework_share": 1 - (engine_s / n) * n_regular / (extract_s * self.cores),
            "paged.band_s": paged_s,
            "whole.band_s": whole_s,
            "paged.page_rows": len(gate.committed_pages(out, band_ids)),
            "pipeline.overhead_s": statistics.median(j.wall_s for j in traced)
            - extract_s - (paged_s if band_ids else 0.0),
            "pipeline.jobs_per_bucket": statistics.median(j.spark_jobs for j in traced) / self.w.n_buckets,
            "pipeline.stages_per_bucket": statistics.median(j.spark_stages for j in traced) / self.w.n_buckets,
            "pipeline.bucket_wall_p50_s": statistics.median(bucket_walls),
            "pipeline.bucket_wall_max_s": max(bucket_walls),
            "serialize.tei_s": tei_s,
            "serialize.pxml_s": pxml_s,
            "postprocess.dehyphenate_s": dehyph_s,
            "trace.untraced_docs_per_s": untraced_rate,
            "trace.traced_docs_per_s": traced_rate,
            "trace.overhead_frac": 1 - traced_rate / untraced_rate,
        }


def docs_per_s(jobs: List[Job]) -> float:
    """Median over jobs of documents committed per second of job wall."""
    return statistics.median(j.gate.committed / j.wall_s for j in jobs)


def end_to_end_metrics(jobs: List[Job], setups: List[float]) -> Dict[str, float]:
    return {
        "docs_per_s": docs_per_s(jobs),
        "setup_s": statistics.median(setups),
        "committed_frac": sum(j.gate.committed for j in jobs) / sum(j.gate.attempted for j in jobs),
        "out_bytes_per_doc": statistics.median(j.gate.out_bytes / j.gate.attempted for j in jobs),
        # the lower median: a burst of Python workers in one of two jobs does
        # not set the figure, a burst in most jobs does
        "peak_rss_mb": statistics.median_low(j.peak_rss_bytes for j in jobs) / 2**20,
    }


def run(workload: workloads.Workload, seed: int, seconds: float, trace: bool) -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    tracer = Tracer()
    bench = Bench(workload, seed, tracer)
    try:
        setups = [bench.set_up()]
        # the per-layer run needs no set-up times
        for _ in range(0 if trace else SETUPS_PER_RUN - 1):
            bench.shut_down(keep_jvm=True)
            setups.append(bench.set_up())
        bench.warm_pipeline()
        jobs = bench.window(seconds, trace)
        errors = bench.check(jobs)
        attempted = sum(j.gate.attempted for j in jobs)
        failed = sum(j.gate.failed for j in jobs)
        for j in jobs:
            print(f"job {j.index}{' (traced)' if j.traced else ''}: {len(j.docs)} docs in "
                  f"{j.wall_s:.3f} s, {j.gate.committed} committed, {j.gate.quarantined} quarantined")
        if errors:
            for e in errors:
                print(f"GATE FAILED: {e}")
            print(result_line(False, attempted, failed, {}, trace))
            return 1
        if trace:
            metrics = bench.layer_metrics(jobs)
            os.makedirs(TRACES, exist_ok=True)
            tracer.write(os.path.join(TRACES, f"{workload.name}_seed{seed}.json"))
        else:
            metrics = end_to_end_metrics(jobs, setups)
        units = declared_metrics(trace)
        for k, v in metrics.items():
            print(f"{k} = {v:.6g} {units[k]}")
        print(result_line(True, attempted, failed, metrics, trace))
        return 0
    finally:
        # the Python workers are children of the JVM: listed now, since they
        # are no longer this process's descendants once the JVM has exited
        started = descendants(os.getpid())
        bench.shut_down()
        wait_ended(started)
        shutil.rmtree(WORK, ignore_errors=True)


def wait_ended(pids: List[int], timeout_s: float = 30.0) -> None:
    """Wait for every listed process to end; kill what lingers."""
    deadline = time.monotonic() + timeout_s
    while any(map(alive, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run(workloads.WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
