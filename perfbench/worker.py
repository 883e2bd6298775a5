"""One benchmark process: set up a session, run one workload, report.

Started by ``run.py`` with the fixtures already generated, so the time
from this process's start to a ready session is pure set-up. Writes one
JSON record to ``<work>/result.json``; ``run.py`` turns it into the
benchmark's output line.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from langtoolsosm_spark.plans import driver_queries, pipeline
from langtoolsosm_spark.session import get_spark
from langtoolsosm_spark.sources.snapshots import SnapshotTable

import catalog
import fixtures
import procfs
import spans
from catalog import QUERIES


def digest(df) -> list[int]:
    """[rows, order-insensitive hash of every column] in one action.

    Consuming every column stops Catalyst from pruning work that a bare
    ``count()`` would skip.
    """
    cols = [df[c] for c in df.columns]
    row = df.select(
        F.count(F.lit(1)), F.sum(F.pmod(F.xxhash64(*cols), F.lit(2**31)))
    ).first()
    return [int(row[0]), int(row[1] or 0)]


def snapshot_digest(files: list[str]) -> tuple[list[int], int]:
    """([rows, order-insensitive hash], distinct image ids) of snapshot
    files, read with pyarrow outside the engine that wrote them."""
    df = pq.read_table(files).to_pandas()
    df = df[sorted(c for c in df.columns if not c.startswith("__"))]
    rows = sorted("\x01".join(map(repr, rec)) for rec in df.itertuples(index=False))
    h = hashlib.sha256("\x02".join(rows).encode()).hexdigest()
    return [len(df), int(h[:12], 16)], df["image_id"].nunique()


class Pipeline:
    """``run_to_snapshot`` (the flagship: kNN on, image bytes never read)
    then ``run_ingest`` (decode and verify every image, kNN off), each
    into its own snapshot table, over the same seeded images."""

    ops_per_job = 2

    def __init__(self, work: str):
        self.synth = os.path.join(work, "data", "synth_sf0.001")
        self.out = os.path.join(work, "out")
        self.n_images = 0
        self.outputs: list[tuple[str, str, str, dict]] = []

    def warm_scan(self, spark) -> None:
        self.n_images = spark.read.parquet(f"{self.synth}/images.parquet").count()

    def run(self, spark, rep: str, tracer) -> tuple[int, int]:
        """(input rows, failed operations) of one job."""
        jobs = (
            ("flagship", "pipeline.scan", lambda path: pipeline.run_to_snapshot(
                spark, self.synth, path, res=8, with_knn=True, resume=False)),
            ("ingest", "imagecodec.decode_verify", lambda path: pipeline.run_ingest(
                spark, self.synth, path, res=8)),
        )
        for name, source_span, job in jobs:
            if tracer:
                tracer.begin(source_span)
            path = os.path.join(self.out, f"{rep}-{name}")
            self.outputs.append((rep, name, path, job(path)))
        return len(jobs) * self.n_images, 0

    def checks(self) -> tuple[dict, list[str], float]:
        """Read every snapshot back: (digests, problems, bytes per row)."""
        digests, problems, total_bytes, total_rows = {}, [], 0, 0
        for rep, name, path, result in self.outputs:
            files = SnapshotTable(path).live_files()
            d, distinct = snapshot_digest(files)
            digests.setdefault(rep, {})[name] = d
            where = f"{rep} {name}"
            if d[0] != result["rows"]:
                problems.append(f"{where}: read back {d[0]} rows, job reported {result['rows']}")
            if distinct != d[0]:
                problems.append(f"{where}: an image is owned more than once")
            obs = result.get("observed")
            if obs and not obs["n_decode_ok"] == obs["n_images"] == self.n_images:
                problems.append(f"{where}: decoded {obs['n_decode_ok']} of "
                                f"{obs['n_images']} images, input has {self.n_images}")
            total_bytes += sum(os.path.getsize(f) for f in files)
            total_rows += d[0]
            shutil.rmtree(path, ignore_errors=True)
        self.outputs.clear()
        return digests, problems, total_bytes / max(total_rows, 1)


# the tables each registry query reads, for its input row count
QUERY_TABLES = {
    "images_phash_pairs": ["images"],
    "knox_stat": ["events"],
    "pip_join": ["orders"],
    "pip_unique_owner": ["orders"],
    "lsh_candidate_pairs": ["documents"],
    "co_visitation": ["events"],
    "knn_join": ["orders", "customer"],
    "embedding_topk": ["embeddings"],
    "minhash_signatures": ["documents"],
}


class Registry:
    """Nine read-only analyst queries, each consumed by ``digest``."""

    ops_per_job = len(QUERIES)

    def __init__(self, work: str):
        self.sf_dir = fixtures.REGISTRY_TABLES
        images = os.path.join(work, "data", "synth_sf0.001", "images.parquet")
        # the registry pins its image queries to the sf0.01 tier; read the
        # sf0.001 tier instead, which keeps a registry run within the time
        # a benchmark run has
        driver_queries._synth_images = lambda spark, sf_dir: spark.read.parquet(images)
        paths = {t: f"{self.sf_dir}/{t}.parquet" for ts in QUERY_TABLES.values() for t in ts}
        paths["images"] = images
        n = {t: pq.ParquetFile(p).metadata.num_rows for t, p in paths.items()}
        self.input_rows = sum(n[t] for q in QUERIES for t in QUERY_TABLES[q])
        self.results: dict[str, dict] = {}

    def warm_scan(self, spark) -> None:
        spark.read.parquet(f"{self.sf_dir}/orders.parquet").count()

    def run(self, spark, rep: str, tracer) -> tuple[int, int]:
        out = self.results.setdefault(rep, {})
        failed = 0
        for q in QUERIES:
            with tracer.span(f"query.{q}") if tracer else nullcontext():
                try:
                    out[q] = digest(driver_queries.REGISTRY[q][0](spark, self.sf_dir))
                except Exception:
                    traceback.print_exc()
                    failed += 1
        return self.input_rows, failed

    def checks(self):
        digests, self.results = self.results, {}
        return digests, [], 0.0


WORKLOADS = {"pipeline": Pipeline, "registry_heavy": Registry}


def run_job(wl, spark, name: str, tracer=None):
    """(wall s, process-tree CPU s, input rows, failed ops) of one job."""
    cpu0, t0 = procfs.tree_cpu_s(), time.perf_counter()
    try:
        rows, failed = wl.run(spark, name, tracer)
    except Exception:
        traceback.print_exc()
        rows, failed = 0, wl.ops_per_job
    return time.perf_counter() - t0, procfs.tree_cpu_s() - cpu0, rows, failed


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    rss = procfs.PeakRss() if args.trace else nullcontext()
    with rss:
        rec = measure(args)
    if args.trace:
        rec["per_layer"]["session.peak_rss_mb"] = rss.peak_mb
    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(rec, f)
    sys.stdout.flush()
    sys.stderr.flush()
    # the session is stopped; run.py reaps the JVM with the process group
    os._exit(0)


def measure(args) -> dict:
    wl = WORKLOADS[args.workload](args.work)
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=len(os.sched_getaffinity(0)))
    get_spark_s = time.perf_counter() - t
    wl.warm_scan(spark)
    ready = time.time()

    job_s, cpu_s, rows, failed = run_job(wl, spark, "job")
    per_layer = None
    if args.trace:
        # a second, warm job untraced and a third traced: the pair gives
        # the tracing overhead, the third the per-layer figures
        warm = run_job(wl, spark, "warm")
        tracer = spans.Tracer(spark)
        tracer.start(wrap_layers=isinstance(wl, Pipeline))
        try:
            traced = run_job(wl, spark, "traced", tracer)
        finally:
            tracer.stop()
        span_fields, totals = tracer.harvest()
        per_layer = layer_metrics(span_fields, totals, tracer)
        per_layer["session.get_spark_s"] = get_spark_s
        per_layer["trace.overhead_s"] = traced[0] - warm[0]
        failed += warm[3] + traced[3]

    digests, problems, bytes_per_row = wl.checks()
    # every job of this worker must produce the same output per operation
    first = digests.get("job", {})
    problems += [
        f"{rep} {op}: output {d} differs from the first job's {first[op]}"
        for rep, ops in digests.items() for op, d in ops.items()
        if op in first and d != first[op]
    ]
    if per_layer is not None:
        per_layer["snapshots.out_bytes_per_row"] = bytes_per_row
    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    spark.stop()
    return {
        "ready": ready,
        "job_s": job_s,
        "cpu_s": cpu_s,
        "rows": rows,
        "attempted": wl.ops_per_job * (3 if args.trace else 1),
        "failed": failed,
        "problems": problems,
        "digest": digests.get("job"),
        "per_layer": per_layer,
        "java": java,
        "get_spark_s": get_spark_s,
    }


def layer_metrics(span_fields: dict, totals: dict, tracer) -> dict:
    out = {}
    for span in catalog.PIPELINE_SPANS:
        got = span_fields.get(span, {})
        for f in catalog.PIPELINE_FIELDS:
            out[f"{span}.{f}"] = float(got.get(f, 0.0))
    for q in QUERIES:
        got = span_fields.get(f"query.{q}", {})
        for f in catalog.QUERY_FIELDS:
            out[f"query.{q}.{f}"] = float(got.get(f, 0.0))
    out["snapshots.commit.wall_s"] = tracer.commit_wall_s
    out["snapshots.commit.calls"] = float(tracer.commit_calls)
    out["trace.unattributed_run_s"] = totals["unattributed_run_s"]
    out["trace.attributed_share"] = (
        1.0 - totals["unattributed_run_s"] / totals["exec_run_s"]
        if totals["exec_run_s"] else 0.0
    )
    out["tasks.failed"] = float(totals["tasks_failed"])
    return out


if __name__ == "__main__":
    sys.exit(main())
