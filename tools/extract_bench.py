"""Flagship-only bench: the extract_pipeline measurement from bench.py
(same input materialization, warmup, min-of-reps protocol) plus the
per-stage marginal decomposition, in a fresh JVM — the round-4 verdict's
reconciliation tool for the artifact-vs-doc extract discrepancy.

Run it N times back-to-back for N fresh-JVM samples:
    for i in 1 2 3; do python tools/extract_bench.py; done
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from surya_spark import datagen, pipeline  # noqa: E402
from surya_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402


def main() -> None:
    sf = float(os.environ.get("SPARK_GRAFT_SF", "0.1"))
    cpus = DEFAULT_CPUS
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "2"))
    n_docs = max(50, int(40000 * sf))
    spark = get_spark(app="surya_spark_extract_bench", cores=cpus,
                      shuffle_partitions=cpus)
    inp = f"/tmp/bench_extract_input_sf{sf}"
    if not os.path.exists(f"{inp}/documents_spans.parquet"):
        datagen.write_dataset(spark, inp, n_docs)
    docs = spark.read.parquet(f"{inp}/documents_spans.parquet")
    blobs = spark.read.parquet(f"{inp}/page_blobs.parquet")
    bench.materialize(pipeline.extract(docs.limit(40), blobs,
                                       with_tables=True))  # warm codegen
    samples = []
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.time()
        bench.materialize(pipeline.extract(docs, blobs, with_tables=True))
        samples.append(round(time.time() - t0, 3))
    spark.catalog.clearCache()
    stages = bench.extract_stage_times(spark, docs, blobs, par=cpus)
    print(json.dumps({
        "metric": "extract_pipeline_sec",
        "value": min(samples),
        "samples": samples,
        "unit": "sec",
        "sf": sf,
        "extract_docs": n_docs,
        "extract_docs_per_sec": round(n_docs / min(samples), 2),
        "extract_stages": stages,
        "cpus": cpus,
        "reps": reps,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
