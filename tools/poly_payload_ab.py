"""A/B measurement for the round-4 verdict's polygon-payload hypothesis:
does carrying axis-aligned quads (array<array<double>>) through the
slice_crops aggregate+shuffle+UDF cost real time, and does the
null_axis_rects optimization recover it?

Same JVM, upstream stages persisted+materialized, ABAB interleaving to
cancel host-disk drift; reports min per arm.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from surya_spark import datagen, pipeline  # noqa: E402
from surya_spark.operators import detection, reading_order, recognition  # noqa: E402
from surya_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402


def main() -> None:
    sf = float(os.environ.get("SPARK_GRAFT_SF", "0.1"))
    cpus = DEFAULT_CPUS
    rounds = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    n_docs = max(50, int(40000 * sf))
    spark = get_spark(app="poly_payload_ab", cores=cpus,
                      shuffle_partitions=cpus)
    inp = f"/tmp/bench_extract_input_sf{sf}"
    if not os.path.exists(f"{inp}/documents_spans.parquet"):
        datagen.write_dataset(spark, inp, n_docs)
    docs = spark.read.parquet(f"{inp}/documents_spans.parquet")
    blobs = spark.read.parquet(f"{inp}/page_blobs.parquet")

    pages = pipeline.pages_for(docs, blobs, partitions=cpus).persist()
    ordered = reading_order.order_lines(
        detection.detection_stage(pages)).persist()
    bench.materialize(ordered)
    lines = ordered.select("media_ref", "line_idx", "position",
                           "x1", "y1", "x2", "y2", "polygon")

    def arm(null_rects: bool) -> float:
        crops = recognition.slice_crops(lines, pages,
                                        null_axis_rects=null_rects)
        t0 = time.time()
        bench.materialize(
            recognition.recognize(crops, emit_chars=False))
        return round(time.time() - t0, 3)

    # warm both plan shapes
    arm(True), arm(False)
    a, b = [], []
    for _ in range(rounds):
        a.append(arm(True))
        b.append(arm(False))
    print(json.dumps({
        "null_axis_rects_sec": min(a), "carry_polygons_sec": min(b),
        "samples_null": a, "samples_carry": b,
        "n_docs": n_docs, "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
