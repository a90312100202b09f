"""The benchmark's workloads. Each is a closed loop with one client: the
next job is submitted only after the previous one completes.

flagship    pipeline.extract(with_tables=True) over one documents table,
            written to parquet; one extract job per pass, at least two
            passes and as many as fit in the run time.
microbatch  streaming.ingest.stream_extract (availableNow) over many small
            document files, 16 files of 16 docs per trigger, appending
            parquet; the page_blobs table is static.

Both call only the public surya_spark API with its default slots.
"""

from __future__ import annotations

import math
import statistics
import time

import pyarrow.parquet as pq

from . import inputs as gen
from .harness import fresh_dir

FLAGSHIP_DOCS = 1000
DOCS_PER_FILE = 16
FILES_PER_TRIGGER = 16  # stream_extract reads 16 files per trigger
WARM_DOCS = 64


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, seconds: int, n_cores: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.n_cores = n_cores
        self.inp: gen.Inputs | None = None
        self.warm_inp: gen.Inputs | None = None

    def generate(self) -> None:
        raise NotImplementedError

    def run_op(self, spark, out_dir: str) -> dict:
        """One job; returns {"docs", "wall_s", "out"} plus workload extras."""
        raise NotImplementedError

    def warm(self, spark) -> None:
        """Run the full plan shape once before timing."""
        raise NotImplementedError

    def timed(self, spark) -> list[dict]:
        raise NotImplementedError

    def summary(self, ops: list[dict]) -> dict:
        """docs_per_s and the job durations behind job_p50_s."""
        raise NotImplementedError


class Flagship(Workload):
    name = "flagship"

    def generate(self) -> None:
        files = max(8, self.n_cores)
        self.inp = gen.generate(f"{self.work}/input", self.seed,
                                FLAGSHIP_DOCS, files, files, self.n_cores)
        # only the traced run uses it, to warm up through stream_extract
        self.warm_inp = gen.generate(f"{self.work}/warm_input", self.seed,
                                     WARM_DOCS, files, files, self.n_cores)

    def run_op(self, spark, out_dir: str) -> dict:
        from surya_spark import pipeline

        t0 = time.perf_counter()
        docs = spark.read.parquet(self.inp.docs_dir)
        blobs = spark.read.parquet(self.inp.blobs_dir)
        (pipeline.extract(docs, blobs, with_tables=True)
         .write.mode("overwrite").parquet(out_dir))
        return {"docs": len(self.inp.expected),
                "wall_s": time.perf_counter() - t0, "out": out_dir}

    def warm(self, spark) -> None:
        # a whole pass: after a 64-doc warm-up the first timed passes
        # were still 20-30% slower than later ones
        self.run_op(spark, f"{self.work}/warm_out")

    def timed(self, spark) -> list[dict]:
        ops: list[dict] = []
        t0 = time.perf_counter()
        while len(ops) < 2 or time.perf_counter() - t0 < self.seconds:
            ops.append(self.run_op(spark, f"{self.work}/out/pass{len(ops)}"))
        return ops

    def summary(self, ops: list[dict]) -> dict:
        return {"docs_per_s": statistics.median(
                    op["docs"] / op["wall_s"] for op in ops),
                "job_s": [op["wall_s"] for op in ops]}


class Microbatch(Workload):
    name = "microbatch"

    def generate(self) -> None:
        triggers = max(2, math.ceil(self.seconds / 5))
        files = triggers * FILES_PER_TRIGGER
        self.inp = gen.generate(f"{self.work}/input", self.seed,
                                files * DOCS_PER_FILE, files, 8, self.n_cores)
        self.warm_inp = gen.generate(
            f"{self.work}/warm_input", self.seed,
            FILES_PER_TRIGGER * DOCS_PER_FILE, FILES_PER_TRIGGER, 8,
            self.n_cores)

    @staticmethod
    def stream(spark, inp: gen.Inputs, out_dir: str) -> dict:
        """Stream `inp` to `out_dir` with a fresh checkpoint. Docs are
        counted from the appended output: numInputRows counts every scan
        extract makes of a batch, several per document."""
        from surya_spark.streaming import ingest

        blobs = spark.read.parquet(inp.blobs_dir)
        t0 = time.perf_counter()
        query = ingest.stream_extract(spark, inp.docs_dir, blobs, out_dir,
                                      fresh_dir(f"{out_dir}_ckpt"))
        query.awaitTermination()
        secs = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        batches = [p["durationMs"] for p in query.recentProgress
                   if p["numInputRows"] > 0]
        docs = pq.read_table(out_dir, columns=["doc_id"]).num_rows
        return {"docs": docs, "wall_s": secs, "out": out_dir,
                "batches": batches}

    def run_op(self, spark, out_dir: str) -> dict:
        return self.stream(spark, self.inp, out_dir)

    def warm(self, spark) -> None:
        self.stream(spark, self.warm_inp, f"{self.work}/warm_out")

    def timed(self, spark) -> list[dict]:
        return [self.run_op(spark, f"{self.work}/out/stream")]

    def summary(self, ops: list[dict]) -> dict:
        (op,) = ops
        return {"docs_per_s": op["docs"] / op["wall_s"],
                "job_s": [b["triggerExecution"] / 1e3 for b in op["batches"]]}


WORKLOADS = {w.name: w for w in (Flagship, Microbatch)}
