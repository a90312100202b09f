"""The traced run (--trace 1): per-layer metrics, timed from outside.

Spans are recorded by this file around calls into each layer's public
function; nothing inside surya_spark is instrumented. One process, one
JVM, three Spark contexts in sequence:

  A  local[n], event log off: warm-up, then one untraced job.
  B  local[n], event log on: the traced job; the checkpoint
     layer (pipeline.checkpointed_extract stopped after half its bucket
     groups through max_groups, then resumed); then each extraction layer
     in isolation, its inputs read from the parquet the checkpoint layer
     materialized and its output written to the noop sink. The streaming
     layer is read from the microbatch job's triggers; the flagship warms
     context B up through stream_extract on its warm-up input and reads
     it from that single trigger.
  C  local[1], for the 1-core rate: the flagship job once; the microbatch
     streams its one-trigger (256-doc) warm-up input.

Model-slot calls are counted by wrapping the surrogate slots and passing
them through the layers' slot parameters; their busy time stands in for
GPU inference and is subtracted (divided by the task-slot count) to give
self times. Slot counts and busy times travel in Spark accumulators,
which are not exactly-once under task retries: they are advisory.
Engine metrics per span come from the event log (perfbench/eventlog.py).
Spans are kept in memory and written to .perfbench_work/ at the end.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from . import eventlog, harness, inputs
from .workloads import Microbatch

STAGES = ("pages", "all_crops", "ocr_lines", "cells")
SLOTS = ("detect", "layout", "recognize", "table")


class CountingSlot:
    """Picklable slot wrapper: counts calls and busy seconds."""

    def __init__(self, fn, calls, busy):
        self.fn, self.calls, self.busy = fn, calls, busy

    def __call__(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return self.fn(*args, **kwargs)
        finally:
            self.busy.add(time.perf_counter() - t0)
            self.calls.add(1)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def secs(self, name: str) -> float:
        s = self.get(name)
        return s["end"] - s["start"]


def _set_event_log(spark, on: bool) -> None:
    """Spark reads spark.* JVM system properties into each new context's
    conf; the next context started in this JVM logs events or not."""
    system = spark.sparkContext._jvm.java.lang.System
    system.setProperty("spark.eventLog.enabled", str(on).lower())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _slots(sc) -> dict:
    from surya_spark.operators import slots

    fns = {"detect": slots.surrogate_detect, "layout": slots.surrogate_layout,
           "recognize": slots.surrogate_recognize,
           "table": slots.surrogate_table}
    return {k: CountingSlot(fn, sc.accumulator(0), sc.accumulator(0.0))
            for k, fn in fns.items()}


def _checkpoint(spark, tracer, wl, base: str, out_dir: str) -> dict:
    import pyarrow.parquet as pq
    from surya_spark import pipeline

    docs = spark.read.parquet(wl.inp.docs_dir)
    blobs = spark.read.parquet(wl.inp.blobs_dir)
    with tracer.span("checkpoint.half"):
        pipeline.checkpointed_extract(spark, docs, blobs, base, max_groups=2)
    half = pq.read_table(f"{base}/_lineage").to_pylist()
    with tracer.span("checkpoint.resume"):
        (pipeline.checkpointed_extract(spark, docs, blobs, base)
         .write.mode("overwrite").parquet(out_dir))
    lineage = pq.read_table(f"{base}/_lineage").to_pylist()
    groups = {}
    for row in lineage:
        groups[(row["stage"], row["grp"], row["ts"])] = row
    out = {"checkpoint.lineage_appends": len(groups),
           "checkpoint.groups_skipped":
               len({(r["stage"], r["grp"]) for r in half})}
    total = 0
    for stage in STAGES:
        out[f"checkpoint.{stage}.s"] = sum(
            r["wall_ms"] for r in groups.values() if r["stage"] == stage) / 1e3
        size = inputs.dir_bytes(f"{base}/{stage}")
        out[f"checkpoint.{stage}.bytes"] = size
        total += size
    out["checkpoint.bytes_per_input_byte"] = total / wl.inp.input_bytes()
    out["checkpoint.resume_s"] = tracer.secs("checkpoint.resume")
    return out


def _isolated_layers(spark, tracer, wl, base: str, slot: dict) -> None:
    from surya_spark import pipeline
    from surya_spark.operators import assemble, fused, recognition, tables

    def stage(name):
        return spark.read.parquet(f"{base}/{name}").drop("_bucket")

    docs = spark.read.parquet(wl.inp.docs_dir)
    blobs = spark.read.parquet(wl.inp.blobs_dir)
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with tracer.span("pages_for"):
        _noop(pipeline.pages_for(docs, blobs, partitions=par))
    with tracer.span("fused"):
        _noop(fused.fused_all_crops(stage("pages"), slot["detect"],
                                    slot["layout"]))
    with tracer.span("recognition"):
        _noop(recognition.recognize(fused.line_crops(stage("all_crops")),
                                    slot["recognize"], emit_chars=False))
    with tracer.span("tables"):
        _noop(tables.table_stage_from_crops(
            fused.table_crops(stage("all_crops")), stage("ocr_lines"),
            slot["table"]))
    with tracer.span("assemble"):
        _noop(assemble.assemble_spans(docs, stage("ocr_lines"),
                                      stage("cells")))


def _ingest(batches: list[dict]) -> dict:
    """Means over the data triggers of StreamingQueryProgress.durationMs
    (whole milliseconds; a mean keeps more of the measured digits)."""
    def mean(key):
        return statistics.fmean(b.get(key, 0) for b in batches) / 1e3

    return {"ingest.trigger_s": mean("triggerExecution"),
            "ingest.planning_s": mean("queryPlanning"),
            "ingest.add_batch_s": mean("addBatch"),
            "ingest.wal_commit_s": mean("walCommit")}


def traced_run(wl, work: str) -> dict:
    harness.prepare_env(work, event_log=f"{work}/events")  # enabled in B
    wl.generate()
    print(f"input: {json.dumps(wl.inp.stats)}", flush=True)
    tracer = Tracer(f"{wl.name}-seed{wl.seed}-{os.getpid()}")
    checked: list[tuple[str, dict]] = []  # (output dir, oracle digests)
    m: dict = {}
    spark = None
    try:
        # A: untraced reference job (the JVM starts with the log off)
        with tracer.span("session.start"):
            spark = harness.start_session(wl.n_cores, f"perfbench-{wl.name}")
        wl.warm(spark)
        untraced = wl.run_op(spark, f"{work}/out/untraced")
        checked.append((untraced["out"], wl.inp.expected))
        _set_event_log(spark, True)
        spark.stop()

        # B: event log on, in the JVM that A warmed up. The flagship
        # streams its 64-doc warm-up input first, which times the
        # streaming layer; the microbatch job times it itself.
        spark = harness.start_session(wl.n_cores, f"perfbench-{wl.name}")
        if not isinstance(wl, Microbatch):
            with tracer.span("ingest"):
                stream = Microbatch.stream(spark, wl.warm_inp,
                                           f"{work}/out/stream")
            checked.append((stream["out"], wl.warm_inp.expected))
        with tracer.span("op"):
            traced = wl.run_op(spark, f"{work}/out/traced")
        checked.append((traced["out"], wl.inp.expected))
        base = f"{work}/ckpt"
        m.update(_checkpoint(spark, tracer, wl, base, f"{work}/out/ckpt"))
        checked.append((f"{work}/out/ckpt", wl.inp.expected))
        slot = _slots(spark.sparkContext)
        _isolated_layers(spark, tracer, wl, base, slot)
        m.update(_ingest(traced["batches"] if isinstance(wl, Microbatch)
                         else stream["batches"]))
        for k, s in slot.items():
            m[f"slots.{k}.calls"] = s.calls.value
            m[f"slots.{k}.busy_s"] = s.busy.value
        _set_event_log(spark, False)
        spark.stop()

        # C: one core. The flagship repeats its job; the microbatch
        # streams its one-trigger warm-up input (256 docs) to bound time.
        spark = harness.start_session(1, f"perfbench-{wl.name}-1core")
        if isinstance(wl, Microbatch):
            one = wl.stream(spark, wl.warm_inp, f"{work}/out/one_core")
            checked.append((one["out"], wl.warm_inp.expected))
        else:
            one = wl.run_op(spark, f"{work}/out/one_core")
            checked.append((one["out"], wl.inp.expected))
    finally:
        if spark is not None:
            harness.stop_jvm(spark)

    log = eventlog.EventLog(f"{work}/events")

    def engine(name):
        s = tracer.get(name)
        return log.span(s["start"] * 1e3, s["end"] * 1e3)

    n = wl.n_cores
    untraced_rate = untraced["docs"] / untraced["wall_s"]
    traced_rate = traced["docs"] / traced["wall_s"]
    one_rate = one["docs"] / one["wall_s"]
    op = engine("op")
    jobs_per_call = len(traced.get("batches", [])) or 1
    m.update({
        "session.start_s": tracer.secs("session.start"),
        "trace.docs_per_s": traced_rate,
        "trace.untraced_docs_per_s": untraced_rate,
        "trace.overhead_docs_per_s": traced_rate - untraced_rate,
        "scaling.docs_per_s_1core": one_rate,
        "scaling.eff": untraced_rate / (n * one_rate),
        "extract.jobs": op.jobs / jobs_per_call,
        "extract.stages": op.stages / jobs_per_call,
        "extract.tasks": op.tasks / jobs_per_call,
        "caching.peak_cached_bytes": op.peak_cached_bytes,
    })
    layers = {name: engine(name) for name in
              ("pages_for", "fused", "recognition", "tables", "assemble")}
    for name, em in layers.items():
        m[f"{name}.s"] = tracer.secs(name)
        m[f"{name}.shuffle_bytes"] = em.totals.get(eventlog.SHUFFLE, 0.0)
    fused_py = layers["fused"].totals
    m["fused.self_s"] = m["fused.s"] - (
        m["slots.detect.busy_s"] + m["slots.layout.busy_s"]) / n
    m["fused.py_worker_s"] = fused_py.get(eventlog.PY_TIME, 0.0)
    m["fused.py_bytes_in"] = fused_py.get(eventlog.PY_IN, 0.0)
    m["fused.py_bytes_out"] = fused_py.get(eventlog.PY_OUT, 0.0)
    m["recognition.self_s"] = m["recognition.s"] - \
        m["slots.recognize.busy_s"] / n
    m["recognition.py_bytes_in"] = layers["recognition"].totals.get(
        eventlog.PY_IN, 0.0)
    rows = _stage_rows(f"{work}/ckpt")
    m["fused.crops"] = rows["all_crops"]
    m["recognition.lines"] = rows["ocr_lines"]
    m["tables.cells"] = rows["cells"]

    attempted = failed = 0
    for out_dir, expected in checked:
        a, f = inputs.check_output(out_dir, expected)
        attempted, failed = attempted + a, failed + f

    _report(wl, tracer, m, op, layers)
    path = f"{os.path.dirname(work)}/trace-{wl.name}-seed{wl.seed}.json"
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans, "metrics": m,
                   "op_layers": op.by_layer,
                   "advisory": ["slots.*.calls", "slots.*.busy_s"]}, f,
                  indent=1)
    print(f"trace written to {path}", flush=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": UNITS[k]}
                        for k, v in m.items() if k in UNITS}}


def _stage_rows(base: str) -> dict:
    import pyarrow.parquet as pq

    lineage = pq.read_table(f"{base}/_lineage").to_pylist()
    rows: dict = {}
    for r in lineage:  # lineage rows are per (stage, bucket), latest wins
        rows.setdefault(r["stage"], {})[r["bucket"]] = r["rows"]
    return {stage: sum(b.values()) for stage, b in rows.items()}


def _report(wl, tracer, m, op, layers) -> None:
    print(f"{wl.name} traced job {tracer.secs('op'):.2f} s; untraced "
          f"{m['trace.untraced_docs_per_s']:.1f} docs/s, traced "
          f"{m['trace.docs_per_s']:.1f} docs/s, tracing overhead "
          f"{m['trace.overhead_docs_per_s']:+.1f} docs/s (the two jobs run "
          "in separate contexts; the difference includes warm-up effects)",
          flush=True)
    print("isolated layer times (s):", json.dumps(
        {k: round(m[f'{k}.s'], 3) for k in layers}), flush=True)
    print("traced job, node metrics by layer (attribution by plan shape):",
          flush=True)
    for layer, vals in sorted(op.by_layer.items()):
        keep = {k: round(v, 3) for k, v in vals.items() if k in (
            eventlog.PY_TIME, eventlog.PY_IN, eventlog.PY_OUT,
            eventlog.SHUFFLE, eventlog.SPILL, eventlog.ROWS)}
        print(f"  {layer}: {json.dumps(keep)}", flush=True)


UNITS = {
    "session.start_s": "s",
    "pages_for.s": "s", "pages_for.shuffle_bytes": "bytes",
    "fused.s": "s", "fused.self_s": "s", "fused.py_worker_s": "s",
    "fused.py_bytes_in": "bytes", "fused.py_bytes_out": "bytes",
    "fused.crops": "count",
    **{f"slots.{k}.calls": "count" for k in SLOTS},
    **{f"slots.{k}.busy_s": "s" for k in SLOTS},
    "recognition.s": "s", "recognition.self_s": "s",
    "recognition.py_bytes_in": "bytes", "recognition.lines": "count",
    "tables.s": "s", "tables.cells": "count", "tables.shuffle_bytes": "bytes",
    "assemble.s": "s", "assemble.shuffle_bytes": "bytes",
    "caching.peak_cached_bytes": "bytes",
    "extract.jobs": "count", "extract.stages": "count",
    "extract.tasks": "count",
    "ingest.trigger_s": "s", "ingest.planning_s": "s",
    "ingest.add_batch_s": "s", "ingest.wal_commit_s": "s",
    **{f"checkpoint.{s}.s": "s" for s in STAGES},
    **{f"checkpoint.{s}.bytes": "bytes" for s in STAGES},
    "checkpoint.lineage_appends": "count",
    "checkpoint.groups_skipped": "count",
    "checkpoint.resume_s": "s",
    "checkpoint.bytes_per_input_byte": "ratio",
    "trace.docs_per_s": "docs/s",
    "trace.untraced_docs_per_s": "docs/s",
    "trace.overhead_docs_per_s": "docs/s",
    "scaling.docs_per_s_1core": "docs/s",
    "scaling.eff": "ratio",
}
