"""Layer legs for the traced run. Every leg times calls into one layer's
public functions from outside, over the workload's own extraction input
(curation: its documents in the engine's nested-spans form). The extract
legs are cumulative, so each layer is the difference of two legs."""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.harness import nproc, reset_dir
from perfbench.workloads import canonical, read_parquet_dir, table_hash
from pdfplucker_spark import job, maintenance
from pdfplucker_spark.metrics import fails_table, lineage_table, run_metrics, with_lineage_cols
from pdfplucker_spark.operators.extract import extract_batch_local, extract_spans
from pdfplucker_spark.plans.partitioning import balance_docs
from pdfplucker_spark.streaming.stream import stage_waves, stream_extract

PASSES = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _drain(batches):
    """Receives every input batch and sends back only its doc_id column:
    the round trip without the kernel and without a large return payload."""
    for b in batches:
        yield b.select(["doc_id"])


def _accounting(spark, path: str, out: str) -> float:
    """The job's accounting tail rebuilt from the metrics layer's public
    functions over a persisted extract frame: fails, lineage and metrics
    writes plus the metrics collect and the docs_out write. Returns the
    timed tail only (the spans write that materializes the frame is not)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    rid = "probeacct"
    x = with_lineage_cols(extract_spans(job.read_docs(spark, path, "parquet")), rid)
    x = x.persist(StorageLevel.MEMORY_AND_DISK)
    x.write.mode("overwrite").parquet(os.path.join(out, "spans_out"))
    t0 = time.perf_counter()
    docs_out = x.select(
        "run_id", "partition_id", "doc_id", "status", "error", "n_input_spans",
        "n_pages", "n_images", "n_tables", F.size("spans").alias("n_output_spans"),
    )
    fails_table(docs_out, rid).write.mode("overwrite").parquet(os.path.join(out, "fails"))
    lineage_table(docs_out).write.mode("overwrite").parquet(os.path.join(out, "lineage"))
    m = run_metrics(docs_out, rid)
    m.write.mode("overwrite").parquet(os.path.join(out, "metrics"))
    m.collect()
    docs_out.write.mode("overwrite").parquet(os.path.join(out, "docs_out"))
    dt = time.perf_counter() - t0
    x.unpersist()
    return dt


def extract_layers(spark, tr, path: str, work: str) -> dict:
    """scan / Arrow boundary / kernel / spans sink / accounting / job.run
    legs, PASSES interleaved passes, min per leg."""
    legs: dict = {k: [] for k in ("scan", "boundary", "kernel", "sink", "accounting", "job", "resume")}
    gaps, sink_bytes = [], 0
    base = reset_dir(os.path.join(work, "probe"))

    def read():
        return job.read_docs(spark, path, "parquet")

    for p in range(PASSES):
        for leg in legs:
            out = os.path.join(base, f"{leg}{p}")
            with tr.span(f"leg:{leg}"):
                t0 = time.perf_counter()
                if leg == "scan":
                    _noop(read())
                elif leg == "boundary":
                    _noop(read().mapInArrow(_drain, "doc_id string"))
                elif leg == "kernel":
                    _noop(extract_spans(read()))
                elif leg == "sink":
                    extract_spans(read()).write.mode("overwrite").parquet(out)
                elif leg == "job":
                    m = job.run(spark, path, os.path.join(base, f"job{p}"))
                elif leg == "resume":
                    job.run(spark, path, os.path.join(base, f"job{p}"), resume=True)
                dt = time.perf_counter() - t0
                if leg == "accounting":
                    dt = _accounting(spark, path, out)
            legs[leg].append(dt)
            if leg == "job":
                gaps.append(dt - m["elapsed_time"])
            if leg == "sink":
                sink_bytes = inputs.dir_bytes(out)
    best = {k: min(v) for k, v in legs.items()}
    layers = {
        "scan.s": best["scan"],
        "arrow.boundary_s": best["boundary"] - best["scan"],
        "extract.kernel_s": best["kernel"] - best["boundary"],
        "sink.spans_s": best["sink"] - best["kernel"],
        "job.accounting_s": best["accounting"],
    }
    residual = best["job"] - sum(layers.values())
    job_out = os.path.join(base, f"job{PASSES - 1}")
    return {
        **layers,
        "scan.tasks": read().rdd.getNumPartitions(),
        "partitioning.out_partitions": balance_docs(read(), nproc()).rdd.getNumPartitions(),
        "sink.spans_bytes": sink_bytes,
        "job.run_s": best["job"],
        "job.tail_s": best["job"] - best["sink"],
        "job.elapsed_gap_s": statistics.median(gaps),
        "job.resume_noop_s": best["resume"],
        "job.storage_amp": inputs.dir_bytes(job_out) / inputs.dir_bytes(path),
        "layers.residual_s": residual,
        "layers.residual_share": residual / best["job"],
        "layers.sum_within_10pct": int(abs(residual) <= 0.1 * best["job"]),
        "_job_out": job_out,
    }


def local_kernel(path: str) -> tuple:
    """Single-process kernel throughput (spans/s) and its canonical output."""
    import pyarrow.compute as pc

    t = pq.read_table(path).select(["doc_id", "spans"])
    t0 = time.perf_counter()
    out = extract_batch_local(t)
    dt = time.perf_counter() - t0
    spans = pc.sum(pc.list_value_length(t["spans"])).as_py() or 0
    return spans / dt, canonical(out)


def read_side(spark, tr, out: str) -> dict:
    """Read-side and maintenance legs over a committed job output. There is
    no compaction leg: maintenance.compact raises UNABLE_TO_INFER_SCHEMA on
    any output whose runs had zero failed docs (their fails table has no
    files), which is every curation probe output."""
    with tr.span("leg:committed_run_ids"):
        t0 = time.perf_counter()
        job.committed_run_ids(out)
        t1 = time.perf_counter()
    with tr.span("leg:committed_view"):
        job.committed_view(spark, out, "spans_out").count()
        t2 = time.perf_counter()
    with tr.span("leg:latest_view"):
        job.latest_view(spark, out).count()
        t3 = time.perf_counter()
    stats = maintenance.table_stats(out)
    with tr.span("leg:vacuum"):
        maintenance.vacuum(out)
        t4 = time.perf_counter()
    return {
        "job.committed_run_ids_ms": (t1 - t0) * 1e3,
        "job.committed_view_s": t2 - t1,
        "job.latest_view_s": t3 - t2,
        "maintenance.vacuum_s": t4 - t3,
        "maintenance.files_per_table": statistics.mean(t["n_files"] for t in stats.values()),
    }


def stream_leg(spark, tr, path: str, work: str, ref_hash: str) -> tuple:
    """Stage the input as one wave, drain it with stream_extract
    (availableNow); the sink must equal the batch kernel's output."""
    from pyspark.sql import functions as F

    base = reset_dir(os.path.join(work, "stream"))
    in_dir = os.path.join(base, "in")
    with tr.span("leg:stream"):
        t0 = time.perf_counter()
        stage_waves(spark.read.parquet(path).withColumn("bno", F.lit(0)), in_dir, waves=[0])
        q = stream_extract(spark, in_dir, os.path.join(base, "sink"), os.path.join(base, "ckpt"))
        done = q.awaitTermination(120)
        dt = time.perf_counter() - t0
    if not done:
        q.stop()
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in progress]
    rows = sum(p["numInputRows"] for p in progress)
    busy = sum(d.get("triggerExecution", 0) for d in dur) / 1e3
    got = canonical(read_parquet_dir(os.path.join(base, "sink")))
    return {
        "stream.latency_s": dt,
        "stream.trigger_ms": sum(d.get("triggerExecution", 0) for d in dur),
        "stream.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "stream.wal_commit_ms": sum(d.get("walCommit", 0) for d in dur),
        "stream.rows_per_s": rows / busy if busy else 0.0,
    }, bool(done) and table_hash(got) == ref_hash


def curation_input(spark, sf_dir: str, work: str) -> str:
    """The curation corpus in the engine's input form (doc_id, spans)."""
    from pdfplucker_spark.sources.tables import derived_spans_nested

    out = os.path.join(work, "derived_spans")
    derived_spans_nested(spark, sf_dir).write.mode("overwrite").parquet(out)
    return out
