"""job.run's accounting tail: the metrics row built from Observations must
equal ``run_metrics`` over the committed docs_out, and the concurrent
appends between spans_out and docs_out must stay inside the caller's job
group and keep docs_out last."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pdfplucker_spark import job
from pdfplucker_spark.gen import gen_rows, is_poison, rows_to_table, write_tier
from pdfplucker_spark.metrics import run_metrics


@pytest.fixture(scope="module")
def t1_path(tmp_path_factory):
    return write_tier("t1", str(tmp_path_factory.mktemp("data")))


@pytest.fixture()
def catalog_ns(spark, tmp_path):
    ns = "plk_tail"
    spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")
    spark.sql(f"CREATE DATABASE {ns} LOCATION '{tmp_path}/wh'")
    yield ns
    spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")


def _assert_exact(spark, m, out, fmt="parquet"):
    """Returned row == committed metrics row == run_metrics over the
    committed docs_out of the run, in every column but elapsed_time."""
    rid = m["run_id"]
    docs = job.committed_view(spark, out, "docs_out", fmt=fmt).where(F.col("run_id") == rid)
    want = run_metrics(docs, rid, initial_time=m["initial_time"]).drop("elapsed_time")
    want = want.first().asDict()
    table = job.committed_view(spark, out, "metrics", fmt=fmt).where(F.col("run_id") == rid)
    assert [r.asDict() for r in table.drop("elapsed_time").collect()] == [want]
    assert {k: v for k, v in m.items() if k not in ("elapsed_time", "observed")} == want
    assert m["observed"]["obs_docs"] == m["total_docs"]


def test_metrics_exact_with_poison_docs(spark, t1_path, tmp_path):
    out = str(tmp_path / "out")
    m = job.run(spark, t1_path, out, run_id="p1", partitions=4)
    assert m["total_docs"] == 100 and m["failed_docs"] == 1  # doc 13 is poison
    _assert_exact(spark, m, out)


def test_metrics_exact_with_duplicated_doc_ids(spark, tmp_path):
    """Duplicated poison rows: failed_docs is the DISTINCT failed-doc count
    (processor.py:98-100), below the number of failed rows."""
    rows = list(gen_rows("t1"))
    poison = [r for i, r in enumerate(rows) if is_poison(i)]
    src = str(tmp_path / "dup.parquet")
    pq.write_table(
        pa.concat_tables([rows_to_table(rows), rows_to_table(rows[:5] + poison * 2)]),
        src,
    )
    out = str(tmp_path / "out")
    m = job.run(spark, src, out, run_id="dup", partitions=4)
    failed_rows = (
        job.committed_view(spark, out, "docs_out").where(F.col("status") != "ok").count()
    )
    assert m["total_docs"] == 100 + 5 + 2 * len(poison)
    assert m["failed_docs"] == len(poison) < failed_rows
    _assert_exact(spark, m, out)


def test_metadata_input_with_duplicated_doc_ids(spark, t1_path, tmp_path):
    """An input with a metadata column that repeats a doc_id k times: the
    metadata side of the docs_out join is doc_id-unique, so docs_out
    holds one row per extracted row (k, not k²) and the metrics row still
    equals run_metrics over it."""
    base = spark.read.parquet(t1_path)
    dup = base.unionByName(base.orderBy("doc_id").limit(3))
    src = str(tmp_path / "dup_meta")
    dup.withColumn(
        "metadata",
        F.struct(
            F.lit("PDF 1.7").alias("format"),
            F.concat(F.lit("title-"), "doc_id").alias("title"),
            F.lit(None).cast("string").alias("creationDate"),
            F.lit(None).cast("string").alias("modDate"),
            F.concat(F.col("doc_id"), F.lit(".pdf")).alias("filename"),
            F.size("spans").alias("pageAmount"),
        ),
    ).write.parquet(src)
    out = str(tmp_path / "out")
    m = job.run(spark, src, out, run_id="dm", partitions=4)
    docs = job.committed_view(spark, out, "docs_out")
    assert m["total_docs"] == docs.count() == 103
    assert docs.where(F.col("metadata.title").isNull()).count() == 0
    _assert_exact(spark, m, out)


def test_metrics_exact_on_zero_doc_resume(spark, t1_path, tmp_path):
    """The resume run finds nothing left: its plan is empty at runtime, the
    case in which an Observation below persist returns no row."""
    out = str(tmp_path / "out")
    job.run(spark, t1_path, out, run_id="full", partitions=4)
    m = job.run(spark, t1_path, out, run_id="again", partitions=4, resume=True)
    assert m["total_docs"] == 0 and m["total_input_spans"] is None
    _assert_exact(spark, m, out)


def test_metrics_exact_details_flat(spark, t1_path, tmp_path):
    out = str(tmp_path / "out")
    m = job.run(spark, t1_path, out, run_id="df", partitions=4, details=True, layout="flat")
    _assert_exact(spark, m, out)
    for name in ("pages", "images", "tables"):
        assert job.committed_view(spark, out, name).count() == m[f"total_{name}"]


def test_metrics_exact_catalog_mode(spark, t1_path, catalog_ns):
    ns = catalog_ns
    spark.read.parquet(t1_path).write.saveAsTable(f"{ns}.docs_in")
    m1 = job.run(spark, f"{ns}.docs_in", ns, run_id="c1", fmt="iceberg", limit=60)
    m2 = job.run(spark, f"{ns}.docs_in", ns, run_id="c2", fmt="iceberg", resume=True)
    assert (m1["total_docs"], m2["total_docs"]) == (60, 40)
    _assert_exact(spark, m1, ns, fmt="iceberg")
    _assert_exact(spark, m2, ns, fmt="iceberg")


def test_job_group_covers_every_job_and_pins_count(spark, t1_path, tmp_path):
    """The tail's threads inherit the caller's job group: no job the run
    submits escapes it. The count is pinned: 13 jobs before the metrics
    row came from Observations (aggregation write + collect) and the tail
    ran sequentially, 8 now."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    job.run(spark, t1_path, str(tmp_path / "warm"), run_id="w", partitions=4)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("job_tail_group", "job.run under a caller's group")
    try:
        job.run(spark, t1_path, str(tmp_path / "out"), run_id="g", partitions=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    assert len(tracker.getJobIdsForGroup("job_tail_group")) == 8


def test_failing_tail_thread_blocks_docs_out_and_commit(spark, t1_path, tmp_path, monkeypatch):
    """A raising lineage append fails the run after the other tail threads
    finished, and before docs_out: no docs_out rows, no commit marker."""
    import pdfplucker_spark.job as J

    def boom(df):
        raise RuntimeError("lineage sink down")

    monkeypatch.setattr(J, "lineage_table", boom)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="lineage sink down"):
        J.run(spark, t1_path, out, run_id="broken", partitions=4)
    assert J.committed_run_ids(out) == []
    assert not os.path.exists(os.path.join(out, "docs_out", "run_id=broken"))
    # the fails -> metrics thread was joined, not abandoned mid-write
    assert os.path.isdir(os.path.join(out, "metrics", "run_id=broken"))
    assert not os.path.exists(os.path.join(out, "_RUN_LOCK"))
