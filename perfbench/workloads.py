"""The two workloads. Each one generates its inputs from the seed
(``prepare``), warms a fresh session (``warm_up``) and runs timed
iterations (``iteration``). An iteration returns its timed wall, the docs it
carried, per-step timings and its output checks; a failed check counts as
a failed operation.
"""

from __future__ import annotations

import hashlib
import logging
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.harness import Tracer, reset_dir
from pdfplucker_spark import job
from pdfplucker_spark.operators.extract import extract_batch_local
from pdfplucker_spark.schemas import ARROW_EXTRACT_SCHEMA

EXTRACT_COLS = [f.name for f in ARROW_EXTRACT_SCHEMA]


# --------------------------------------------------------------------------
# shared checks
# --------------------------------------------------------------------------
def canonical(table: pa.Table) -> pa.Table:
    """Extract columns only, reference schema, sorted by doc_id."""
    t = table.select(EXTRACT_COLS).cast(ARROW_EXTRACT_SCHEMA)
    return t.sort_by([("doc_id", "ascending")])


def table_hash(table: pa.Table) -> str:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def reference_hash(path: str) -> str:
    """Hash of the single-process kernel's output over the input files."""
    return table_hash(canonical(extract_batch_local(pq.read_table(path).select(["doc_id", "spans"]))))


def read_parquet_dir(path: str) -> pa.Table:
    files = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    return pa.concat_tables([pq.read_table(f).select(EXTRACT_COLS) for f in files])


class Result:
    """One iteration: timed wall, docs carried, named step timings, checks."""

    def __init__(self):
        self.wall = 0.0  # the timed cycle
        self.docs = 0
        self.steps: dict = {}
        self.checks: dict = {}

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)


# --------------------------------------------------------------------------
# extract_job
# --------------------------------------------------------------------------
class ExtractJob:
    """A full job.run (parquet, nested layout, the CLI's session) into a
    fresh output over a bench-tier-shaped corpus."""

    name = "extract_job"
    NOMINAL_S = 2.0  # --seconds / NOMINAL_S job.run calls per run
    WARM_RUNS = 3
    N_DOCS, N_GIANTS, N_FILES = 2400, 2, 12

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def prepare(self) -> None:
        self.corpus = inputs.write_docs(
            self.seed, os.path.join(self.work, "input"), self.N_DOCS, self.N_GIANTS, self.N_FILES
        )
        self.ref_hash = reference_hash(self.corpus.path)

    @property
    def docs_input(self) -> str:
        return self.corpus.path

    def warm_up(self, spark) -> None:
        """WARM_RUNS job.run calls over the corpus itself: the first runs in
        a process pay planning, code generation and JIT, the timed ones
        should not."""
        for _ in range(self.WARM_RUNS):
            job.run(spark, self.corpus.path, reset_dir(os.path.join(self.work, "warm_out")))

    def iteration(self, spark, tr, k: int) -> Result:
        res = Result()
        out = os.path.join(self.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        with tr.span("job.run"):
            t0 = time.perf_counter()
            m = job.run(spark, self.corpus.path, out)
            res.wall = time.perf_counter() - t0
        res.docs = m["total_docs"]
        res.steps["job_elapsed_gap_s"] = res.wall - m["elapsed_time"]
        res.steps["storage_amp"] = inputs.dir_bytes(out) / self.corpus.n_bytes
        got = canonical(read_parquet_dir(os.path.join(out, "spans_out")))
        res.check("spans_out_hash", table_hash(got) == self.ref_hash)
        failed = {d for d, s in zip(got["doc_id"].to_pylist(), got["status"].to_pylist()) if s != "ok"}
        res.check("failed_eq_poison", failed == self.corpus.poison_ids)
        res.check("total_docs", m["total_docs"] == self.N_DOCS)
        return res

    def final_checks(self, spark) -> dict:
        return {}


# --------------------------------------------------------------------------
# curation
# --------------------------------------------------------------------------
# shuffles and windows (manifest), the guarded n-gram candidate join plus
# the connected-components loop (clusters), the guarded embedding-LSH
# self-join (cosine pairs)
CHAIN = (
    "docs_curation_manifest",
    "dedup_clusters",
    "sim_cosine_dup_pairs",
)


class GuardCounter(logging.Handler):
    """Counts the keys the bucket guard reports as dropped."""

    def __init__(self):
        super().__init__(logging.WARNING)
        self.dropped = 0

    def emit(self, record):
        if "over-capacity" in str(record.msg) and len(record.args) >= 2:
            self.dropped += int(record.args[1])


def checksum_cols(df) -> list:
    """Aggregates of an order-free content checksum: row count and the
    decimal sum of per-row xxhash64 over every column."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")).alias("h"),
    ]


def run_chain(spark, tr, sf_dir: str, res: Result | None = None) -> tuple:
    """Each chain operator through the noop sink, with an observed
    checksum of its output. Returns ({op: checksum}, {op: schema})."""
    from pyspark.sql import Observation

    from pdfplucker_spark.registry import all_queries

    reg = all_queries()
    sums, schemas = {}, {}
    for op in CHAIN:
        with tr.span(f"op:{op}"):
            t0 = time.perf_counter()
            df = reg[op][0](spark, sf_dir)
            obs = Observation(f"chk_{op}")
            df.observe(obs, *checksum_cols(df)).write.format("noop").mode("overwrite").save()
            got = obs.get
            if res is not None:
                res.steps[f"{op}.s"] = time.perf_counter() - t0
        sums[op], schemas[op] = f"{got['n']}:{got['h']}", df.schema
        spark.catalog.clearCache()
    return sums, schemas


def oracle_checks(spark, sf_dir: str, sums: dict, schemas: dict) -> dict:
    """Each operator's registry DuckDB oracle, loaded into Spark under the
    operator's own schema, must give the checksum the timed noop pass
    observed. The operators are not run again."""
    import duckdb

    from pdfplucker_spark.registry import all_queries

    reg = all_queries()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    out = {}
    for op in CHAIN:
        du = con.sql(reg[op][1]).df()
        cols = schemas[op].names
        ok = sorted(du.columns) == sorted(cols)
        if ok:
            df = spark.createDataFrame(du[cols], schema=schemas[op])
            row = df.select(*checksum_cols(df)).collect()[0]
            ok = f"{row['n']}:{row['h']}" == sums[op]
        out[f"oracle:{op}"] = ok
    con.close()
    return out


class Curation:
    """The fixed curation chain, each operator forced through noop, over a
    seeded sf-style dir with planted duplicates and boilerplate."""

    name = "curation"
    NOMINAL_S = 3.0  # --seconds / NOMINAL_S chain passes per run
    N_DOCS, N_EMB = 1000, 800
    WARM_PASSES = 3

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.sums: dict | None = None
        self.schemas: dict = {}
        self.guard: GuardCounter | None = None  # attached by the runner

    def prepare(self) -> None:
        self.corpus = inputs.write_curation_dir(
            self.seed, os.path.join(self.work, "sf"), self.N_DOCS, self.N_EMB
        )

    docs_input = None  # no extraction input: the layer probe derives one

    def warm_up(self, spark) -> None:
        """WARM_PASSES chain passes over the corpus itself. A pass is mostly
        planning and job scheduling, and in a fresh process its wall falls
        from ~20 s to ~8 s to a steady ~6.5 s by the fourth pass; the timed
        passes should sit on that plateau."""
        for _ in range(self.WARM_PASSES):
            run_chain(spark, Tracer(spark, "warm", False), self.corpus.path)

    def iteration(self, spark, tr, k: int) -> Result:
        res = Result()
        before = self.guard.dropped
        t0 = time.perf_counter()
        sums, self.schemas = run_chain(spark, tr, self.corpus.path, res)
        res.wall = time.perf_counter() - t0
        res.docs = self.N_DOCS
        res.check("guards_dropped_keys_zero", self.guard.dropped == before)
        self.sums = self.sums or sums
        for op in CHAIN:
            res.check(f"hash:{op}", sums[op] == self.sums[op])
        return res

    def final_checks(self, spark) -> dict:
        if not self.sums:
            return {}
        return oracle_checks(spark, self.corpus.path, self.sums, self.schemas)


WORKLOADS = {w.name: w for w in (ExtractJob, Curation)}
