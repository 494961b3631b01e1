"""The benchmark's workloads. Each one prepares its inputs from the
seed, verifies the program's output once before timing, then runs jobs
in a closed loop (one client: the next job starts when the previous one
has finished) for the requested number of seconds.

Only calls into the engine's public functions are timed:
``SuiteRunner.run`` / ``committed_partitions`` / ``next_run_seq``,
``QUERIES[name](spark, dir)`` and the materialisation that follows, and
the ``functions`` / ``plans.checks`` / ``operators`` column builders in
the traced layer breakdown.
"""

from __future__ import annotations

import gc
import shutil
import statistics
import time
from pathlib import Path

from perfbench import inputs, verify
from perfbench.trace import EventLog, Tracer, self_time, span_cost, write_seconds

# registry queries of the corpus_queries workload: the CC rounds and
# pin() checkpoints (operators.dedup / pinning), the ANN pair stage
# (operators.ann), MinHash banding, and the round-6 carried-forward
# queries. All bypass plans.runner. Left out to keep a run within its
# time budget: the three similarity-pair queries and cv_top_words, whose
# DuckDB oracles cost 3-10 s per run.
CORPUS_QUERIES = (
    "near_dup_clusters",
    "semdedup_keep",
    "minhash_lsh_candidates",
    "cleaning_verdicts",
    "bloom_decontamination_hits",
    "gopher_quality_flags",
)

SINKS = ("verdicts", "violations", "metrics", "lineage")
# per-expression materialisations over the pages table (traced
# suite_commit runs only)
ISOLATED = (
    "functions.flesch_s",
    "functions.gopher_s",
    "functions.fp_md5_s",
    "checks.unique_url_s",
    "checks.unique_fp_s",
    "operators.drift_s",
)
RUNNER_COSTS = (
    "driver_s", "jobs", "tasks", "task_run_s", "task_cpu_s", "shuffle_mb",
    "spill_mb", "input_rows", "task_skew",
)
RUNNER_EXTRA = (
    "output_files", "output_mb", "committed_partitions_s", "next_run_seq_s",
    "violations_found", "violations_written", "violations_written_frac",
)
QUERY_METRICS = (
    "build_s", "build_jobs", "exec_s", "exec_jobs", "task_run_s", "task_cpu_s",
    "shuffle_mb",
)
GEN_REPEATS = 3


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in a fixed order."""
    names = ["trace.job_s", "trace.job_self_s", "sources.synth_pages_s", "runner.run_s"]
    names += [f"runner.{m}" for m in RUNNER_COSTS]
    names += [f"runner.write.{s}_s" for s in SINKS]
    names += [f"runner.{m}" for m in RUNNER_EXTRA]
    names += list(ISOLATED)
    names += [f"queries.{q}.{m}" for q in CORPUS_QUERIES for m in QUERY_METRICS]
    return names


def release_leftovers(spark, grace_s: float = 2.0) -> int:
    """Drop RDD blocks a finished job left registered; returns how many.

    ``pin()`` checkpoints stay registered after their query until the
    JVM collects the RDD and Spark's ContextCleaner unpersists it. They
    get garbage collections in Python and in the JVM and ``grace_s`` for
    the cleaner; whatever is still registered then is unpersisted, so no
    block of one job can serve the next.
    """
    sc = spark.sparkContext
    deadline = time.monotonic() + grace_s
    while sc._jsc.getPersistentRDDs().size() and time.monotonic() < deadline:
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.2)
    left = list(sc._jsc.getPersistentRDDs().values())
    for rdd in left:
        rdd.unpersist(True)
    return len(left)


def assert_nothing_cached(spark) -> None:
    """No result may survive from one job into the next (r6 rule)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    cache_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    tables = [t.name for t in spark.catalog.listTables() if spark.catalog.isCached(t.name)]
    if rdds or not cache_empty or tables:
        raise verify.VerificationError(
            f"cached state between jobs: {rdds} persistent RDDs, "
            f"cache manager empty={cache_empty}, cached tables {tables}"
        )


def _materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Workload:
    """Setup, verification and the timed closed loop shared by both."""

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.tmp = work / "tmp"
        self.seed = seed
        self.tracer = tracer
        self.rows_per_job = 0  # input rows one job validates
        self.gen_s: list[float] = []
        self.verify_s = 0.0
        self.job_s: list[float] = []
        self.job_spans: list = []
        self.attempted = 0
        self.failed = 0
        self.released_rdds = 0
        self.verified: str | None = None

    # -- overridden per workload ------------------------------------------
    def generate(self) -> None:
        """Write the seeded inputs (overwriting earlier copies)."""
        raise NotImplementedError

    def warm_and_verify(self) -> str:
        """Run the job once, check its output; returns the verified digest."""
        raise NotImplementedError

    def before_job(self) -> None:
        """Untimed preparation of the next job's starting state."""

    def job(self) -> None:
        raise NotImplementedError

    def job_digest(self) -> str:
        raise NotImplementedError

    def after_job(self, sp) -> None:
        """Untimed bookkeeping for the traced layer breakdown."""

    def after_loop(self) -> None:
        """Extra layer measurements of a traced run, while Spark is up."""

    # -- driver -------------------------------------------------------------
    def setup(self) -> float:
        """Generate the inputs GEN_REPEATS times (median reported), then
        warm up and verify. Returns the set-up seconds after session start."""
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            self.generate()
            self.gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.attempted += 1
        self.verified = self.warm_and_verify()
        self.verify_s = time.perf_counter() - t0
        return statistics.median(self.gen_s) + self.verify_s

    def loop(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        while not self.job_s or time.perf_counter() < deadline:
            self.before_job()
            self.released_rdds += release_leftovers(self.spark)
            assert_nothing_cached(self.spark)
            self.attempted += 1
            with self.tracer.span("job") as sp:
                t0 = time.perf_counter()
                self.job()
                self.job_s.append(time.perf_counter() - t0)
            self.job_spans.append(sp)
            if self.job_digest() != self.verified:
                self.failed += 1
            self.after_job(sp)

    def layer_metrics(self, log: EventLog) -> dict[str, float]:
        out = {name: 0.0 for name in per_layer_names()}
        out["trace.job_s"] = statistics.median(self.job_s)
        # time inside the timed span spent outside every engine call
        out["trace.job_self_s"] = statistics.median(
            self_time(self.tracer, sp) for sp in self.job_spans
        )
        return out


class SuiteCommit(Workload):
    """North-star job: the 7-check suite over the stored pages table,
    committed to a fresh out_dir (verdicts, capped violations, metrics,
    lineage)."""

    name = "suite_commit"

    def __init__(self, spark, work, seed, tracer):
        super().__init__(spark, work, seed, tracer)
        self.pages_path = work / "pages"
        self.suite = inputs.flagship_suite()
        self.out = work / "out"
        self.job_layers: list[dict[str, float]] = []
        self.isolated: dict[str, float] = {}

    def generate(self) -> None:
        self.rows_per_job = inputs.write_pages(self.spark, self.pages_path, self.seed)
        self.pages = inputs.suite_input(self.spark, self.pages_path)

    def runner(self):
        from reviews_quality_check_spark.plans.runner import SuiteRunner

        return SuiteRunner(self.suite, out_dir=str(self.out))

    def warm_and_verify(self) -> str:
        self.job()
        verify.check_suite_counts(self.pages_path, self.out, self.tmp)
        return self.job_digest()

    def before_job(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def job(self) -> None:
        with self.tracer.span("runner.run"):
            self.runner().run(self.pages, inputs.partition_expr(), resume=False)

    def job_digest(self) -> str:
        return verify.out_dir_digest(self.out, self.tmp)

    def after_job(self, sp) -> None:
        """Traced runs: output size, the violation cap's yield, and the
        commit-log reads a resume or the next run makes on this out_dir."""
        if not self.tracer.enabled:
            return
        files = list(self.out.rglob("*.parquet"))
        found, written = verify.violation_counts(self.out, self.tmp)
        row = {
            "output_files": float(len(files)),
            "output_mb": sum(p.stat().st_size for p in files) / 2**20,
            "violations_found": float(found),
            "violations_written": float(written),
            "violations_written_frac": written / found if found else 1.0,
        }
        runner = self.runner()
        for meth in ("committed_partitions", "next_run_seq"):
            with self.tracer.span(f"runner.{meth}") as call:
                getattr(runner, meth)(self.spark)
            row[f"{meth}_s"] = call.duration
        self.job_layers.append(row)

    def after_loop(self, repeats: int = 3) -> None:
        """Each expression / check plan materialised alone over the table."""
        from pyspark.sql import functions as F

        from reviews_quality_check_spark.functions.quality import gopher_flags
        from reviews_quality_check_spark.functions.readability import (
            flesch_reading_ease_fast,
        )
        from reviews_quality_check_spark.functions.text import norm_text
        from reviews_quality_check_spark.operators.drift import (
            categorical_window_drift,
        )
        from reviews_quality_check_spark.plans import checks as C

        raw = self.spark.read.parquet(str(self.pages_path))
        parted = self.pages.withColumn("__part", inputs.partition_expr())
        plans = {
            "functions.flesch_s": lambda: raw.select(flesch_reading_ease_fast("text")),
            "functions.gopher_s": lambda: raw.select(
                *[c.alias(k) for k, c in gopher_flags(F.col("text")).items()]
            ),
            "functions.fp_md5_s": lambda: raw.select(F.md5(norm_text(F.col("text")))),
            "checks.unique_url_s": lambda: C.uniqueness("url").plan(parted, "__part"),
            "checks.unique_fp_s": lambda: C.uniqueness("fp").plan(parted, "__part"),
            "operators.drift_s": lambda: categorical_window_drift(
                raw, "warc_ts", "lang", "1 day"
            ),
        }
        for name, build in plans.items():
            times = []
            for _ in range(repeats):
                with self.tracer.span(name) as sp:
                    _materialize(build())
                times.append(sp.duration)
            self.isolated[name] = statistics.median(times)

    def layer_metrics(self, log: EventLog) -> dict[str, float]:
        out = super().layer_metrics(log) | self.isolated
        out["sources.synth_pages_s"] = statistics.median(self.gen_s)
        per_job: list[dict[str, float]] = []
        for sp, extra in zip(self.job_spans, self.job_layers):
            run = next(s for s in self.tracer.children(sp) if s.name == "runner.run")
            cost = span_cost(self.tracer, log, run)
            row = {f"runner.{k}": float(getattr(cost, k)) for k in RUNNER_COSTS}
            row["runner.run_s"] = cost.wall_s
            for sink in SINKS:
                row[f"runner.write.{sink}_s"] = write_seconds(log, run, f"{self.out}/{sink}")
            row.update({f"runner.{k}": v for k, v in extra.items()})
            per_job.append(row)
        for key in per_job[0]:
            out[key] = statistics.median(r[key] for r in per_job)
        return out


class CorpusQueries(Workload):
    """One pass over registry queries on a seeded documents/embeddings
    corpus; each query is built, then materialised (collected as Arrow
    so its output can be compared with the verified digest)."""

    name = "corpus_queries"

    def __init__(self, spark, work, seed, tracer):
        super().__init__(spark, work, seed, tracer)
        self.sf_dir = work / "corpus"
        self.results: dict = {}  # query -> Arrow result of the last job
        self.last: dict[str, str] = {}  # query -> digest of that result

    def generate(self) -> None:
        self.rows_per_job = inputs.write_corpus(self.sf_dir, self.seed)

    def warm_and_verify(self) -> str:
        from reviews_quality_check_spark.queries import ORACLES

        self.job()
        digest = self.job_digest()
        bad = [
            q for q in CORPUS_QUERIES
            if self.last[q] != verify.oracle_digest(ORACLES[q], self.sf_dir, self.tmp)
        ]
        if bad:
            raise verify.VerificationError(f"queries differ from their oracle: {bad}")
        return digest

    def job(self) -> None:
        from reviews_quality_check_spark.queries import QUERIES

        for q in CORPUS_QUERIES:
            with self.tracer.span(f"queries.{q}.build"):
                df = QUERIES[q](self.spark, str(self.sf_dir))
            with self.tracer.span(f"queries.{q}.exec"):
                self.results[q] = df.toArrow()

    def job_digest(self) -> str:
        self.last = {q: verify.arrow_digest(t) for q, t in self.results.items()}
        self.results = {}
        return repr(sorted(self.last.items()))

    def layer_metrics(self, log: EventLog) -> dict[str, float]:
        out = super().layer_metrics(log)
        for q in CORPUS_QUERIES:
            rows = []
            for job in self.job_spans:
                kids = {s.name: s for s in self.tracer.children(job)}
                build = span_cost(self.tracer, log, kids[f"queries.{q}.build"])
                run = span_cost(self.tracer, log, kids[f"queries.{q}.exec"])
                rows.append({
                    "build_s": build.wall_s,
                    "build_jobs": build.jobs,
                    "exec_s": run.wall_s,
                    "exec_jobs": run.jobs,
                    "task_run_s": build.task_run_s + run.task_run_s,
                    "task_cpu_s": build.task_cpu_s + run.task_cpu_s,
                    "shuffle_mb": build.shuffle_mb + run.shuffle_mb,
                })
            for m in QUERY_METRICS:
                out[f"queries.{q}.{m}"] = float(statistics.median(r[m] for r in rows))
        return out


WORKLOADS = {w.name: w for w in (SuiteCommit, CorpusQueries)}
