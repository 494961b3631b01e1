"""Suite runner: verdict semantics, violation rows, and the
checkpoint/resume contract (north_rule: a killed run resumes from the
last completed partition; completed partitions are not recomputed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reviews_quality_check_spark.plans import checks as C
from reviews_quality_check_spark.plans.runner import SuiteRunner


@pytest.fixture()
def pages(spark):
    rows = [
        # (url, lang, text, day)
        ("https://a/1", "en", "hello world one", "d1"),
        ("https://a/2", "en", "", "d1"),                    # blank violation
        ("https://a/3", "xx", "valid text here", "d1"),     # bad lang
        ("https://a/1", "en", "dup url row", "d2"),         # dup url (global? per-partition d2 only)
        ("https://b/1", "en", "fine", "d2"),
        ("https://b/1", "en", "fine again", "d2"),          # dup url within d2
        ("https://c/1", "de", "alles gut", "d3"),
    ]
    return spark.createDataFrame(rows, "url string, lang string, text string, day string")


def _suite() -> C.Suite:
    s = C.Suite(name="t", row_key="url")
    s.add(C.not_blank("text"))
    s.add(C.in_set("lang", ("en", "de")))
    s.add(C.uniqueness("url"))
    return s


def test_verdicts_and_violations(pages):
    suite = _suite()
    suite.add(C.matches_regex("url", r"^https://[ab]/"))
    res = SuiteRunner(suite).run(pages, F.col("day"), resume=False)
    v = {(r["partition_id"], r["check_name"]): r for r in res.verdicts.collect()}
    assert v[("d1", "not_blank_text")]["passed"] is False
    assert v[("d1", "not_blank_text")]["violation_count"] == 1
    assert v[("d1", "in_set_lang")]["violation_count"] == 1
    assert v[("d1", "unique_url")]["passed"] is True
    assert v[("d2", "unique_url")]["passed"] is False
    assert v[("d2", "unique_url")]["violation_count"] == 1  # Σ(cnt-1) for b/1
    assert v[("d3", "not_blank_text")]["passed"] is True
    assert v[("d1", "regex_url")]["passed"] is True
    assert v[("d3", "regex_url")]["violation_count"] == 1

    viol = {(r["partition_id"], r["check_name"], r["row_key"]) for r in res.violations.collect()}
    assert ("d1", "not_blank_text", "https://a/2") in viol
    assert ("d1", "in_set_lang", "https://a/3") in viol
    assert {(p, k) for p, c, k in viol if c == "regex_url"} == {("d3", "https://c/1")}


def test_predicate_check_gopher_conjunction(pages):
    """predicate() adapts a cleaning-rule boolean (here two Gopher/C4
    flags) into a suite RowCheck: blank text violates via the n>0 term,
    normal rows pass, and the check shares the same single-scan
    projection as the other row checks."""
    from reviews_quality_check_spark.functions.quality import gopher_flags

    gf = gopher_flags(F.col("text"))
    s = C.Suite(name="t", row_key="url")
    s.add(C.predicate("gopher_core", gf["mean_word_len_ok"] & gf["no_brace"]))
    res = SuiteRunner(s).run(pages, F.col("day"), resume=False)
    viol = {
        (r["partition_id"], r["row_key"])
        for r in res.violations.filter(F.col("check_name") == "gopher_core").collect()
    }
    assert ("d1", "https://a/2") in viol  # blank text -> n=0 -> violates
    v = {(r["partition_id"], r["check_name"]): r for r in res.verdicts.collect()}
    assert v[("d3", "gopher_core")]["passed"] is True
    assert v[("d1", "gopher_core")]["passed"] is False


def test_checkpoint_resume_skips_committed(pages, tmp_path, spark):
    out = str(tmp_path / "suite_out")
    runner = SuiteRunner(_suite(), out_dir=out)

    # run 1: only d1 visible (simulates a run killed before d2/d3)
    runner.run(pages.filter(F.col("day") == "d1"), F.col("day"), resume=True)
    assert set(runner.committed_partitions(spark)) == {"d1"}

    # run 2: full input; d1 must be skipped, d2/d3 processed
    res = runner.run(pages, F.col("day"), resume=True)
    assert res.partitions_skipped == 1
    assert set(runner.committed_partitions(spark)) == {"d1", "d2", "d3"}

    verdicts = spark.read.parquet(out + "/verdicts")
    v = {(r["partition_id"], r["check_name"]): r["passed"] for r in verdicts.collect()}
    assert v[("d1", "not_blank_text")] is False  # from run 1, preserved
    assert v[("d2", "unique_url")] is False
    assert v[("d3", "not_blank_text")] is True

    # run 3: everything committed -> nothing recomputed
    res3 = runner.run(pages, F.col("day"), resume=True)
    assert res3.partitions_processed == 0
    assert res3.partitions_skipped == 3

    lineage = spark.read.parquet(out + "/lineage")
    per_part = {r["partition_id"]: r["rows_scanned"] for r in lineage.collect()}
    assert per_part == {"d1": 3, "d2": 3, "d3": 1}
    # idempotency: each partition committed exactly once
    assert lineage.count() == 3


def test_rerun_without_resume_is_idempotent(pages, tmp_path, spark):
    out = str(tmp_path / "suite_out2")
    runner = SuiteRunner(_suite(), out_dir=out)
    runner.run(pages, F.col("day"), resume=False)
    first = sorted(
        tuple(r) for r in spark.read.parquet(out + "/verdicts").collect()
    )
    runner.run(pages, F.col("day"), resume=False)  # overwrite same partitions
    second = sorted(
        tuple(r) for r in spark.read.parquet(out + "/verdicts").collect()
    )
    assert first == second


def test_verdicts_hide_reserved_rows_scanned_row(pages, tmp_path, spark):
    """The per-partition row count rides in the verdict plan under the
    reserved __rows_scanned name: it feeds metrics and lineage but never
    shows up among the verdicts, returned or committed."""
    res = SuiteRunner(_suite()).run(pages, F.col("day"), resume=False)
    assert "__rows_scanned" not in {r["check_name"] for r in res.verdicts.collect()}

    out = str(tmp_path / "out")
    res = SuiteRunner(_suite(), out_dir=out).run(pages, F.col("day"), resume=False)
    assert "__rows_scanned" not in {r["check_name"] for r in res.verdicts.collect()}
    metrics = spark.read.parquet(out + "/metrics")
    scanned = {
        r["partition_id"]: (r["value"], r["metric_value"])
        for r in metrics.filter(F.col("check_name") == "__rows_scanned").collect()
    }
    assert scanned == {"d1": (3, None), "d2": (3, None), "d3": (1, None)}
    lineage = spark.read.parquet(out + "/lineage")
    assert {r["partition_id"]: r["rows_scanned"] for r in lineage.collect()} == {
        "d1": 3, "d2": 3, "d3": 1,
    }
    assert {r["checks_run"] for r in lineage.collect()} == {3}


def test_agg_only_suite_commits_empty_violations(pages, tmp_path, spark):
    """A suite without row checks writes no violation rows: the empty
    sink is "nothing committed", not a broken history."""
    s = C.Suite(name="aggonly", row_key="url")
    s.add(C.uniqueness("url"))
    runner = SuiteRunner(s, out_dir=str(tmp_path / "out"))
    res = runner.run(pages, F.col("day"), resume=False)
    assert res.violations.count() == 0
    # the empty sink reads back with the violation sink's full columns
    assert set(res.violations.columns) == {"partition_id", "check_name", "row_key", "detail"}
    assert {r["partition_id"] for r in res.verdicts.collect()} == {"d1", "d2", "d3"}
    assert set(runner.committed_partitions(spark)) == {"d1", "d2", "d3"}
    assert runner.next_run_seq(spark) == 1


def test_corrupt_lineage_fails_resume_loudly(pages, tmp_path, spark):
    """A missing commit log means "nothing committed"; an unreadable one
    is an error. Treating it as empty would silently recompute every
    partition and append a second lineage row for each."""
    out = tmp_path / "out"
    runner = SuiteRunner(_suite(), out_dir=str(out))
    assert runner.committed_partitions(spark) == []  # no lineage dir yet
    assert runner.next_run_seq(spark) == 0
    runner.run(pages, F.col("day"), resume=True)
    files = list((out / "lineage").glob("*.parquet"))
    assert files
    for f in files:
        f.write_bytes(b"not parquet at all")
    with pytest.raises(Exception, match="Parquet"):
        runner.run(pages, F.col("day"), resume=True)


def test_commit_leaves_session_overwrite_mode_alone(pages, tmp_path, spark):
    """Dynamic partition overwrite is a per-write option of the commit:
    the session setting other writers see stays as it was, and a run
    over one partition still keeps the other partitions' outputs."""
    from reviews_quality_check_spark.operators.incremental_stats import (
        append_states,
        compute_states,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    before = spark.conf.get(key)
    out = str(tmp_path / "out")
    runner = SuiteRunner(_suite(), out_dir=out)
    runner.run(pages.filter(F.col("day") == "d1"), F.col("day"), resume=False)
    runner.run(pages.filter(F.col("day") == "d2"), F.col("day"), resume=False)
    assert spark.conf.get(key) == before
    parts = {r["partition_id"] for r in spark.read.parquet(out + "/verdicts").collect()}
    assert parts == {"d1", "d2"}

    states = str(tmp_path / "states")
    for day in ("d1", "d2"):
        day_rows = pages.filter(F.col("day") == day)
        append_states(compute_states(day_rows, "day", string_cols=("lang",)), states)
    assert spark.conf.get(key) == before
    assert {r["partition_id"] for r in spark.read.parquet(states).collect()} == {"d1", "d2"}


def test_failed_sink_write_releases_caches(pages, tmp_path, spark):
    """r6 honesty guard on the error path: a run whose sink write fails
    raises and leaves no persisted frame behind."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    out = tmp_path / "out"
    out.mkdir()
    (out / "verdicts").write_text("a regular file, not a sink directory")
    with pytest.raises(Exception):
        SuiteRunner(_suite(), out_dir=str(out)).run(pages, F.col("day"), resume=False)
    assert sc._jsc.getPersistentRDDs().size() == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


_SINK_WRITES = ("verdicts", "violations", "metrics", "lineage")


@pytest.mark.parametrize("crash_at", [1, 2, 3, 4], ids=_SINK_WRITES)
def test_resume_after_crash_at_each_sink_write(pages, tmp_path, spark, monkeypatch, crash_at):
    """A run killed at any of its four sink writes, resumed under the
    crashed run's run_seq, leaves the same outputs as a one-shot run:
    identical verdicts and violations, one lineage row per partition,
    and one metrics-history point per (series, run_seq)."""
    from pyspark.sql.readwriter import DataFrameWriter

    one_shot = str(tmp_path / "one_shot")
    SuiteRunner(_suite(), out_dir=one_shot).run(pages, F.col("day"), resume=False)

    out = str(tmp_path / "out")
    runner = SuiteRunner(_suite(), out_dir=out)
    runner.run(pages.filter(F.col("day") == "d1"), F.col("day"), run_seq=0)

    real_parquet = DataFrameWriter.parquet
    writes: list[str] = []

    def crashing_parquet(self, path, *args, **kwargs):
        if str(path).startswith(out):
            writes.append(str(path))
            if len(writes) == crash_at:
                raise RuntimeError(f"injected crash at sink write {crash_at}")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing_parquet)
    with pytest.raises(RuntimeError, match="injected crash"):
        runner.run(pages, F.col("day"), resume=True, run_seq=1)
    monkeypatch.undo()
    assert writes[-1].endswith(_SINK_WRITES[crash_at - 1])

    res = runner.run(pages, F.col("day"), resume=True, run_seq=1)
    assert res.partitions_skipped == 1  # d1, committed before the crash

    def rows(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    for sink in ("verdicts", "violations"):
        assert rows(f"{out}/{sink}") == rows(f"{one_shot}/{sink}")
    lineage = [r["partition_id"] for r in spark.read.parquet(out + "/lineage").collect()]
    assert sorted(lineage) == ["d1", "d2", "d3"]

    points = [(r["metric"], r["window_id"]) for r in runner.history_anomalies(spark).collect()]
    series = ("not_blank_text", "in_set_lang", "unique_url", "__rows_scanned")
    want = {(f"d1/{c}", 0) for c in series} | {
        (f"{p}/{c}", 1) for p in ("d2", "d3") for c in series
    }
    assert len(points) == len(want)
    assert set(points) == want
