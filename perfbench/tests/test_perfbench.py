"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from perfbench import inputs
from perfbench.run import END_TO_END_UNITS, WORKLOAD_NAMES
from perfbench.trace import (
    Span,
    Tracer,
    covered,
    parse_event_log,
    self_time,
    span_cost,
    write_seconds,
)
from perfbench.workloads import WORKLOADS, per_layer_names

HERE = Path(__file__).resolve().parent
# captured from a 2-core local session: job group "t-0" ran a
# groupBy + parquet write to /data/out/sink (job 0), group "t-1" read
# it back (jobs 1 and 2)
TINY_LOG = HERE / "data" / "tiny_eventlog.json"
BENCHMARK = HERE.parent.parent / "BENCHMARK.json"
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _tracer(*spans: tuple[str, str | None, float, float]) -> Tracer:
    tr = Tracer(enabled=True)
    for name, parent, start, end in spans:
        tr.spans.append(Span(name, name, parent, tr.run_id, start, end))
    return tr


def test_event_log_jobs_stages_tasks():
    log = parse_event_log(TINY_LOG)
    assert {j.job_id: j.group for j in log.jobs.values()} == {0: "t-0", 1: "t-1", 2: "t-1"}
    assert log.jobs[0].stage_ids == [0, 1]
    assert [len(log.stages[s].task_run_s) for s in range(4)] == [2, 2, 1, 2]
    assert log.stages[0].input_rows == 1000
    assert log.stages[0].shuffle_write_bytes == 266
    assert log.stages[1].task_run_s == [0.515, 0.518]
    assert log.jobs[0].end - log.jobs[0].start == pytest.approx(1.186)


def test_event_log_sql_write_path():
    log = parse_event_log(TINY_LOG)
    assert [e.write_path for e in log.sql.values()] == ["/data/out/sink", None]


def test_span_cost_attributes_jobs_by_group():
    log = parse_event_log(TINY_LOG)
    t0 = log.jobs[0].start
    tr = _tracer(
        ("t-0", None, t0 - 1.4, t0 + 1.3),
        ("t-1", None, t0 + 1.3, t0 + 2.0),
    )
    write, read = tr.spans
    cw = span_cost(tr, log, write)
    assert (cw.jobs, cw.tasks, cw.input_rows) == (1, 4, 1000)
    assert cw.task_run_s == pytest.approx(0.19 + 0.19 + 0.515 + 0.518)
    assert cw.shuffle_mb == pytest.approx(266 / 2**20)
    # the span is 2.7 s; job 0 covers 1.186 s of it
    assert cw.driver_s == pytest.approx(2.7 - 1.186)
    # longest stage is stage 1: max/median of its two tasks
    assert cw.task_skew == pytest.approx(0.518 / 0.5165)
    cr = span_cost(tr, log, read)
    assert (cr.jobs, cr.tasks, cr.input_rows) == (2, 3, 3)
    assert write_seconds(log, write, "/data/out/sink") == pytest.approx(2.511)
    assert write_seconds(log, read, "/data/out/sink") == 0.0


def test_span_cost_includes_child_spans():
    log = parse_event_log(TINY_LOG)
    t0 = log.jobs[0].start
    tr = _tracer(("outer", None, t0 - 2, t0 + 3), ("t-1", "outer", t0 + 1, t0 + 2))
    assert span_cost(tr, log, tr.spans[0]).jobs == 2


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 4), (6, 7)]) == 4
    assert covered(0, 10, [(-5, 1), (9, 20)]) == 2
    assert covered(0, 10, [(11, 12)]) == 0


def test_self_time_subtracts_children():
    tr = _tracer(
        ("root", None, 0.0, 10.0),
        ("a", "root", 1.0, 4.0),
        ("b", "root", 3.0, 5.0),  # overlaps a: counted once
        ("a1", "a", 1.5, 2.0),  # grandchild: inside a, not subtracted again
        ("c", "root", 9.0, 12.0),  # runs past the parent's end: clipped
    )
    root, a = tr.spans[0], tr.spans[1]
    assert self_time(tr, root) == pytest.approx(10 - 4 - 1)
    assert self_time(tr, a) == pytest.approx(3 - 0.5)
    assert self_time(tr, tr.spans[3]) == pytest.approx(0.5)


def test_untraced_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as sp:
        pass
    assert sp is None and tr.spans == []


def test_metric_names_valid_and_match_benchmark_json():
    bench = json.loads(BENCHMARK.read_text())
    layer = per_layer_names()
    names = layer + list(END_TO_END_UNITS) + list(WORKLOAD_NAMES)
    bad = [n for n in names if not NAME_RE.fullmatch(n)]
    assert bad == []
    assert len(set(layer)) == len(layer)
    assert [m["name"] for m in bench["per_layer"]] == layer
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END_UNITS)
    assert [m["unit"] for m in bench["end_to_end"]] == list(END_TO_END_UNITS.values())
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOAD_NAMES)
    assert sorted(WORKLOADS) == sorted(WORKLOAD_NAMES)


def test_corpus_is_seeded():
    a1, e1 = inputs.corpus_tables(7)
    a2, e2 = inputs.corpus_tables(7)
    b1, _ = inputs.corpus_tables(8)
    assert a1.equals(a2) and e1.equals(e2)
    assert not a1.equals(b1)
    assert a1.num_rows == inputs.N_DOCS and e1.num_rows == inputs.N_VECS
    texts = a1.column("text").to_pylist()
    assert len(set(texts)) < len(texts)  # planted exact duplicates
    # the seed changes content, not the amount of work
    other = b1.column("text").to_pylist()
    assert [len(t.split()) for t in texts] == [len(t.split()) for t in other]
    assert sorted(a1.column("lang").to_pylist()) == sorted(b1.column("lang").to_pylist())
