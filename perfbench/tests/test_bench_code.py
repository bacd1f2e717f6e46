"""Tests of the benchmark's own code (no Spark, except the last one)."""

from __future__ import annotations

import csv
import json
import os

import pytest

import datagen
from sparkstats import parse_metric
from spans import Span, Tracer
from stats import median, percentile, samples_beyond, union_length


def test_percentile_nearest_rank_and_tail_count():
    values = list(range(1, 101))
    assert percentile(values, 0.5) == 50
    assert percentile(values, 0.9) == 90
    assert samples_beyond(100, 0.9) == 10  # p90 is reportable at n=100
    assert samples_beyond(99, 0.9) == 9  # ... and not below it
    assert samples_beyond(40, 0.5) == 20
    assert percentile([3.0], 0.9) == 3.0
    assert percentile([5, 1, 4, 2, 3], 0.5) == 3  # order-independent
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile([1.0], 0.0)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(1, 3), (1.5, 2)], 0, 10) == 2  # nested
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3  # clipped both ends
    assert union_length([], 0, 10) == 0


def _tracer(spans: list[Span]) -> Tracer:
    t = Tracer()
    t.spans = spans
    return t


def test_self_time_subtracts_covered_child_time():
    t = _tracer([
        Span("root", 0.0, 10.0, None, 0),
        Span("a", 1.0, 3.0, 0, 0),
        Span("b", 3.0, 5.0, 0, 0),
        Span("c", 7.0, 8.0, 0, 0),
        Span("a.child", 1.5, 2.5, 1, 0),  # grandchild: not the root's
    ])
    assert t.self_time(0) == pytest.approx(5.0)
    assert t.self_time(1) == pytest.approx(1.0)
    # self times of a nested tree partition the root's duration
    assert sum(t.self_time(i) for i in range(5)) == pytest.approx(10.0)


def test_jobs_attribute_to_the_innermost_open_span():
    t = _tracer([
        Span("root", 0.0, 10.0, None, 0),
        Span("dims", 2.0, 6.0, 0, 0),
        Span("root", 20.0, 30.0, None, 1),
    ])
    assert t.innermost(3.0) == 1
    assert t.innermost(1.0) == 0
    assert t.innermost(11.0) is None
    assert t.innermost(25.0, run_id=1) == 2
    assert t.innermost(3.0, run_id=1) is None


def test_recorded_spans_nest_and_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0)]
    assert t.spans[0].start <= t.spans[1].start <= t.spans[1].end <= t.spans[0].end
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_parse_rendered_sql_metrics():
    assert parse_metric("2 ms") == pytest.approx(0.002)
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "2.0 s (465 ms, 530 ms, 543 ms (stage 3.0: task 3))") == 2.0
    assert parse_metric("152.7 KiB") == pytest.approx(152.7 * 1024)
    with pytest.raises(ValueError):
        parse_metric("12 widgets")


def test_retail_csv_is_seeded_and_expectations_match_the_file(tmp_path):
    a, b, c = (str(tmp_path / f"{n}.csv") for n in "abc")
    ea, eb, ec = (datagen.write_retail_csv(p, 3000, s) for p, s in ((a, 1), (b, 1), (c, 2)))
    assert ea == eb and open(a).read() == open(b).read()
    assert open(a).read() != open(c).read()
    with open(a) as f:
        rows = list(csv.reader(f))[1:]
    assert len(rows) == ea.raw_rows == 3000
    stages = dict((s, (before, after)) for s, before, after in ea.stage_rows)
    assert stages["remove_nulls"][0] == 3000
    chain = [x for s in ea.stage_rows for x in s[1:]]
    assert chain == sorted(chain, reverse=True)  # every stage only removes
    assert ea.fact_rows == ea.cleaned_rows == stages["remove_invalid_prices"][1]
    # each quirk class is present
    assert any(r[4] == "garbage-date" for r in rows)
    assert any(r[3].startswith("-") for r in rows)
    assert any(r[6] == "" for r in rows)
    assert any(r[2].endswith(" ALT") for r in rows)


def test_sf_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    n1 = datagen.write_sf_tables(str(tmp_path / "x"), 0.001, 7)
    datagen.write_sf_tables(str(tmp_path / "y"), 0.001, 7)
    assert set(n1) == set(datagen.TABLES)
    for t in datagen.TABLES:
        x = pq.read_table(tmp_path / "x" / f"{t}.parquet")
        assert x.equals(pq.read_table(tmp_path / "y" / f"{t}.parquet")), t
    docs = pq.read_table(tmp_path / "x" / "documents.parquet").to_pandas()
    assert docs.text.str.endswith(" dup").sum() > 0  # planted near-duplicates


def test_corrupted_expected_hash_is_a_failure(monkeypatch, capsys):
    """End to end on Spark: when the expected (oracle) hash of a query is
    corrupted, the run must report ``correct: false`` and count every
    execution of that query as failed."""
    import run

    real = run.oracle_answers

    def corrupted(data_dir, names, registry, canon):
        return {n: ("0" * 16, rows) for n, (_, rows) in real(data_dir, names, registry, canon).items()}

    monkeypatch.setattr(run, "oracle_answers", corrupted)
    monkeypatch.setattr(run, "QUERY_SETS", {"warehouse": ("q11_dup_probe",), "corpus": ()})
    monkeypatch.chdir(os.path.dirname(run.HERE))
    rc = run.main(["--workload", "registry_queries", "--seed", "1",
                   "--seconds", "1", "--trace", "0"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["correct"] is False
    assert out["attempted"] >= 1 and out["failed"] == out["attempted"]
