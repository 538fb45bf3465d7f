"""Unit tests of the benchmark's own parts; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, metrics, mrtasks, trace  # noqa: E402
from perfbench.stats import median, sig, tail, valid_name  # noqa: E402

# ---------------------------------------------------------------------------
# percentile rule and number formatting
# ---------------------------------------------------------------------------


def test_tail_is_highest_percentile_with_ten_samples_above():
    xs = list(range(1, 101))
    pct, value = tail(xs)
    assert (pct, value) == (90.0, 90)
    assert sum(x > value for x in xs) == 10
    assert tail(list(range(20))) == (50.0, 9)
    assert tail(list(range(11))) == (100 / 11, 0)
    assert tail(list(range(10))) is None


def test_tail_ignores_input_order():
    xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 0, 10, 11]
    assert tail(xs) == tail(sorted(xs))


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


@pytest.mark.parametrize("x", [0.000123456, 0.0042, 0.3, 7.0, 12.5, 999.9, 123456.7])
def test_sig_keeps_three_significant_digits(x):
    text = sig(x)
    assert "e" not in text
    assert float(text) != 0
    digits = text.replace(".", "").lstrip("0")
    assert len(digits) >= 3
    assert abs(float(text) - x) <= abs(x) * 0.005


def test_metric_name_pattern():
    assert valid_name("op_p50_ms")
    assert valid_name("minitable.write_p50_s")
    assert valid_name("9lives-x")
    for bad in ("", ".hidden", "has space", "slash/name", "x" * 65, "ünicode"):
        assert not valid_name(bad)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def _span(i, start, end, parent=None, layer="l"):
    return trace.Span(i, f"s{i}", layer, start, end, parent)


def test_covered_merges_overlaps():
    assert trace.covered([]) == 0
    assert trace.covered([(0, 1), (2, 3)]) == 2
    assert trace.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.covered([(0, 10), (1, 2)]) == 10


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0, layer="bench"),
        _span(1, 1.0, 4.0, parent=0, layer="operators"),
        _span(2, 4.0, 6.0, parent=0, layer="operators"),
        _span(3, 1.5, 2.0, parent=1, layer="sources"),
        _span(4, 1.7, 1.9, parent=3, layer="minitable"),
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10 - 5)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(0.5 - 0.2)
    assert sum(st.values()) == pytest.approx(10)  # self times tile the root span


def test_tracer_nests_and_instrument_restores():
    class Mod:
        @staticmethod
        def work(x):
            return x * 2

    tr = trace.Tracer(run="t")
    restore = trace.instrument(tr, Mod, ["work"], "layer")
    with tr.span("outer", "bench"):
        assert Mod.work(3) == 6
    assert [s.name for s in tr.spans] == ["outer", "layer.work"]
    assert tr.spans[1].parent == tr.spans[0].id
    assert all(s.end >= s.start for s in tr.spans)
    restore()
    Mod.work(1)
    assert len(tr.spans) == 2


def test_disabled_tracer_records_nothing():
    tr = trace.Tracer(run="t", enabled=False)
    with tr.span("x", "bench"):
        pass
    assert tr.spans == []


# ---------------------------------------------------------------------------
# BENCHMARK.json agrees with the metrics the worker reports
# ---------------------------------------------------------------------------


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_metrics():
    b = _benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == metrics.PER_LAYER
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_benchmark_names_and_workloads_are_valid():
    from perfbench import workloads

    b = _benchmark()
    names = [w["name"] for w in b["workloads"]] + [
        m["name"] for m in b["end_to_end"] + b["per_layer"]
    ]
    assert len(names) == len(set(names))
    assert all(valid_name(n) for n in names)
    assert [w["name"] for w in b["workloads"]] == list(metrics.WORKLOADS)
    assert set(metrics.WORKLOADS) == set(workloads.WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])


# ---------------------------------------------------------------------------
# each correctness checker rejects a perturbed output
# ---------------------------------------------------------------------------


@pytest.fixture()
def duck():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    yield con
    con.close()


def test_oracle_check_rejects_perturbed_result(duck):
    duck.execute("CREATE TABLE x AS SELECT range AS k, range * 1.5::DOUBLE AS v FROM range(50)")
    sql = "SELECT k, v FROM x"
    expected = checks.oracle_key(duck, sql)
    rows = [(k, k * 1.5) for k in range(50)]
    assert checks.result_key(list(reversed(rows)), ["k", "v"]) == expected
    assert checks.result_key([(v, k) for k, v in rows], ["v", "k"]) == expected
    changed = rows[:-1] + [(49, 49 * 1.5 + 0.01)]
    assert checks.result_key(changed, ["k", "v"]) != expected
    assert checks.result_key(rows[:-1], ["k", "v"]) != expected
    assert checks.result_key(rows, ["k", "w"]) != expected


def test_mapreduce_references_reject_perturbed_output():
    lines = ["a b a", "c a", "b"]
    counts = mrtasks.word_counts(lines)
    assert counts == {"a": 3, "b": 2, "c": 1}
    assert {**counts, "a": 4} != counts
    groups = mrtasks.sorted_groups([("k", 2, "y"), ("k", 1, "z"), ("k", 2, "x"), ("j", 0, "w")])
    assert groups == {"k": ["z", "x", "y"], "j": ["w"]}
    assert checks.same_mapping(groups, dict(groups))
    assert not checks.same_mapping(groups, {"k": ["x", "z", "y"], "j": ["w"]})
    assert not checks.same_mapping(groups, {"j": ["w"], "k": ["z", "x", "y"]})


def _replay(duck):
    import pyarrow as pa

    rp = checks.DuckReplay(duck, "k BIGINT, qty DOUBLE, flag VARCHAR", "k", ["k", "qty", "flag"])
    rp.append(pa.table({"k": [1, 2, 3], "qty": [1.0, 2.0, 3.0], "flag": ["A", "R", "A"]}))
    rp.commit(0)
    rp.merge(pa.table({"k": [2, 4], "qty": [20.0, 4.0], "flag": ["R", "N"]}))
    rp.commit(1)
    rp.execute("DELETE FROM t WHERE flag = 'R'")
    rp.commit(2)
    return rp


def test_table_replay_rejects_perturbed_reads(duck):
    rp = _replay(duck)
    cols = ["flag", "k", "qty"]
    v1 = [("A", 1, 1.0), ("R", 2, 20.0), ("A", 3, 3.0), ("N", 4, 4.0)]
    assert rp.check_read(v1, cols, 1)
    assert not rp.check_read(v1, cols, 2)
    assert not rp.check_read(v1[:-1], cols, 1)
    assert not rp.check_read([("A", 1, 1.0), ("R", 2, 2.0)] + v1[2:], cols, 1)
    assert not rp.check_read(v1 + [v1[0]], cols, 1)
    assert rp.check_scan([("N", 4, 4.0)], cols, "k = 4")
    assert not rp.check_scan([], cols, "k = 4")


def test_change_feed_check_rejects_perturbed_feed(duck):
    rp = _replay(duck)
    cols = ["k", "qty", "flag", "_change_type", "_commit_version"]
    feed = [
        (2, 2.0, "R", "update_preimage", 1),
        (2, 20.0, "R", "update_postimage", 1),
        (4, 4.0, "N", "insert", 1),
        (2, 20.0, "R", "delete", 2),
    ]
    assert rp.check_feed(feed, cols, 0, 2)
    assert rp.check_feed(feed[:3], cols, 0, 1)
    assert not rp.check_feed(feed[:3], cols, 0, 2)
    assert not rp.check_feed(feed[:2] + feed[3:], cols, 0, 2)
    assert not rp.check_feed([(9, 9.0, "A", "delete", 2)] + feed, cols, 0, 2)
    assert not rp.check_feed(feed[:3] + [(2, 20.0, "R", "truncate", 2)], cols, 0, 2)
