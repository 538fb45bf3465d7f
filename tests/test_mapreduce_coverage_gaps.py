"""In-process exercises for the parity-face paths a driver-side tracer
cannot observe through Spark (executor-side helpers — module-level
functions since round 14) plus the rare branches the behavioral suites
only reach distributively.  Exists so the 100%-line-coverage gate
(tests/test_zz_mapreduce_coverage.py; reference CI parity —
.github/workflows/tests.yml:50-53 ``--cov-fail-under 100``) holds with
zero exclusions beyond ``pragma: no cover``."""

from __future__ import annotations

import pytest

from tinymr_spark import ElementCountError, MapReduce
from tinymr_spark.mapreduce import (
    _check_pair,
    _chunk_partition,
    _collect_reraising,
    _combine_partition,
    _finish_chunks,
    _finish_group,
    _flatten_kv,
    _kv_shape,
    _local_group_and_sort,
    _merge_winners,
    _partition_winners,
    _run_reduce,
)


# ---------------------------------------------------------------------------
# Executor-side record/group helpers, called directly.
# ---------------------------------------------------------------------------
def test_kv_shape_two_and_three_tuples():
    assert _kv_shape(((0, 1), ("k", "v"))) == ("k", ((0, 1), "v"))
    assert _kv_shape(((0, 2), ("k", "s", "v"))) == ("k", ((0, 2), "s", "v"))


def test_finish_group_sort_matrix():
    # arity 3, sort element only
    idx, vals = _finish_group(
        [((0, 1), 2, "b"), ((0, 0), 1, "a")], sort_with_value=False, reverse=False
    )
    assert (idx, vals) == ((0, 0), ["a", "b"])
    # arity 3, (sort, value) composite
    _, vals = _finish_group(
        [((0, 0), 1, "z"), ((0, 1), 1, "a")], sort_with_value=True, reverse=False
    )
    assert vals == ["a", "z"]
    # arity 2, sort by value
    _, vals = _finish_group(
        [((0, 0), "z"), ((0, 1), "a")], sort_with_value=True, reverse=False
    )
    assert vals == ["a", "z"]
    # arity 2, encounter order only
    _, vals = _finish_group(
        [((0, 1), "z"), ((0, 0), "a")], sort_with_value=False, reverse=False
    )
    assert vals == ["a", "z"]
    # reverse flips each sorted branch
    _, vals = _finish_group(
        [((0, 0), 1, "a"), ((0, 1), 2, "b")], sort_with_value=False, reverse=True
    )
    assert vals == ["b", "a"]


def test_finish_combine_restores_encounter_order():
    # the combine path's per-partition partials are finished as an
    # unsorted group: encounter order only
    assert _finish_group(
        [((0, 3), 30), ((0, 1), 10)], sort_with_value=False, reverse=False
    ) == ((0, 1), [10, 30])


def test_chunk_partition_one_chunk_per_key_in_first_encounter_order():
    # no flush: one chunk per distinct key, at its first-encounter slot
    recs = [("b", 1), ("a", 2), ("b", 3), ("c", 4), ("a", 5)]
    assert list(_chunk_partition(3, iter(recs), 100)) == [
        ("b", ((3, 0), 2, [1, 3])),
        ("a", ((3, 1), 2, [2, 5])),
        ("c", ((3, 2), 2, [4])),
    ]
    # a triple's payload is its whole record
    triples = [("k", 1, "x"), ("j", 0, "y"), ("k", 0, "z")]
    assert list(_chunk_partition(0, iter(triples), 100)) == [
        ("k", ((0, 0), 3, [("k", 1, "x"), ("k", 0, "z")])),
        ("j", ((0, 1), 3, [("j", 0, "y")])),
    ]
    assert list(_chunk_partition(0, iter([]), 100)) == []


def test_chunk_partition_positions_increase_after_flush():
    recs = [("b", 1), ("a", 2), ("b", 3), ("c", 4), ("a", 5)]
    out = list(_chunk_partition(1, iter(recs), 2))
    assert out == [
        ("b", ((1, 0), 2, [1])),
        ("a", ((1, 1), 2, [2])),
        ("b", ((1, 2), 2, [3])),
        ("c", ((1, 3), 2, [4])),
        ("a", ((1, 4), 2, [5])),
    ]
    positions = [chunk[0] for _k, chunk in out]
    assert positions == sorted(positions) and len(set(positions)) == len(out)


def test_chunk_partition_bad_first_record_raises():
    with pytest.raises(ElementCountError):
        list(_chunk_partition(0, iter([("too", "many", "parts", "here")]), 100))


def test_finish_chunks_concatenates_out_of_order_chunks():
    # chunks arrive out of position order, across partitions and flushes
    chunks = [((1, 0), 2, ["d"]), ((0, 4), 2, ["c"]), ((0, 1), 2, ["a", "b"])]
    assert _finish_chunks(chunks, False, False) == ((0, 1), ["a", "b", "c", "d"])
    # ties keep encounter order, also under reverse=True
    triples = [
        ((1, 0), 3, [("k", 1, "late"), ("k", 2, "top")]),
        ((0, 0), 3, [("k", 1, "early"), ("k", 0, "low")]),
    ]
    assert _finish_chunks(triples, False, True) == (
        (0, 0), ["top", "early", "late", "low"]
    )
    assert _finish_chunks(triples, False, False) == (
        (0, 0), ["low", "early", "late", "top"]
    )
    # pairs sorted by value, triples by (sort, value)
    assert _finish_chunks([((0, 0), 2, [3, 1, 2])], True, True) == ((0, 0), [3, 2, 1])
    assert _finish_chunks(triples, True, False)[1] == ["low", "early", "late", "top"]


def test_run_reduce_generator_and_return_styles():
    def gen_reducer(key, values):
        for v in values:
            yield (key, v)

    out = list(_run_reduce(("k", ((0, 0), [1, 2])), gen_reducer, True))
    assert out == [((0, 0, 0), ("k", 1)), ((0, 0, 1), ("k", 2))]

    def ret_reducer(key, values):
        return (key, sum(values))

    out = list(_run_reduce(("k", ((0, 5), [1, 2])), ret_reducer, False))
    assert out == [((0, 5, 0), ("k", 3))]

    def bad_reducer(key, values):
        return (key,)

    with pytest.raises(ElementCountError):
        list(_run_reduce(("k", ((0, 0), [1])), bad_reducer, False))


def _sum_reducer(key, values):
    return (key, sum(values))


def test_combine_partition_accumulates_per_key():
    records = [("k", 1), ("j", 5), ("k", 2)]
    assert list(_combine_partition(2, iter(records), _sum_reducer, 100)) == [
        ("k", ((2, 0), 3)),
        ("j", ((2, 1), 5)),
    ]
    assert list(_combine_partition(0, iter([]), _sum_reducer, 100)) == []
    with pytest.raises(ElementCountError, match="combine=True"):
        list(_combine_partition(0, iter([("k", "s", "v")]), _sum_reducer, 100))


def test_combine_partition_folds_or_flushes_at_limit():
    def calls(records, limit):
        seen = []

        def reducer(key, values):
            seen.append((key, list(values)))
            return _sum_reducer(key, values)

        return list(_combine_partition(0, iter(records), reducer, limit)), seen

    # few keys: the dict folds each key's values into one partial
    out, seen = calls([("a", 1), ("b", 2), ("a", 3), ("a", 4), ("b", 5)], 4)
    assert out == [("a", ((0, 0), 8)), ("b", ((0, 1), 7))]
    assert seen[:2] == [("a", [1, 3, 4]), ("b", [2])]
    assert seen[2:] == [("a", [8]), ("b", [2, 5])]
    # keys alone fill the dict: it emits its partials, slots carry on
    out, _ = calls([("a", 1), ("b", 2), ("a", 3), ("c", 4)], 2)
    assert out == [
        ("a", ((0, 0), 1)), ("b", ((0, 1), 2)),
        ("a", ((0, 2), 3)), ("c", ((0, 3), 4)),
    ]


def _first_wins(stream, sort_with_value, reverse):
    grouped = _local_group_and_sort(stream, sort_with_value, reverse)
    return [(k, v[0]) for k, v in grouped.items()]


@pytest.mark.parametrize("srwv", [False, True])
@pytest.mark.parametrize("srr", [False, True])
def test_partition_winners_then_merge_match_local_round(srwv, srr):
    # Key "K" first appears at (0, 1, 0) in partition A, as a loser under
    # srwv=False; "J" first appears at (0, 3, 0), before K's winner.
    part_a = [((0, 1, 0), ("K", 1, "x")), ((0, 10, 0), ("K", 0, "y")),
              ((0, 7, 0), ("J", 2, "q"))]
    part_b = [((0, 5, 0), ("K", 0, "z")), ((0, 3, 0), ("J", 2, "p"))]
    rows = [w for part in (part_a, part_b)
            for w in _partition_winners(iter(part), srwv, srr)]
    assert len(rows) == 4  # one winner per key per partition
    got = _first_wins(_merge_winners(rows), srwv, srr)
    stream = [rec for _idx, rec in sorted(part_a + part_b)]
    assert got == _first_wins(stream, srwv, srr)
    assert [k for k, _v in got] == ["K", "J"]


def test_partition_winners_cross_partition_tie():
    # Partition A's winner is "y" (sort 0 at idx 10); partition B's "z"
    # ties it on sort 0 but was encountered earlier (idx 5), so "z" wins.
    part_a = [((0, 1, 0), ("K", 1, "x")), ((0, 10, 0), ("K", 0, "y"))]
    part_b = [((0, 5, 0), ("K", 0, "z"))]
    assert list(_partition_winners(iter(part_a), False, False)) == [
        ((0, 1, 0), (0, 10, 0), ("K", 0, "y"))
    ]
    rows = [w for part in (part_a, part_b)
            for w in _partition_winners(iter(part), False, False)]
    assert _first_wins(_merge_winners(rows), False, False) == [("K", "z")]
    stream = [rec for _idx, rec in sorted(part_a + part_b)]
    assert _first_wins(stream, False, False) == [("K", "z")]


def test_partition_winners_two_tuples_keep_first_encounter():
    part = [((1, 4, 0), ("k", 9)), ((1, 2, 0), ("k", 3)), ((1, 3, 0), ("j", 1))]
    assert list(_partition_winners(iter(part), False, False)) == [
        ((1, 2, 0), (1, 2, 0), ("k", 3)),
        ((1, 3, 0), (1, 3, 0), ("j", 1)),
    ]


def test_flatten_kv_list_and_scalar():
    assert _flatten_kv(("k", [1, 2])) == [("k", 1), ("k", 2)]
    assert _flatten_kv(("k", 7)) == [("k", 7)]


# ---------------------------------------------------------------------------
# Collect re-raise adapter: duck-typed on .collect(), so fakes suffice.
# ---------------------------------------------------------------------------
class _FakeRDD:
    def __init__(self, exc):
        self._exc = exc

    def collect(self):
        raise self._exc


def test_collect_reraising_passes_native_element_count_error():
    with pytest.raises(ElementCountError, match="native"):
        _collect_reraising(_FakeRDD(ElementCountError("native")))


def test_collect_reraising_passes_unrelated_errors():
    with pytest.raises(ValueError, match="boom"):
        _collect_reraising(_FakeRDD(ValueError("boom")))


def test_require_pairs_guards_arity():
    # the local path holds a combine task to (key, value) records
    assert _local_group_and_sort(iter([("k", 1)]), False, False, _check_pair) == {
        "k": [1]
    }
    with pytest.raises(ElementCountError, match="combine=True"):
        _local_group_and_sort(iter([("k", "s", "v")]), False, False, _check_pair)


def test_local_group_and_sort_empty_stream_is_none():
    assert _local_group_and_sort(iter([]), False, False) is None


# ---------------------------------------------------------------------------
# Empty-outcome paths of the local lowering and the lazy exports.
# ---------------------------------------------------------------------------
class _SilentMapper(MapReduce):
    def mapper(self, item):
        return iter(())  # generator-style mapper that yields nothing
        yield  # noqa  — marks this a generator function

    def reducer(self, key, values):
        yield (key, sum(values))


class _SilentReducer(MapReduce):
    def mapper(self, item):
        yield (item, 1)

    def reducer(self, key, values):
        return iter(())
        yield  # noqa


class _WordCount(MapReduce):
    def mapper(self, item):
        for w in item.split():
            yield (w, 1)

    def reducer(self, key, values):
        yield (key, sum(values))


def test_local_empty_map_round_finalizes_empty():
    assert _SilentMapper()(["a", "b"]) == {}


def test_local_empty_reduce_round_finalizes_empty():
    assert _SilentReducer()(["a", "b"]) == {}


def test_to_rdd_empty_sequence_is_none():
    assert _WordCount().to_rdd([]) is None


def test_to_rdd_runs_pipeline(spark):
    rdd = _WordCount().to_rdd(["a a b"], spark=spark)
    assert dict(rdd.collect()) == {"a": [2], "b": [1]}


class _CollidingCount(_WordCount):
    def reducer(self, key, values):
        return ("n", sum(values))


def test_to_rdd_return_style_first_value_wins(spark):
    # to_rdd keeps the second shuffle; "a" (count 2) is encountered first
    rdd = _CollidingCount().to_rdd(["a a b"], spark=spark)
    assert rdd.collect() == [("n", 2)]


def test_to_df_empty_sequence_yields_empty_frame(spark):
    df = _WordCount().to_df([], spark=spark)
    assert df.count() == 0
    assert df.columns == ["key", "value"]


def test_to_df_explodes_value_lists(spark):
    df = _WordCount().to_df(["a a b"], spark=spark, value_type="bigint")
    assert sorted(map(tuple, df.collect())) == [("a", 2), ("b", 1)]
