"""Bounded map and combine dicts are invisible in the output.

The distributed map round holds each partition's records in a dict of
per-key chunks and flushes it after ``mapreduce._CHUNK_LIMIT`` payloads;
the combine folds or flushes its partials at the same bound.  A flush
splits a key into several chunks or partials whose positions keep their
encounter order, so every output here — key order included — must equal
the unbounded run's.  The differential fuzz inputs run through Spark with
the bound at 1 (every record flushes) and at 7 (few-key partitions fold,
the rest flush).
"""

from __future__ import annotations

from unittest import mock

import pytest
from hypothesis import HealthCheck, example, given, settings

from test_differential_reference import (
    FLAG,
    TUPLES2,
    TUPLES3,
    _collision_pair,
    _passthrough_pair,
    _rekey_pair,
)
from tinymr_spark import MapReduce, mapreduce

LIMITS = pytest.mark.parametrize("limit", [1, 7])
FUZZ = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _bounded_matches_unbounded(task, data, limit):
    task.local_threshold = 0  # every input through Spark
    unbounded = task(data)
    with mock.patch.object(mapreduce, "_CHUNK_LIMIT", limit):
        bounded = task(data)
    assert list(bounded.items()) == list(unbounded.items())


@LIMITS
@FUZZ
@given(data=TUPLES3, smwv=FLAG, smr=FLAG)
def test_flush_sort_matrix_3tuples(spark, limit, data, smwv, smr):
    _ref, ours = _passthrough_pair({"smwv": smwv, "smr": smr})
    _bounded_matches_unbounded(ours, data, limit)


@LIMITS
@FUZZ
@given(data=TUPLES2, smwv=FLAG, smr=FLAG)
def test_flush_sort_matrix_2tuples(spark, limit, data, smwv, smr):
    _ref, ours = _passthrough_pair({"smwv": smwv, "smr": smr})
    _bounded_matches_unbounded(ours, data, limit)


@LIMITS
@FUZZ
@given(data=TUPLES2, srwv=FLAG, srr=FLAG)
@example(data=[("a", 6), ("b", 1), ("c", 0), ("a", 2)], srwv=False, srr=True)
def test_flush_multi_key_collisions(spark, limit, data, srwv, srr):
    _ref, ours = _rekey_pair({"srwv": srwv, "srr": srr}, 2)
    _bounded_matches_unbounded(ours, data, limit)
    _ref, ours = _collision_pair({"srwv": srwv, "srr": srr})
    _bounded_matches_unbounded(ours, data, limit)


class _Sum(MapReduce):
    combine = True

    def mapper(self, item):
        yield item

    def reducer(self, key, values):
        return key, sum(values)


@LIMITS
@FUZZ
@given(data=TUPLES2)
@example(data=[("a", 1)] * 9 + [("b", 2), ("a", 3)])
def test_flush_combine(spark, limit, data):
    _bounded_matches_unbounded(_Sum(), data, limit)


class _CountPartials(_Sum):
    """Not associative: the output counts the partials the reduce side
    receives, so it shows where the combine dict flushed."""

    input_partitions = 1

    def reducer(self, key, values):
        return key, len(values)


def test_chunk_limit_reaches_executor_tasks(spark):
    task = _CountPartials()
    task.local_threshold = 0
    data = [("a", 1)] * 6
    assert task(data) == {"a": 1}
    with mock.patch.object(mapreduce, "_CHUNK_LIMIT", 1):
        assert task(data) == {"a": 6}
