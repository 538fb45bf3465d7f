"""Differential fuzzing: OUR engine vs THE REFERENCE ITSELF.

The reference implementation (tinymr.py) is imported when it is
importable (read-only, as a behavioral oracle — no code is copied) and
every hypothesis-generated dataset x sort-configuration is run through
both engines; outputs must be IDENTICAL, including result key order
(first encounter), within-key value order (the sort matrix of SURVEY.md
§2.1), tie order (stability, also under reverse), and first-wins
collision resolution for return-style reducers.

Without the reference, the same fuzz runs with our in-process local
path (`LocalOracle`, pinned to `local_threshold = 10**9`) as the oracle
for the distributed path — the Spark lowering is the path that can
diverge, and the local path is itself pinned to the reference's
semantics by the parity suites.

Excluded by construction: empty input (the reference raises
StopIteration, we return the empty result — the documented deviation,
covered by tests/test_mapreduce_api.py).
"""

from __future__ import annotations

import sys

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tinymr_spark import MapReduce as OurMR

sys.path.insert(0, "/root/reference")
try:
    import tinymr as reference  # noqa: E402

    RefMR = reference.MapReduce
except ImportError:

    class LocalOracle(OurMR):
        """Our in-process path, whatever local_threshold the fixture sets."""

        local_threshold = 10**9

    RefMR = LocalOracle


@pytest.fixture(params=["local", "distributed"], autouse=True)
def exec_mode(request, monkeypatch):
    """Fuzz BOTH execution paths against the reference: the in-process
    small-input fast path and the RDD lowering (local_threshold=0 forces
    every input through Spark regardless of size)."""
    monkeypatch.setattr(
        OurMR, "local_threshold", 10**9 if request.param == "local" else 0
    )
    return request.param


KEYS = st.sampled_from(["a", "b", "c", "d"])
SORTS = st.integers(min_value=0, max_value=3)  # small range -> many ties
VALS = st.integers(min_value=0, max_value=99)

TUPLES3 = st.lists(st.tuples(KEYS, SORTS, VALS), min_size=1, max_size=30)
TUPLES2 = st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=30)
FLAG = st.booleans()


def _passthrough_pair(flags):
    """Build (reference_task, our_task) with identical user code."""

    def mk(base):
        class T(base):
            sort_map_with_value = flags.get("smwv", False)
            sort_map_reverse = flags.get("smr", False)
            sort_reduce_with_value = flags.get("srwv", False)
            sort_reduce_reverse = flags.get("srr", False)

            def mapper(self, item):
                yield item

            def reducer(self, key, values):
                yield key, list(values)

            def output(self, mapping):
                return {k: list(v) for k, v in mapping.items()}

        return T

    return mk(RefMR)(), mk(OurMR)()


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=TUPLES3, smwv=FLAG, smr=FLAG)
def test_sort_matrix_3tuples(spark, data, smwv, smr):
    ref, ours = _passthrough_pair({"smwv": smwv, "smr": smr})
    assert list(ours(data).items()) == list(ref(data).items())


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=TUPLES2, smwv=FLAG, smr=FLAG)
def test_sort_matrix_2tuples(spark, data, smwv, smr):
    ref, ours = _passthrough_pair({"smwv": smwv, "smr": smr})
    assert list(ours(data).items()) == list(ref(data).items())


def _collision_pair(flags):
    """Return-style reducer that re-keys everything to one output key:
    exercises the second partition round and the first-wins collision
    rule (reference tinymr.py:223-227), whose winner depends on the
    reduce-sort configuration."""

    def mk(base):
        class T(base):
            sort_reduce_with_value = flags.get("srwv", False)
            sort_reduce_reverse = flags.get("srr", False)

            def mapper(self, item):
                yield item

            def reducer(self, key, values):
                return ("all", min(values))

            def output(self, mapping):
                return dict(mapping)

        return T

    return mk(RefMR)(), mk(OurMR)()


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=TUPLES2, srwv=FLAG, srr=FLAG)
def test_collision_first_wins(spark, data, srwv, srr):
    ref, ours = _collision_pair({"srwv": srwv, "srr": srr})
    assert list(ours(data).items()) == list(ref(data).items())


def _rekey_pair(flags, width):
    """Return-style reducer that re-keys onto a few output keys: many
    input keys collide on each output key, so the first-wins winner and
    each output key's first encounter (losers included) both matter."""

    def mk(base):
        class T(base):
            sort_reduce_with_value = flags["srwv"]
            sort_reduce_reverse = flags["srr"]

            def mapper(self, item):
                yield item

            def reducer(self, key, values):
                m = min(values)
                return (m % 3, m) if width == 2 else (m % 3, m % 2, key)

            def output(self, mapping):
                return dict(mapping)

        return T

    return mk(RefMR)(), mk(OurMR)()


@pytest.mark.parametrize("width", [2, 3])
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=TUPLES2, srwv=FLAG, srr=FLAG)
@example(data=[("a", 6), ("b", 1), ("c", 0)], srwv=False, srr=False)
@example(data=[("a", 6), ("b", 1), ("c", 0)], srwv=True, srr=False)
@example(data=[("a", 6), ("b", 1), ("c", 0)], srwv=False, srr=True)
@example(data=[("a", 6), ("b", 1), ("c", 0)], srwv=True, srr=True)
def test_multi_key_collisions(spark, width, data, srwv, srr):
    ref, ours = _rekey_pair({"srwv": srwv, "srr": srr}, width)
    assert list(ours(data).items()) == list(ref(data).items())


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=TUPLES3, smr=FLAG, srr=FLAG)
def test_two_stage_regroup(spark, data, smr, srr):
    """Reducer re-keys by sort value — output of round 1 is regrouped
    (O9) and re-sorted per the reduce flags in both engines."""

    def mk(base):
        class T(base):
            sort_map_reverse = smr
            sort_reduce_reverse = srr

            def mapper(self, item):
                yield item

            def reducer(self, key, values):
                for i, v in enumerate(values):
                    yield (v % 2, i, (key, v))

            def output(self, mapping):
                return {k: list(v) for k, v in mapping.items()}

        return T

    ref, ours = mk(RefMR)(), mk(OurMR)()
    assert list(ours(data).items()) == list(ref(data).items())


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=TUPLES3, smwv=FLAG, smr=FLAG)
def test_against_pooled_reference(spark, data, smwv, smr):
    """The reference's POOLED path (mapper_map/reducer_map, O15's
    serialization wrappers) must agree with our engine's live-pool
    execution — both run the user's pool callables, same results."""
    from multiprocessing.dummy import Pool

    ref, ours = _passthrough_pair({"smwv": smwv, "smr": smr})
    with Pool(4) as pool:
        expected = ref(data, mapper_map=pool.map, reducer_map=pool.map)
        got = ours(data, mapper_map=pool.map, reducer_map=pool.map)
    assert list(got.items()) == list(expected.items())


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=TUPLES2)
def test_combine_matches_reference(spark, data):
    """combine=True (our map-side-combine lowering, reduceByKey-style
    partial aggregation — no reference counterpart) must be INVISIBLE:
    for an associative+commutative return-style reducer the output dict,
    including key order, equals the reference's plain path."""

    def mk(base, **extra):
        class T(base):
            def mapper(self, item):
                yield item

            def reducer(self, key, values):
                return key, sum(values)

        for k, v in extra.items():
            setattr(T, k, v)
        return T

    ref_out = mk(RefMR)()(list(data))
    our_out = mk(OurMR, combine=True)()(list(data))
    assert list(our_out.items()) == list(ref_out.items())
