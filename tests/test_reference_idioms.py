"""The doctested idioms of the reference (SURVEY.md §2.2) that aren't
covered elsewhere: top-k finalize (I2), round-robin re-keying (I5),
multi-file ingest (I8), custom finalization (I9)."""

from __future__ import annotations

import itertools as it
from collections import Counter

from tinymr_spark import MapReduce

TEXT = ["b a a", "c b a", "c a"]


class TopKWordCount(MapReduce):
    """I2: Counter.most_common in output() (docs.rst:57-58, :158-159)."""

    def __init__(self, k):
        self.k = k

    def mapper(self, item):
        for w in item.split():
            yield (w, 1)

    def reducer(self, key, values):
        return (key, sum(values))

    def output(self, mapping):
        return Counter(mapping).most_common(self.k)


def test_topk_output_idiom(spark):
    assert TopKWordCount(2)(TEXT) == [("a", 4), ("b", 2)]


class RoundRobin(MapReduce):
    """I5: bound reducer-call parallelism by cycling keys
    (docs.rst:389-394).  On Spark the idiom still works — each synthetic
    key becomes one reducer call."""

    def __init__(self, n):
        self.cycle = it.cycle(range(n))

    def mapper(self, item):
        return (next(self.cycle), item)

    def reducer(self, key, values):
        return (key, sorted(values))


def test_round_robin_rekeying(spark):
    result = RoundRobin(2)(list(range(10)))
    assert set(result) == {0, 1}
    assert sorted(result[0] + result[1]) == list(range(10))


class ScalarUnwrap(MapReduce):
    """I9: single-scalar finalize (docs.rst:267-268)."""

    def mapper(self, item):
        yield (None, item)

    def reducer(self, key, values):
        return (key, sum(values))

    def output(self, mapping):
        return mapping[None]


def test_scalar_unwrap(spark):
    assert ScalarUnwrap()([1, 2, 3, 4]) == 10


def test_multifile_ingest(spark, tmp_path):
    """I8: the reference's mapper opened file paths itself
    (docs.rst:343-347); here the scan is the engine's (spark.read.text
    over many files), and the word count runs on the lines."""
    for i in range(3):
        (tmp_path / f"part{i}.txt").write_text("alpha beta\nbeta gamma\n")
    df = spark.read.text(str(tmp_path))
    lines = df.rdd.map(lambda r: r.value)

    class WC(MapReduce):
        combine = True

        def mapper(self, item):
            for w in item.split():
                yield (w, 1)

        def reducer(self, key, values):
            return (key, sum(values))

    assert WC()(lines) == {"alpha": 3, "beta": 6, "gamma": 3}
