"""MapReduce tasks written the way a user of the library writes them,
with the in-process references their outputs are checked against."""

from __future__ import annotations

from collections import Counter
from functools import reduce
from operator import add

from tinymr_spark import MapReduce


class WordCount(MapReduce):
    combine = True

    def mapper(self, line):
        for word in line.split():
            yield (word, 1)

    def reducer(self, key, values):
        return (key, sum(values))


class WordCountNoCombine(WordCount):
    combine = False


class SecondarySort(MapReduce):
    """`(key, sort, value)` triples; each key's values come back ordered
    by `(sort, value)`."""

    @property
    def sort_map_with_value(self):
        return True

    def mapper(self, item):
        yield item

    def reducer(self, key, values):
        return (key, list(values))


class OverloadedCombine(MapReduce):
    """The docs' manual combine idiom: every line pre-aggregated into a
    Counter, all records overloaded onto one key."""

    def mapper(self, line):
        yield None, Counter(line.split())

    def reducer(self, key, values):
        return key, reduce(add, values)


def word_counts(lines) -> dict:
    return dict(Counter(w for line in lines for w in line.split()))


def sorted_groups(triples) -> dict:
    groups: dict = {}
    for k, s, v in triples:
        groups.setdefault(k, []).append((s, v))
    return {k: [v for _s, v in sorted(p)] for k, p in groups.items()}
