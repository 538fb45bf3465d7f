"""Stage counts of the two MapReduce execution shapes.

``MapReduce.__call__`` collects its result, so it runs the second
grouping round on the driver: one job of two stages (map + shuffle +
reduce).  ``to_rdd`` is the scale path and keeps the reference's second
barrier as a second ``groupByKey``: three stages.  Worker tasks after a
MapReduce call re-read no zip archive when PySpark's worker invalidates
the import caches."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipimport
from collections import Counter
from functools import reduce
from operator import add

import pytest

from tinymr_spark import MapReduce

LINES = ["a b a c", "b b d", "a e", "c c c a", "d e f"] * 4


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
    @property
    def sort_map_with_value(self):
        return True

    def mapper(self, item):
        yield item

    def reducer(self, key, values):
        return (key, list(values))


class OverloadedCombine(MapReduce):
    def mapper(self, line):
        yield None, Counter(line.split())

    def reducer(self, key, values):
        return key, reduce(add, values)


def _stages_per_job(sc, action):
    """Run ``action`` under a fresh job group; stage count of each job."""
    group = f"stage-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "stage count")
    try:
        action()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    return [len(tracker.getJobInfo(j).stageIds)
            for j in sorted(tracker.getJobIdsForGroup(group))]


INPUTS = {
    WordCount: LINES,
    WordCountNoCombine: LINES,
    SecondarySort: [(f"k{i % 5}", i % 3, i) for i in range(40)],
    OverloadedCombine: LINES,
}


@pytest.mark.parametrize("task", list(INPUTS), ids=lambda t: t.__name__)
def test_call_runs_one_job_of_two_stages(spark, task):
    sc = spark.sparkContext
    rdd = sc.parallelize(INPUTS[task], 3)
    assert _stages_per_job(sc, lambda: task()(rdd)) == [2]


def test_to_rdd_keeps_the_second_shuffle(spark):
    sc = spark.sparkContext
    rdd = sc.parallelize(LINES, 3)
    assert _stages_per_job(sc, lambda: WordCount().to_rdd(rdd).collect()) == [3]


def _zip_reads_per_invalidate(_rows):
    """In a worker task: the number of ``zipimport._read_directory`` calls
    one ``importlib.invalidate_caches()`` makes, and the number of zip
    importers it asks."""
    importers = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
    reads = 0
    read_directory = zipimport._read_directory

    def counting(archive):
        nonlocal reads
        reads += 1
        return read_directory(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    return [(reads, importers)]


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13+ invalidates zip caches lazily")
def test_worker_tasks_reread_no_zip_archive(spark):
    sc = spark.sparkContext
    WordCount()(sc.parallelize(LINES, 4))
    probe = sc.parallelize(range(4), 4).mapPartitions(_zip_reads_per_invalidate)
    counts = probe.collect()
    assert [reads for reads, _ in counts] == [0, 0, 0, 0]
    assert all(importers > 0 for _, importers in counts)
    # the driver keeps the stock method
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
