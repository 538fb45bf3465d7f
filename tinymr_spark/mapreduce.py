"""Distributed MapReduce with the reference's exact task contract.

This module re-expresses the API + semantics of the reference engine
(/root/reference/tinymr.py — the whole engine is that one file) on top of
Spark RDDs.  The contract being preserved, with reference citations:

* Subclass surface: abstract ``mapper()`` / ``reducer()``, overridable
  ``output()``, four boolean sort properties
  (/root/reference/tinymr.py:39-154).
* Tuple IR: every inter-stage record is ``(key, value)`` or
  ``(key, sort, value)``; arity outside {2, 3} raises
  ``ElementCountError`` (/root/reference/tinymr.py:301-308).  Validation
  runs executor-side on each partition's first map record and each
  reducer call's first emission (strictly more checking than the
  reference's single global peek, cost one ``len`` per partition/key);
  the parity adapter re-raises the original exception type driver-side.
* Yield/return duality: ``inspect.isgeneratorfunction`` on the *function*
  decides whether mapper/reducer output is flattened — a plain function
  returning an iterator is NOT flattened (/root/reference/tinymr.py:186,
  198, 214, 226).
* Sort matrix (/root/reference/tinymr.py:310-330, docs.rst:300-307):

  ===============  ==================  =====================
  tuple shape      sort_*_with_value   effective sort key
  ===============  ==================  =====================
  (key, value)     False               no sort
  (key, value)     True                value
  (key, s, value)  False               s
  (key, s, value)  True                (s, value)
  ===============  ==================  =====================

* Stable ties, including under ``reverse=True`` — ties keep first-encounter
  order (Python ``list.sort`` stability, /root/reference/tinymr.py:336-343).
  Spark shuffles do not guarantee arrival order, but records arrive in
  encounter order within a map partition, so each partition ships one
  chunk per key (its values in encounter order) tagged with one position,
  ``(partition_id, slot)``; within each key the chunks are put back in
  position order and concatenated, then stably sorted.
* Second round: reducer output is re-grouped (+ optionally re-sorted) by
  its own output keys; colliding output keys merge (reference
  tinymr.py:217-221).  ``__call__`` runs it on the driver over the
  collected reduced stream (one shuffle per call); ``to_rdd``/``to_df``
  run it as a second ``groupByKey``.
* Scalar extraction: return-style reducer output collapses each key's list
  to its first element — on collision only the first value (by sort order,
  else encounter order) survives (/root/reference/tinymr.py:223-227).
* Output ordering: result dict keys appear in first-encounter order of the
  reduced stream (/root/reference/tinymr.py:332-334 + dict semantics).

Deliberate deviations (documented in SURVEY.md §2.1 I11 / §7):

* Empty input returns ``output({})`` instead of leaking ``StopIteration``
  from the first-record peek (/root/reference/tinymr.py:301-303).  Exact
  parity is opt-in: set ``strict_empty = True`` on the subclass.
* ``mapper_map`` / ``reducer_map`` pool injection
  (/root/reference/tinymr.py:156-199): on a plain-sequence input an
  explicitly passed pool is HONORED — the task runs the reference's exact
  pooled flow in-process with the user's callables (including their side
  effects: logging, metering, imap chunking).  On an RDD input pools are
  accepted but ignored: Spark executors ARE the pool there, and
  parallelism is controlled with ``num_partitions`` / input partitioning.
  The bare ``map=`` argument is accepted and ignored in BOTH engines —
  the reference's own body never reads it (tinymr.py:156,196,209
  fall back to ``builtins.map``/``itertools.starmap`` directly), and
  matching that quirk beats matching its docstring.

Scale notes: the dict-returning ``__call__`` is the small-result parity
adapter: it collects the reduced stream (return-style reducers: one winner
per output key per partition) and groups it on the driver.  The 100 TB path
is ``to_rdd()`` (two shuffles), the final distributed ``RDD[(key, values)]``
without driver materialization; each key's value list must fit in one
executor — the same per-key contract the reference imposes process-wide
(tinymr.py:332-334).
"""

from __future__ import annotations

import abc
import re
from collections import defaultdict
from functools import partial
from inspect import isgeneratorfunction
from itertools import chain, islice
from operator import itemgetter

from pyspark.rdd import RDD

__all__ = ["ElementCountError", "MapReduce"]


class ElementCountError(Exception):
    """Raised when a record's element count is not 2 or 3.

    Mirrors /root/reference/tinymr.py:273-275.
    """


def _check_arity(record):
    """First-record arity validation (/root/reference/tinymr.py:305-308)."""
    n = len(record)
    if n not in (2, 3):
        raise ElementCountError(
            "Expected data of size 2 or 3, not {}. Example: {}".format(n, record)
        )
    return n


def _collect_reraising(rdd):
    """Collect, surfacing a task's ``ElementCountError`` as itself.

    Arity validation runs executor-side (no driver peek job), so Spark
    wraps the raise in its serialized-task exception; the parity adapter
    re-raises the original so callers see the reference's exception type
    (/root/reference/tinymr.py:273-275) with the original message."""
    try:
        return rdd.collect()
    except ElementCountError:
        raise
    except Exception as e:
        # Anchored on the fully-qualified class name at line start — the
        # exact form the embedded Python traceback prints — so a user
        # value whose repr merely CONTAINS "ElementCountError: " (inside
        # the "Example: {rec}" text, mid-line) can't be mis-wrapped.
        # Last match wins: with chained tracebacks the outermost (real)
        # raise is printed last.
        matches = re.findall(
            r"^tinymr_spark\.mapreduce\.ElementCountError: (.*)$",
            str(e),
            re.MULTILINE,
        )
        if matches:
            raise ElementCountError(matches[-1]) from None
        raise


def _check_pair(rec):
    """The combine path's arity guard: combine=True requires (key, value)
    records — a sort element would trigger the map-round sort the
    combine skips."""
    if len(rec) != 2:
        raise ElementCountError(
            "combine=True requires (key, value) records; "
            "got arity {}. Example: {}".format(len(rec), rec)
        )
    return 2


def _checked_head(it, check):
    """``(check(first_record), records)`` with the first record put back,
    or ``(None, records)`` for an empty stream: the one arity check per
    partition (executor-side — no driver peek job), per local stream or
    per local reducer call."""
    it = iter(it)
    for rec in it:
        return check(rec), chain((rec,), it)
    return None, it


def _checked_one(rec):
    _check_arity(rec)
    return rec


def _pool_wrap_mapper(item, mapper):
    """Pool-serialization wrapper for generator mappers: expands the
    generator so a process pool can pickle the results back — the twin of
    /root/reference/tinymr.py:233-251 (module-level + partial, so it
    survives pickling into a ProcessPoolExecutor)."""
    return tuple(mapper(item))


def _pool_wrap_reducer(key_values, reducer):
    """Like ``_pool_wrap_mapper`` for the reduce phase
    (/root/reference/tinymr.py:254-269)."""
    return tuple(reducer(*key_values))


def _checked_tuple(records):
    """Arity-check the first record of one pooled reducer call's
    materialized output — the pooled twin of ``_checked_head``."""
    if records:
        _check_arity(records[0])
    return records


#: Payloads one map or combine partition holds in its dict before the map
#: round flushes its chunks or the combine folds or flushes its partials,
#: so the dict stays bounded ahead of ``groupByKey``'s spillable merger.
#: Bound into each task on the driver, so every executor uses this value.
_CHUNK_LIMIT = 1 << 16


def _sort_key(has_sort, sort_with_value):
    """The sort-matrix key over one payload that ends in ``(s, v)`` or
    ``v`` — a triple record ``(k, s, v)``, a shuffled ``(idx, s, v)`` or
    ``(idx, v)`` — so ``p[-2]``/``p[-1]`` fit every shape; ``None`` for
    no sort."""
    if has_sort:
        if sort_with_value:
            return itemgetter(-2, -1)  # (sort, value)  [tinymr.py:327-328]
        return itemgetter(-2)  # sort element only  [tinymr.py:329-330]
    if sort_with_value:
        return itemgetter(-1)  # 2-tuples: by value  [tinymr.py:320-323]
    return None


def _sorted_values(arity, payloads, sort_with_value, reverse):
    """One key's payloads, given in encounter order, as its ordered value
    list: one stable sort by the matrix key.  A pair stream's payloads
    are its values (sorted by themselves under ``sort_with_value``); a
    triple stream's are its whole records."""
    if arity == 2:
        if sort_with_value:
            payloads.sort(reverse=reverse)
        return payloads
    payloads.sort(key=_sort_key(True, sort_with_value), reverse=reverse)
    return [rec[2] for rec in payloads]


def _local_group_and_sort(stream, sort_with_value, reverse, check=_check_arity):
    """In-process twin of the distributed map round, for the local fast
    path and for the second round of both call paths: an
    insertion-ordered dict gives first-encounter key order and each key's
    payloads in encounter order — the payloads ``_chunk_partition``
    ships.  ``check`` validates the first record (``_check_pair`` holds
    a combine task to its pairs contract on every path).  Returns
    ``{key: [value, ...]}`` or ``None`` for an empty stream."""
    arity, stream = _checked_head(stream, check)
    if arity is None:
        return None
    groups = defaultdict(list)
    if arity == 2:
        for k, v in stream:
            groups[k].append(v)
    else:
        for rec in stream:
            groups[rec[0]].append(rec)
    return {
        k: _sorted_values(arity, payloads, sort_with_value, reverse)
        for k, payloads in groups.items()
    }


def _chunk_partition(pid, it, limit):
    """One partition of the map round as per-key chunks
    ``(key, ((pid, slot), arity, payloads))``: a key's payloads in
    encounter order, at its insertion slot in the partition's dict.
    Records arrive in encounter order within a partition, so a chunk's
    position orders it against the key's other chunks with no per-record
    index.  A pair's payload is its value, a triple's the whole record
    (``_sorted_values``).  The dict flushes its chunks after ``limit``
    payloads and slots carry on from ``base``, so a key flushed twice
    gets two chunks in order.  The first record is arity-checked."""
    arity, it = _checked_head(it, _check_arity)
    if arity is None:
        return
    base = 0
    while True:
        chunks = defaultdict(list)
        if arity == 2:
            for k, v in islice(it, limit):
                chunks[k].append(v)
        else:
            for rec in islice(it, limit):
                chunks[rec[0]].append(rec)
        if not chunks:
            return
        for slot, (k, payloads) in enumerate(chunks.items(), base):
            yield (k, ((pid, slot), arity, payloads))
        base += len(chunks)


def _finish_chunks(chunks, sort_with_value, reverse):
    """One key's shuffled map chunks as ``(first_position, [value, ...])``:
    the chunks in position order (Spark shuffle arrival order is
    nondeterministic), their payloads concatenated into encounter order,
    then one stable sort by the matrix key."""
    chunks = sorted(chunks, key=itemgetter(0))
    first, arity, payloads = chunks[0]
    if len(chunks) > 1:
        payloads = [p for chunk in chunks for p in chunk[2]]
    return first, _sorted_values(arity, payloads, sort_with_value, reverse)


def _kv_shape(t):
    """Map an ``(idx, record)`` pair to ``(key, payload)`` for the group
    shuffle, reading the 2-vs-3-tuple shape off the record itself."""
    rec = t[1]
    if len(rec) == 3:
        # (k, s, v) -> key=k, payload=(idx, s, v)   [tinymr.py:313-314]
        return (rec[0], (t[0], rec[1], rec[2]))
    return (rec[0], (t[0], rec[1]))


def _order_payloads(payloads, sort_with_value, reverse):
    """Order one key's payloads: encounter order restored first (Spark
    shuffle arrival order is nondeterministic), then one stable sort by
    the matrix key.  Returns ``(first_idx, ordered_payloads)``."""
    lst = sorted(payloads, key=lambda p: p[0])  # restore encounter order
    first_idx = lst[0][0]
    sort_key = _sort_key(len(lst[0]) == 3, sort_with_value)
    if sort_key is not None:
        lst.sort(key=sort_key, reverse=reverse)
    return first_idx, lst


def _finish_group(payloads, sort_with_value, reverse):
    """One key's shuffled payloads as ``(first_idx, [value, ...])``."""
    first_idx, lst = _order_payloads(payloads, sort_with_value, reverse)
    return (first_idx, [p[-1] for p in lst])


def _partition_winners(it, sort_with_value, reverse):
    """Keep, per output key of one partition of a return-style reduced
    stream, the one record first-wins extraction keeps (reference
    tinymr.py:223-227), as ``(key_first_idx, winner_idx, record)``: a key's
    place is its first encounter among ALL its records, losers included;
    ties across partitions break by the winner's own index."""
    groups: dict = {}
    for key, payload in map(_kv_shape, it):
        groups.setdefault(key, []).append(payload)
    for key, payloads in groups.items():
        first_idx, lst = _order_payloads(payloads, sort_with_value, reverse)
        yield (first_idx, lst[0][0], (key,) + lst[0][1:])


def _merge_winners(rows):
    """Driver half of ``_partition_winners``: the winners as one record
    stream for ``_local_group_and_sort`` — keys in first-encounter order
    over all partitions, each key's winners in encounter order."""
    first: dict = {}
    for key_idx, _idx, rec in rows:
        first[rec[0]] = min(key_idx, first.get(rec[0], key_idx))
    rows.sort(key=lambda r: (first[r[2][0]], r[1]))
    return [rec for _key_idx, _idx, rec in rows]


def _run_reduce(kv, reducer, reducer_is_gen):
    """Apply the reducer to one grouped key, arity-checking the first
    emission and re-indexing outputs with a composite encounter index:
    keys in first-encounter order of the map round, then reducer-output
    order — exactly the serial iteration order of
    /root/reference/tinymr.py:209-215."""
    key, (first_idx, values) = kv
    if reducer_is_gen:
        for j, rec in enumerate(reducer(key, values)):
            if j == 0:
                _check_arity(rec)
            yield (first_idx + (j,), rec)
    else:
        rec = reducer(key, values)
        _check_arity(rec)
        yield (first_idx + (0,), rec)


def _combine_partition(pid, it, reducer, limit):
    """Pre-reduce one partition for the map-side combine lowering: one
    partial per key, ``(key, ((pid, slot), partial))``, at the key's
    insertion slot as in ``_chunk_partition``.  When the dict holds
    ``limit`` values it folds each key's values into one partial (the
    associativity ``combine`` requires), unless its keys alone fill more
    than half of ``limit``: then it emits its partials and starts over,
    slots carrying on."""
    _, it = _checked_head(it, _check_pair)
    acc: dict = {}
    base = held = 0
    for k, v in it:
        values = acc.get(k)
        if values is None:
            acc[k] = [v]
        else:
            values.append(v)
        held += 1
        if held >= limit:
            if 2 * len(acc) <= limit:
                for key, vals in acc.items():
                    vals[:] = [reducer(key, vals)[-1]]
                held = len(acc)
            else:
                yield from _partials(pid, base, acc, reducer)
                base += len(acc)
                acc = {}
                held = 0
    yield from _partials(pid, base, acc, reducer)


def _partials(pid, base, acc, reducer):
    """The combine dict's keys as ``(key, ((pid, slot), partial))``."""
    for slot, (k, values) in enumerate(acc.items(), base):
        yield (k, ((pid, slot), reducer(k, values)[-1]))


def _flatten_kv(kv):
    """Explode one ``(key, values)`` result row for ``to_df``: a list
    (yield-style reducer) becomes one row per value, a scalar
    (return-style) one row."""
    if isinstance(kv[1], list):
        return [(kv[0], v) for v in kv[1]]
    return [(kv[0], kv[1])]


def _group_and_sort(pairs, finish, num_partitions):
    """Distributed equivalent of ``_partition_and_sort``
    (/root/reference/tinymr.py:278-345).

    One ``groupByKey`` shuffle of ``pairs``, then ``finish`` orders each
    key's group into ``(first_position, [value, ...])``, the value list in
    the reference's per-key order; ``first_position`` lets downstream
    stages reproduce first-encounter key ordering.

    Each caller brings its own grouping unit: the map round ships one
    chunk per key per partition (``_chunk_partition`` /
    ``_finish_chunks``), the combine one partial per key per partition
    (``_combine_partition`` / ``_finish_group``), and ``to_rdd``'s second
    round one payload per reduced record (``_kv_shape`` /
    ``_finish_group``), whose reduced stream is not in encounter order
    within a partition.  The 2-vs-3-tuple shape is read off the records
    executor-side, so no peek job is needed; arity is uniform per stream
    (mixed arity is UB, exactly as in the reference — tinymr.py:301-308).

    The per-partition / per-group callables are module-level functions,
    not closures: they pickle by reference into the task binary, and the
    coverage gate can exercise them in-process (executor-side line
    events are invisible to a driver-side tracer)."""
    grouped = (
        pairs.groupByKey(num_partitions) if num_partitions else pairs.groupByKey()
    )
    return grouped.mapValues(finish)


class MapReduce(abc.ABC):
    """Distributed MapReduce task; subclass contract of
    /root/reference/tinymr.py:27-37.

    Subclassers implement ``mapper()`` and ``reducer()``; may override
    ``output()``, the four sort properties, ``__init__`` for parameters,
    and ``__enter__``/``__exit__`` for setup/teardown
    (/root/reference/docs.rst:188-195).  Instances are called with a
    sequence (any iterable, or an existing ``RDD``).
    """

    #: Shuffle parallelism for both grouping rounds (replaces the
    #: reference's pool-``map`` knobs, /root/reference/tinymr.py:166-173).
    num_partitions = None

    #: Partition count used when parallelizing a plain Python sequence.
    input_partitions = None

    #: Plain-sequence inputs at or below this many items execute
    #: in-process with identical semantics instead of through a Spark
    #: job: megabyte-scale lists cost milliseconds serially but seconds
    #: of job/shuffle fixed overhead distributed (the small-job analog of
    #: AQE's local-shuffle fallback).  0 disables the fast path; RDD
    #: inputs always run distributed.
    local_threshold = 10_000

    #: Opt-in exact empty-input parity: the reference peeks the first
    #: mapped record with ``next()``, so an EMPTY input escapes as
    #: ``StopIteration`` (/root/reference/tinymr.py:301-303).  The default
    #: here returns ``output({})`` — the saner contract — but a porting
    #: user whose code catches ``StopIteration`` can set this True to get
    #: the reference's behavior verbatim.
    strict_empty = False

    #: Opt-in map-side combining (the automated version of the reference's
    #: manual key-overloading idiom, /root/reference/docs.rst:199-283).
    #: Legal only when the reducer is ASSOCIATIVE over value-list splits:
    #: ``reducer(k, xs + ys) == reducer(k, [reducer(k, xs)[-1]] + ys)``,
    #: is return-style, emits ``(input_key, value)``, and no map-round
    #: sorting is requested.  The engine then pre-reduces each partition
    #: before the shuffle, so per-key value lists never materialize in
    #: full — the difference between shuffling O(rows) and O(keys) bytes.
    combine = False

    @abc.abstractmethod
    def mapper(self, item):
        """Emit 0..n ``(key, value)`` / ``(key, sort, value)`` tuples per
        input item; ``yield`` many or ``return`` exactly one
        (/root/reference/tinymr.py:39-59)."""
        raise NotImplementedError  # pragma: no cover

    @abc.abstractmethod
    def reducer(self, key, values):
        """Per ``(key, [values])`` emit 0..n tuples; same yield/return
        duality as ``mapper`` (/root/reference/tinymr.py:61-91).  ``values``
        is always a materialized ``list`` (/root/reference/tinymr.py:72-73).
        """
        raise NotImplementedError  # pragma: no cover

    def output(self, mapping):
        """Optionally transform the result before returning — "Anything!"
        (/root/reference/tinymr.py:93-114)."""
        return mapping

    # Sort knobs (/root/reference/tinymr.py:116-154).
    @property
    def sort_map_with_value(self):
        return False

    @property
    def sort_map_reverse(self):
        return False

    @property
    def sort_reduce_with_value(self):
        return False

    @property
    def sort_reduce_reverse(self):
        return False

    # ------------------------------------------------------------------
    # Execution
    # ------------------------------------------------------------------

    def _as_rdd(self, sequence, spark=None):
        from tinymr_spark.session import ensure_shipped, get_session

        if isinstance(sequence, RDD):
            # Task closures reference this module; ship the package in case
            # the RDD's context was created outside get_session().
            ensure_shipped(sequence.ctx)
            return sequence
        items = sequence if isinstance(sequence, (list, tuple)) else list(sequence)
        if not items:
            return None
        if spark is None:
            spark = get_session()
        ensure_shipped(spark)
        sc = spark.sparkContext
        n = self.input_partitions or min(len(items), sc.defaultParallelism)
        return sc.parallelize(items, n)

    def _reduced(self, rdd):
        """Build map -> group -> reduce LAZILY; returns the reduced stream
        ``RDD[(composite_idx, record)]``.  No driver-side peeks: arity is
        validated executor-side on each partition's first map record and
        each reducer call's first emission (re-raised as
        ``ElementCountError`` at the collecting action)."""
        mapper = self.mapper
        if isgeneratorfunction(self.mapper):
            mapped = rdd.flatMap(mapper)
        else:
            mapped = rdd.map(mapper)

        # Shuffle parallelism: explicit knob, else follow the input's split
        # count (a 100 TB scan with 10k splits gets 10k reducers; a tiny
        # 1-file input doesn't pay for 32 near-empty Python reduce tasks).
        n_parts = self.num_partitions or rdd.getNumPartitions()

        reducer = self.reducer
        reducer_is_gen = isgeneratorfunction(self.reducer)
        use_combine = (
            self.combine
            and not reducer_is_gen
            and not self.sort_map_with_value
        )
        # Positions = (partition_id, slot of the key's chunk or partial in
        # that partition): they compare like first-encounter order over a
        # global zipWithIndex (partitions hold contiguous input slices)
        # with no count job, no cached map output and no per-record tag.
        if use_combine:
            split = partial(_combine_partition, reducer=reducer, limit=_CHUNK_LIMIT)
            finish = partial(_finish_group, sort_with_value=False, reverse=False)
        else:
            split = partial(_chunk_partition, limit=_CHUNK_LIMIT)
            finish = partial(
                _finish_chunks,
                sort_with_value=self.sort_map_with_value,
                reverse=self.sort_map_reverse,
            )
        grouped = _group_and_sort(mapped.mapPartitionsWithIndex(split), finish, n_parts)

        return grouped.flatMap(
            partial(_run_reduce, reducer=reducer, reducer_is_gen=reducer_is_gen)
        )

    def _pipeline(self, rdd):
        """The scale path (``to_rdd``/``to_df``), built LAZILY: ``_reduced``
        plus the second round as a second ``groupByKey`` — the reference's
        two eager barriers (tinymr.py:196-230).  Returns
        ``RDD[(key, (first_idx, values))]`` with scalar extraction applied;
        empty streams simply collect to []."""
        grouped2 = _group_and_sort(
            self._reduced(rdd).map(_kv_shape),
            partial(
                _finish_group,
                sort_with_value=self.sort_reduce_with_value,
                reverse=self.sort_reduce_reverse,
            ),
            self.num_partitions or rdd.getNumPartitions(),
        )

        if not isgeneratorfunction(self.reducer):
            # {k: next(iter(v))} — first value survives collisions
            # (/root/reference/tinymr.py:223-227).
            grouped2 = grouped2.mapValues(lambda fv: (fv[0], fv[1][0]))
        return grouped2

    def to_rdd(self, sequence, spark=None):
        """Scale path: run the task, return ``RDD[(key, values)]`` without
        collecting.  ``values`` is a list (yield-style reducer) or a scalar
        (return-style).  Task errors (including arity validation) surface
        at the caller's first action, as with any lazy RDD."""
        rdd = self._as_rdd(sequence, spark)
        if rdd is None:
            return None
        return self._pipeline(rdd).mapValues(lambda fv: fv[1])

    def to_df(self, sequence, spark=None, key_type: str = "string",
              value_type: str = "string"):
        """Scale path into the DataFrame face: run the task and return a
        ``DataFrame(key, value)`` with one row per reducer emission —
        never collected to the driver, so the result composes with any
        relational operator or write-sink (the 100 TB output contract;
        the reference's only output is an in-memory dict,
        /root/reference/tinymr.py:93-114).

        ``key_type``/``value_type`` are Spark DDL type strings; keys and
        values must be Spark-representable (plain Python scalars or
        lists), which the word-count-style tasks all satisfy.
        """
        from tinymr_spark.session import get_session

        rdd = self.to_rdd(sequence, spark)
        spark = spark or get_session()
        if rdd is None:
            return spark.createDataFrame([], f"key: {key_type}, value: {value_type}")
        flat = rdd.flatMap(_flatten_kv)
        return spark.createDataFrame(flat, f"key: {key_type}, value: {value_type}")

    def _finalize(self, mapping):
        """Final gate before ``output()``: under ``strict_empty``, an
        empty result raises ``StopIteration`` exactly where the reference
        leaks it — from the first-record peek of whichever partition
        round came up empty (/root/reference/tinymr.py:301-303), BEFORE
        ``output()`` runs.  Default mode passes the empty dict through."""
        if self.strict_empty and not mapping:
            raise StopIteration
        return self.output(mapping)

    def __call__(self, sequence, map=None, mapper_map=None, reducer_map=None, spark=None):
        """Execute; returns ``output(dict)`` like
        /root/reference/tinymr.py:156-230.

        An explicitly passed ``mapper_map``/``reducer_map`` pool is
        honored on plain-sequence inputs — the task runs the reference's
        exact pooled flow in-process through the user's callables — and
        ignored on RDD inputs, where Spark executors supply the
        parallelism.  ``map=`` is accepted and ignored, matching the
        reference's actual behavior (see module docstring).
        """
        if not isinstance(sequence, RDD):
            items = (
                sequence
                if isinstance(sequence, (list, tuple))
                else list(sequence)
            )
            if not items:
                return self._finalize({})
            if mapper_map is not None or reducer_map is not None:
                # Live pool execution: the user chose the pool as the
                # engine; running it anywhere else would discard the
                # pool callables' side effects.
                return self._run_local(
                    items, mapper_map=mapper_map, reducer_map=reducer_map
                )
            if self.local_threshold and len(items) <= self.local_threshold:
                return self._run_local(items)
            sequence = items
        rdd = self._as_rdd(sequence, spark)
        if rdd is None:
            # Defensive only: list inputs return on `not items` above and
            # RDD inputs pass through _as_rdd unchanged, so no __call__
            # input reaches here — but _as_rdd's contract allows None.
            return self._finalize({})  # pragma: no cover
        # One shuffle: the second round runs on the driver (module docstring).
        reduced = self._reduced(rdd)
        if isgeneratorfunction(self.reducer):
            rows = sorted(_collect_reraising(reduced), key=lambda t: t[0])
            stream = [rec for _idx, rec in rows]
        else:
            winners = reduced.mapPartitions(partial(
                _partition_winners, sort_with_value=self.sort_reduce_with_value,
                reverse=self.sort_reduce_reverse,
            ))
            stream = _merge_winners(_collect_reraising(winners))
        return self._second_round(stream)

    def _second_round(self, stream):
        """The second round in-process over the reduced stream in encounter
        order (reference tinymr.py:217-227), for both call paths."""
        grouped = _local_group_and_sort(
            stream, self.sort_reduce_with_value, self.sort_reduce_reverse
        )
        if grouped is None:
            return self._finalize({})
        if not isgeneratorfunction(self.reducer):
            # first value survives collisions (reference tinymr.py:223-227)
            grouped = {k: v[0] for k, v in grouped.items()}
        return self._finalize(grouped)

    def _run_local(self, items, mapper_map=None, reducer_map=None):
        """In-process execution of the identical contract — the sort
        matrix, stable ties, arity validation, second grouping round,
        and first-wins scalar extraction all behave exactly as the
        distributed lowering (differentially fuzzed against it and
        against the reference in tests/test_differential_reference.py).
        The combine contract is enforced here too, so a task's outcome
        never depends on which path its input size selected.

        ``mapper_map``/``reducer_map``, when given, carry each phase
        exactly as the reference does (/root/reference/tinymr.py:184-211):
        generator mappers and all pooled reducers go through the
        module-level serialization wrappers so process pools can pickle
        the calls, and the pool sees one call per item / per key.
        """
        reducer_is_gen = isgeneratorfunction(self.reducer)
        enforce_combine = (
            self.combine and not reducer_is_gen and not self.sort_map_with_value
        )
        if isgeneratorfunction(self.mapper):
            if mapper_map is not None:
                calls = mapper_map(
                    partial(_pool_wrap_mapper, mapper=self.mapper), items
                )
                mapped = (rec for recs in calls for rec in recs)
            else:
                mapped = (rec for item in items for rec in self.mapper(item))
        else:
            mapped = (mapper_map or map)(self.mapper, items)
        grouped = _local_group_and_sort(
            mapped, self.sort_map_with_value, self.sort_map_reverse,
            _check_pair if enforce_combine else _check_arity,
        )
        if grouped is None:
            return self._finalize({})

        if reducer_map is not None:
            calls = reducer_map(
                partial(_pool_wrap_reducer, reducer=self.reducer),
                list(grouped.items()),
            )
            if reducer_is_gen:
                reduced = (
                    rec for recs in calls for rec in _checked_tuple(recs)
                )
            else:
                # return-style: tuple(reducer(...)) IS the single record
                # (/root/reference/tinymr.py:254-269)
                reduced = (_checked_one(recs) for recs in calls)
        elif reducer_is_gen:
            reduced = (
                rec
                for key, values in grouped.items()
                for rec in _checked_head(
                    self.reducer(key, values), _check_arity
                )[1]
            )
        else:
            reduced = (
                _checked_one(self.reducer(key, values))
                for key, values in grouped.items()
            )
        return self._second_round(reduced)
