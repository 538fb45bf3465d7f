"""The minitable change decoder `_commit_changes`, table-driven over every
commit kind under both contracts (row-level and append-only).  Pure:
hand-written records over a hand-written predecessor state, no JVM."""

from __future__ import annotations

import pytest

from tinymr_spark.sources.minitable import FileChange, _commit_changes, _State

# the state AS OF v-1: three live files, `b` already carries a vector,
# column `d` has an existence default and a mapped physical name
PREV = _State(
    entries=[("a", None), ("b", None), ("c", None)],
    schema={
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "d", "type": "long", "nullable": True,
             "metadata": {"default": 7}},
        ],
    },
    dvs={"b": "dv-old"},
    constraints={},
    colmap={"k": "k", "d": "col-d"},
    partition_by=None,
    cluster_by=None,
    identity_hwm={},
)

PRED = [["k", "<", 3]]

# (name, record, row-level changes, append-only changes); a string in
# place of a list names the refusal rule the decoder must return
CASES = [
    ("append", {"action": "append", "added": ["x", "y"]},
     [FileChange("x", "insert"), FileChange("y", "insert")],
     [FileChange("x", "insert"), FileChange("y", "insert")]),
    ("empty append", {"action": "append", "added": []}, [], []),
    ("optimize", {"action": "overwrite", "added": ["z"], "data_change": False},
     [], []),
    ("meta", {"action": "meta", "added": [], "data_change": False}, [], []),
    ("no-op merge", {"action": "merge", "added": [], "removed": []}, [], []),
    ("cdf merge",
     {"action": "merge", "added": ["n"], "removed": ["a"], "cdf": ["c1", "c2"]},
     [FileChange("c1", "cdf"), FileChange("c2", "cdf")],
     "rewrite"),
    ("cdf beats predicate",
     {"action": "merge", "added": ["n"], "removed": ["a"], "cdf": ["c1"],
      "predicate": PRED},
     [FileChange("c1", "cdf")],
     "rewrite"),
    ("predicate delete",
     {"action": "merge", "added": ["s"], "removed": ["b", "a"], "predicate": PRED},
     [FileChange("b", "delete", "dv-old", predicate=PRED, defaults={"col-d": 7}),
      FileChange("a", "delete", None, predicate=PRED, defaults={"col-d": 7})],
     "rewrite"),
    ("dv delete",
     # c drops whole; b is MATERIALIZED (removed and re-vectored); a gets
     # its first vector
     {"action": "dv", "added": ["b2"], "removed": ["c", "b"],
      "dv": {"b": "dv-new", "a": "dv-new"}},
     [FileChange("c", "delete", None),
      FileChange("a", "delete", None, "dv-new"),
      FileChange("b", "delete", "dv-old", "dv-new")],
     "rewrite"),
    ("dv whole drop", {"action": "dv", "added": [], "removed": ["b"]},
     [FileChange("b", "delete", "dv-old")],
     "rewrite"),
    ("overwrite", {"action": "overwrite", "added": ["o"]}, "overwrite", "rewrite"),
    ("merge without predicate or cdf",
     {"action": "merge", "added": ["m"], "removed": ["a"]},
     "neither", "rewrite"),
]

# every substring the suite pins on each rule's message, from either face
PINS = {
    "overwrite": ["overwrite", "fresh checkpoint"],
    "neither": ["neither", "neither a recorded predicate", "collect_cdf"],
    "rewrite": ["rewritten", "stream over rewritten files"],
}


def _check(got, want, rec):
    if isinstance(want, list):
        assert got == want
        return
    assert len(got) == 1, got  # a refusal is ONE admission slot
    (refused,) = got
    assert refused.file is None and refused.kind == "refused", refused
    assert "version 5 " in refused.refusal, refused.refusal
    for pin in PINS[want]:
        assert pin in refused.refusal, (pin, refused.refusal)
    if want == "rewrite":  # the append-only text names the action
        assert rec["action"] in refused.refusal, refused.refusal


@pytest.mark.parametrize("name,rec,row_level,append_only", CASES,
                         ids=[c[0] for c in CASES])
def test_commit_changes_table(name, rec, row_level, append_only):
    _check(_commit_changes(PREV, 5, rec, row_level=True), row_level, rec)
    _check(_commit_changes(PREV, 5, rec, row_level=False), append_only, rec)


def test_commit_changes_one_text_per_rule():
    """Each refusal rule has exactly one message shape: the same rule
    on two commits differs only in the version and action it names."""
    texts = {}
    for name, rec, row_level, append_only in CASES:
        for want, flag in ((row_level, True), (append_only, False)):
            if isinstance(want, str):
                (refused,) = _commit_changes(PREV, 5, rec, row_level=flag)
                texts.setdefault(want, set()).add(
                    refused.refusal.replace(rec["action"], "<action>")
                )
    assert {rule: len(t) for rule, t in texts.items()} == {
        "overwrite": 1, "neither": 1, "rewrite": 1,
    }, texts

