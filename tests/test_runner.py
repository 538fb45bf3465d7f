"""tools/runner.py: the one query runner and the one copy-stager behind
bench.py and the scale probes, plus an import check of every tool (no
test runs the probes themselves)."""

from __future__ import annotations

import importlib
import importlib.util
import os
import uuid
from pathlib import Path

import pytest

from tools.runner import stage_copies, time_query

TOOLS = sorted(p.stem for p in (Path(__file__).resolve().parents[1] / "tools").glob("*.py"))


class _FakeContext:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, value):
        self.descriptions.append(value)


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


class _FakeFrame:
    def __init__(self):
        self.counts = 0

    def count(self):
        self.counts += 1
        return 0


def test_time_query_one_build_and_one_action_per_pass():
    spark = _FakeSpark()
    built = []

    def fn(s, sf_dir):
        assert s is spark
        built.append(_FakeFrame())
        return built[-1]

    pairs = time_query(spark, "q1_x", fn, "sf", reps=3)
    assert len(pairs) == 3
    assert all(b >= 0 and a >= 0 for b, a in pairs)
    assert [df.counts for df in built] == [1, 1, 1]  # default action: count()
    assert spark.sparkContext.descriptions == ["q1_x", None] * 3

    seen = []
    assert len(time_query(spark, "q1_x", fn, "sf", action=seen.append)) == 1
    assert seen == [built[-1]] and built[-1].counts == 0


@pytest.mark.parametrize("fails_in", ["build", "action"])
def test_time_query_clears_description_when_query_raises(fails_in):
    spark = _FakeSpark()

    def fn(s, sf_dir):
        if fails_in == "build":
            raise RuntimeError("boom")
        return _FakeFrame()

    def action(df):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        time_query(spark, "q2_y", fn, "sf", reps=2, action=action)
    assert spark.sparkContext.descriptions == ["q2_y", None]


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")


def test_stage_copies_stages_once_per_source_version(spark, tmp_path):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tinymr_spark.sources import load_table, staging_root

    src = tmp_path / "sf"
    src.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 3]}), src / "facts.parquet")
    pq.write_table(pa.table({"d": [7]}), src / "dim.parquet")
    calls = []

    def offset(df, i):
        calls.append(i)
        return df.withColumn("k", df.k + 100 * i)

    kind = f"tinymr_test_copies_{uuid.uuid4().hex[:8]}"
    tables = {"facts": offset, "dim": None}
    try:
        out = stage_copies(spark, kind, str(src), 2, tables)
        assert os.path.dirname(os.path.dirname(out)) == staging_root(f"{kind}_2x")
        staged = sorted(r.k for r in load_table(spark, out, "facts").collect())
        assert staged == [1, 2, 3, 101, 102, 103]
        assert (Path(out) / "dim.parquet").read_bytes() == (src / "dim.parquet").read_bytes()
        assert calls == [0, 1]

        # same source versions: served as staged, nothing rewritten
        assert stage_copies(spark, kind, str(src), 2, tables) == out
        assert calls == [0, 1]

        # a rewritten source restages from scratch
        pq.write_table(pa.table({"k": [1, 2, 3, 4]}), src / "facts.parquet")
        out = stage_copies(spark, kind, str(src), 2, tables)
        assert calls == [0, 1, 0, 1]
        assert load_table(spark, out, "facts").count() == 8
    finally:
        shutil.rmtree(staging_root(f"{kind}_2x"), ignore_errors=True)


def test_stage_copies_restages_on_transform_code_or_repartition(spark, tmp_path):
    """The staged copies are keyed by the code of each transform and by
    `repartition`, not only by the source versions: an edited transform
    module (a new process sees the new file hash) or a new file count
    restages instead of serving the old copies."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tinymr_spark import sources
    from tinymr_spark.sources import load_table, staging_root

    src = tmp_path / "sf"
    src.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 3]}), src / "facts.parquet")
    mod_path = tmp_path / f"copy_transform_{uuid.uuid4().hex[:8]}.py"

    def transform(offset: int):
        mod_path.write_text(
            "def offset(df, i):\n"
            f"    return df.withColumn('k', df.k + {offset} * i)\n"
        )
        spec = importlib.util.spec_from_file_location(f"{mod_path.stem}_{offset}", mod_path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.offset

    def staged_keys(out):
        return sorted(r.k for r in load_table(spark, out, "facts").collect())

    kind = f"tinymr_test_copies_{uuid.uuid4().hex[:8]}"
    try:
        out = stage_copies(spark, kind, str(src), 2, {"facts": transform(100)})
        assert staged_keys(out) == [1, 2, 3, 101, 102, 103]

        edited = transform(1000)
        sources._file_hash.cache_clear()  # the hash is read once per process
        out2 = stage_copies(spark, kind, str(src), 2, {"facts": edited})
        assert out2 != out, "edited transform served the old copies"
        assert staged_keys(out2) == [1, 2, 3, 1001, 1002, 1003]

        out3 = stage_copies(spark, kind, str(src), 2, {"facts": edited}, repartition=2)
        assert out3 != out2, "a new repartition served the old copies"
        assert len(list((Path(out3) / "facts.parquet").glob("*.parquet"))) == 2
        assert staged_keys(out3) == [1, 2, 3, 1001, 1002, 1003]
    finally:
        shutil.rmtree(staging_root(f"{kind}_2x"), ignore_errors=True)
