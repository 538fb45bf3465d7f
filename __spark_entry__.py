"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query (pricing summary, TPC-H Q1 shape) at sf0.001.
queries()     — every implemented operator from SURVEY.md §2 (+ §2.5
                extensions); full inventory in SURVEY.md §8: relational
                q01-q29+q85+q89+q139 (SQL incl. recursive CTE +
                SQL-defined scalar/table functions), text
                q30-q39+q86-q88+q101-q103+q109+q116+q125-q126+q145+q187,
                dedup q40-q41+q44-q49+q104+q106-q107+q118+q123+q127,
                similarity q50+q52+q54-q55+q57-q59+q111+q140+q147,
                graph q146 (iterative PageRank),
                multimodal q60-q62+q65-q69, pandas-UDF/UDTF
                q63-q64+q100+q119-q120+q129, events q70-q79+q108+q115+q154,
                MapReduce-face q80-q84, streaming
                q90-q99+q122+q124+q136+q138+q143+q149+q159+q163+q171+q205+q207,
                graph/iterative q146+q157-q158+q168-q169+q172+q175-q176,
                lakehouse (minitable) q162-q163+q167+q170+q173+
                q177-q203+q205-q207 (time travel, MERGE incl. schema
                evolution, UPDATE, DELETE incl. NULL-safe tiers,
                OPTIMIZE/ZORDER verbs with recorded cluster keys,
                data skipping + blooms, commit-log checkpoints, schema
                evolution + column mapping, change feed with removes,
                streaming CDC over the full DML history, stream admission
                control (startingVersion/maxFilesPerTrigger), incremental MV
                over the DML feed, zero-copy RESTORE, deletion-vector
                DELETE, CHECK constraints, generated/identity columns,
                ROW TRACKING, shallow clone), storage/scale
                q110+q112-q114+q117+q121+q128+q131-q135+q137+
                q141-q142+q144+q148+q150-q153+q155-q156+q160-q161.
                Retired near-duplicates were deleted; q47 and q55/q140/
                q159 build on the former q43 simhash and q53 LSH buckets
                as private helpers, checked through their own oracles.
oracle_sql()  — DuckDB twins for ALL of the above, including q104 since
                round 11 (the library MinHashLSH hash family re-derived
                from its seed via java.util.Random's LCG + straight-line
                murmur3 — dedup.py _ml_lsh_coefficients/_mm3_16_sql_ctes;
                a pytest recall gate runs on top).  Not-yet-driver-
                verified queries are fronted so the capped gate covers
                them first.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from tinymr_spark.operators.relational import q01_pricing_summary
    from tinymr_spark.session import ensure_shipped

    ensure_shipped(spark)
    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every callable ships the tinymr_spark package to executor Python
    workers first (addPyFile, idempotent per context): the harness owns
    the SparkSession, so module-referenced task closures (MapReduce
    subclasses, mapPartitions/applyInPandas functions) would otherwise
    hit ModuleNotFoundError on workers whose PYTHONPATH lacks this repo.
    """
    from tinymr_spark.operators import all_queries
    from tinymr_spark.session import ensure_shipped

    def _shipped(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_shipped(spark)
            # The harness owns this session: pin the two confs the
            # oracle comparison depends on (sources/__init__.py casts
            # TIMESTAMP_NTZ to LTZ, which is value-preserving only under
            # a UTC session timezone).
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
            return fn(spark, sf_dir)

        run.__name__ = getattr(fn, "__name__", "query")
        return run

    return {name: _shipped(fn) for name, fn in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    from tinymr_spark.operators import all_oracles

    return all_oracles()
