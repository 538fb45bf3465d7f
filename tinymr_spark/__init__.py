"""tinymr-spark: a PySpark-native analytics engine with tinymr's capabilities.

Two faces share one SparkSession:

1. ``tinymr_spark.MapReduce`` — a drop-in replacement for the reference's
   ``tinymr.MapReduce`` ABC (/root/reference/tinymr.py:27-230).  Same
   subclass contract (``mapper``/``reducer``/``output`` + four sort
   properties), same tuple IR, same sort/tie/collision semantics — but the
   shuffle is Spark's distributed shuffle instead of an in-memory
   ``defaultdict`` (/root/reference/tinymr.py:332-334), so datasets no
   longer need to fit in one process's RAM.

2. ``tinymr_spark.operators`` / ``functions`` / ``sources`` / ``streaming``
   — first-class DataFrame operators (joins, window functions, grouping
   sets, dedup, similarity search, text analysis, streaming windows) that
   the reference can only express as hand-written mapper/reducer code.
   These stay in Catalyst/Tungsten land for 100 TB-scale execution.
"""

from tinymr_spark.mapreduce import ElementCountError, MapReduce
from tinymr_spark.session import get_session

__all__ = ["ElementCountError", "MapReduce", "get_session", "__version__"]


def __getattr__(name: str):
    """Resolve ``__version__`` on first use (PEP 562).

    The installed version is resolved like the reference tinymr does;
    the in-tree version is the fallback when the package is just copied
    onto a path and has no metadata.
    The lookup scans every ``sys.path`` entry, which in a Spark worker
    means pyspark.zip, py4j and the spark-core jar, so it is not paid on
    import.
    """
    if name != "__version__":
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib.metadata

    try:
        version = importlib.metadata.version("tinymr-spark")
    except importlib.metadata.PackageNotFoundError:
        version = "0.1.0"
    globals()["__version__"] = version
    return version
