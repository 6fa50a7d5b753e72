"""PySpark-native analytics engine with the query & data-processing surface of
``Rakesh-b21/real-time-stock-market-data-pipeline`` (see SURVEY.md).

The reference is a Kafka→Postgres stock pipeline whose relational work is
hand-written SQL executed by PostgreSQL and whose time-series math is
imperative numpy over per-symbol deques.  This package re-expresses that whole
surface as idiomatic Spark: DataFrame/SQL plans for the relational operators,
Window expressions for the indicator math, Structured Streaming for the
pipeline shape, and Pandas-UDF grouped maps only where Spark lacks the
primitive (seeded-EMA recursion, ARIMA grid search).

Layout (SURVEY.md §7.1):
    schemas     — one StructType per table/stream, enforced at every boundary
    sources     — parquet/Kafka/rate readers; events→ticks mapping (FIXTURES.md §2)
    functions   — scalar/text helper expressions (pure Column algebra)
    operators   — relational ops, indicator windows, dedup + clustering,
                  similarity + persisted IVF, multimodal, sampling/splits,
                  data-quality expectations, BPE tokenizer train/apply
    plans       — named batch queries (the ``__spark_entry__.queries()`` surface)
    streaming   — stateful tick pipeline (applyInPandasWithState), alerting,
                  time-cooldown throttle
    ml          — linear-regression features/train/score, ARIMA grouped map

Importing the package makes the invalidation of zip-archive import caches
lazy on Python < 3.13 (``lazy_zip``): a Spark Python worker imports the package
when it unpickles any of its functions, and from then on each task skips
re-reading ``pyspark.zip`` and the jars on ``sys.path``.
"""

from . import lazy_zip

lazy_zip.install()

__version__ = "0.1.0"
