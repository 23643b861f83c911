"""Session setup and SQL-surface registration.

The reference installs a custom analyzer + extra strategies
(``utvf/SequilaSession.scala:29-75``) because Scala/Catalyst was the only way
to intercept SQL.  A PySpark-native engine keeps Spark's lifecycle untouched:
``register(spark)`` adds the scalar-function SQL surface (same names as
``utils/UDFRegister.scala:12-41``, each also under a ``bdg_`` alias), and the
table-valued surface is exposed as plain Python functions returning DataFrames
(`sequila_spark.coverage`, `sequila_spark.pileup`, `range_join`, ...).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "sequila_spark", cpus: int | None = None) -> SparkSession:
    """Build a local session tuned for the test/bench environment.

    On a real cluster users bring their own session; ``register`` is the only
    required hook.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    register(spark)
    return spark


def register(spark: SparkSession) -> SparkSession:
    """Register the SQL scalar-function surface.

    DataFrame users should prefer the native column functions in
    ``sequila_spark.functions.intervals`` (pure Catalyst expressions, no
    Python round-trip); the UDF registration here exists for SQL-string
    compatibility with the reference surface (utils/UDFRegister.scala).
    """
    from sequila_spark.functions.intervals import register_sql_functions
    from sequila_spark.functions.maps import register_map_functions
    from sequila_spark.functions.udtf import register_udtfs

    register_sql_functions(spark)
    register_map_functions(spark)
    register_udtfs(spark)
    return spark


class SequilaSession:
    """Thin wrapper mirroring the reference's SequilaSession
    (utvf/SequilaSession.scala:89-112): dataset-API entry points for the
    table-valued operators on top of a registered SparkSession."""

    def __init__(self, spark: SparkSession):
        self.spark = register(spark)

    def sql(self, query: str) -> DataFrame:
        """SQL with the reference's TVF surface (coverage/pileup/bdg_grange
        resolved via sequila_spark.sql preprocessing, everything else stock
        Spark SQL)."""
        from sequila_spark.sql import sequila_sql

        return sequila_sql(self.spark, query)

    def coverage(self, reads: DataFrame | str, **kwargs) -> DataFrame:
        from sequila_spark.operators.coverage import coverage

        return coverage(self._df(reads), **kwargs)

    def pileup(self, reads: DataFrame | str, blocks: bool = False, **kwargs) -> DataFrame:
        """``blocks=True`` returns the reference's native block-compressed
        output shape (alt-free equal-coverage runs merged, ref
        concatenated) instead of per-position rows."""
        from sequila_spark.operators.pileup import pileup, pileup_blocks

        p = pileup(self._df(reads), **kwargs)
        return pileup_blocks(p) if blocks else p

    def range_join(self, left, right, **kwargs) -> DataFrame:
        from sequila_spark.operators.range_join import range_join

        return range_join(self._df(left), self._df(right), **kwargs)

    def grange(self, contig: str, start: int, end: int) -> DataFrame:
        """1-row genomic-interval relation — the ``bdg_grange`` TVF
        (utvf/GenomicInterval.scala:30-38)."""
        from sequila_spark import schemas as S

        return self.spark.createDataFrame(
            [(str(contig), int(start), int(end))],
            schema=f"{S.CONTIG} string, {S.START} int, {S.END} int",
        )

    def _df(self, rel: DataFrame | str) -> DataFrame:
        return self.spark.table(rel) if isinstance(rel, str) else rel
