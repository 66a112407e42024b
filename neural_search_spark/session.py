"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point, scaled down by env vars for
the local[N] sandbox:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Arrow on (all Python compute goes through vectorized pandas/Arrow UDFs;
  never row-at-a-time Python — BASELINE.json input_hint).
- shuffle partitions sized by env (cluster: ~2-3x total cores; sandbox: 32).

Rule: a driver-side literal table (query terms, phrase positions, batch
query vectors) is built with ``local_table``, never with
``createDataFrame(<list>)``. Classic PySpark plans a list as ``Scan
ExistingRDD`` — a Python RDD that every execution re-reads through
Python-worker tasks; ``local_table`` keeps the rows in the JVM.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import ArrayType, StructType, _parse_datatype_string


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 24g: in local mode every task runs
    in the driver JVM, and a heap near the host's RAM gets the JVM killed
    by the kernel's OOM killer instead of collected."""
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows) or no such name
        return "24g"
    return f"{min(24 * 1024, phys_mb // 2)}m"


def get_spark(
    app_name: str = "neural-search-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "4")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    # local-mode "executor" memory is the driver JVM; the 1g default
    # GC-thrashes under 32 concurrent Arrow-UDF tasks (takes effect only if
    # this call creates the JVM, which it does in every entry path)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_table(spark: SparkSession, rows: list[tuple], schema: str | StructType) -> DataFrame:
    """A small literal table that lives in the JVM: ``rows`` (tuples in
    ``schema`` field order) become one JSON string literal, parsed by
    ``from_json`` with the declared schema and exploded by ``inline`` over
    a one-row range. Catalyst folds the parse into one array literal, so
    no Python-worker task ever reads the rows, an empty ``rows`` plans the
    same way, and the schema comes out exactly as declared (``int`` vs
    ``long``, ``array<double>``, nullability). A row of the wrong width,
    or a None in a NOT NULL field, raises ValueError, and FAILFAST makes a
    value that does not fit its declared type raise instead of reading as
    null. Meant for query-sized tables (up to a few thousand rows): the
    whole table is one literal in the plan."""
    st = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    payload = json.dumps([dict(zip(st.names, r, strict=True)) for r in rows])
    notnull = [i for i, f in enumerate(st.fields) if not f.nullable]
    if any(r[i] is None for r in rows for i in notnull):
        raise ValueError("local_table: None in a NOT NULL field")
    df = spark.range(0, 1, 1, 1).select(
        F.inline(F.from_json(F.lit(payload), ArrayType(st), {"mode": "FAILFAST"}))
    )
    if not notnull:
        return df
    # from_json reads every field as nullable; a NOT NULL (numeric,
    # boolean or string) field gets it back by a coalesce that no row
    # reaches, its fallback being a typed constant
    return df.select(
        *(
            F.col(f.name)
            if f.nullable
            else F.coalesce(F.col(f.name), F.lit(0).cast(f.dataType)).alias(f.name)
            for f in st.fields
        )
    )


def top_per_key(
    df: DataFrame,
    key: str | list[str],
    k: int,
    score: str | Column = "score",
    id_col: str = "docID",
) -> DataFrame:
    """The rows of ``df`` ranked 1..``k`` within each ``key`` by (``score``
    desc, ``id_col`` asc): ``row_number()`` over a window partitioned by
    ``key`` — never a global sort, each key's heap is independent (the
    per-shard collector model). ``score`` may be an expression."""
    s = F.col(score) if isinstance(score, str) else score
    w = Window.partitionBy(*([key] if isinstance(key, str) else key)).orderBy(
        s.desc(), F.col(id_col).asc()
    )
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= int(k)).drop("_rn")
