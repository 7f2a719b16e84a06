"""Table catalog over the driver-provided parquet fixtures.

The reference reads fixed-width per-disease text files via a missing
``data_loader`` module (``/root/reference/run.py:3,44-55``); its inferred
contract — explicit shapes passed in, no runtime schema guessing — is
kept here as *declared* StructType schemas validated against what the
parquet footer actually carries.  Parquet is the primary format
(columnar scans, predicate pushdown, column pruning all free from
Catalyst); csv/json ingestion reuses the same declared schemas.

Each fixture file's schema is inferred from its parquet footer once per
file version and process (:data:`_SCHEMAS`); later reads pass that
schema to the reader, so they list the file but schedule no footer job:
a session runs many short queries, and a footer job per read would be a
fixed cost on each of them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Declared schemas (FIXTURES.md §B).  Used to validate ingestion and to
# give text formats an explicit schema — never inferSchema in the engine.
TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


# (path, st_mtime_ns, st_size, nanosAsLong) -> the footer-inferred schema.
# Threads may race on a miss; the loser only infers the same schema twice.
_SCHEMAS: dict[tuple[str, int, int, str], T.StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the footer schema inferred once per
    file version.  The key holds mtime and size so a path rewritten in
    the same session is inferred afresh, and the ``nanosAsLong`` value in
    effect because it changes the type a TIMESTAMP(NANOS) column infers
    to.  A path ``os.stat`` cannot see (a remote URI, a missing file) is
    read without the memo, so Spark reports its own error."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    key = (path, st.st_mtime_ns, st.st_size, nanos)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table.

    A parquet read so Catalyst owns pushdown/pruning; the declared
    schema is documentation + text-format contract, not a cast (casting
    would defeat parquet filter pushdown on mismatched types).  The
    schema the reader is given is the file's own footer schema, inferred
    on the first read of each file version (:func:`_read_parquet`), so
    repeated reads of a table start no Spark job.

    ``events.ts`` is physically TIMESTAMP(NANOS) in the fixture, which
    Spark's vectorized reader rejects; it is read as nanos-since-epoch
    (``nanosAsLong``) and truncated to microsecond timestamps — the
    same µs truncation DuckDB applies to TIMESTAMP_NS, so oracle
    comparisons agree. Integer ``div`` keeps full precision (a double
    division would lose bits above 2^53).

    The ``nanosAsLong`` flag is *scoped* to the read via
    ``session.scoped_conf`` (the reader captures its hadoop conf at
    ``spark.read`` time, so the materialized scan is unaffected by the
    restore): a permanently mutated session conf would silently turn
    every later TIMESTAMP(NANOS) scan in the same session into
    LongType.  Engine sessions also set it in ``session.get_spark`` as
    the single documented point of configuration; the scoping here
    covers foreign sessions (e.g. the driver's).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        from ..session import scoped_conf

        with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            df = _read_parquet(spark, path)
            # fixture generations differ: TIMESTAMP(NANOS) surfaces as
            # bigint under nanosAsLong and needs the µs truncation;
            # TIMESTAMP(MICROS) (isAdjustedToUTC=false) reads as
            # TIMESTAMP_NTZ.  Decide from the materialized scan's own
            # schema, not an assumption about the fixture vintage, and
            # normalize both to TIMESTAMP (ltz) — the type every
            # downstream consumer (unix_micros, RANGE frames, stream
            # parity oracles) was built against.  The NTZ wall times are
            # UTC instants, so the NTZ→ltz bridge must not depend on the
            # session timezone: cast interprets the wall time in the
            # session tz (instant = W - offset(tz)), and
            # from_utc_timestamp(·, tz) adds offset(tz) back — identity
            # under UTC sessions, instant-preserving under any other
            # (up to the theoretical DST spring-forward hour, which no
            # UTC-instant fixture produces; verified against a
            # America/New_York session in tests/test_sources.py).
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif ts_type == "timestamp_ntz":
                tz = spark.conf.get("spark.sql.session.timeZone")
                df = df.withColumn(
                    "ts", F.from_utc_timestamp(F.col("ts").cast("timestamp"), tz)
                )
            return df
    return _read_parquet(spark, path)


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A driver-side DataFrame of ``rows`` with the DDL schema ``ddl``.

    The rows travel as one ``pyarrow.Table``, so the plan is a
    ``LocalTableScan`` and no Python worker starts; ``createDataFrame``
    on a list pickles the rows through a Python RDD, and the first such
    call in a session waits over a second for its workers.  A
    ``pa.Table`` takes the Arrow path whatever the session's Arrow conf.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(T.StructType.fromDDL(ddl))
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
        )
    )


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register fixture tables as temp views for the SQL API."""
    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def session_bucket_table(spark: SparkSession, base: str) -> str:
    """Session-scoped name for a materialized bucketed table:
    ``buckets.<base>_<applicationId>``.

    Queries that write bucketed layouts (``bucketed_join_order_revenue``,
    ``ann_ivf_bucketed_topk``) must not share fixed table names — two
    sessions running the suite concurrently would drop/rmtree each
    other's tables mid-query.  The Spark applicationId is unique per
    session and stable within it, so re-runs in one session overwrite
    their own table while concurrent sessions never collide.  Creates
    the ``buckets`` database on first use.
    """
    import re

    spark.sql("CREATE DATABASE IF NOT EXISTS buckets")
    app = re.sub(r"[^0-9a-zA-Z]+", "_", spark.sparkContext.applicationId)
    return f"buckets.{base}_{app}"


def reset_bucket_table(spark: SparkSession, table: str) -> None:
    """Drop a bucketed table AND its physical location.  A fresh derby
    metastore pointed at a stale warehouse dir rejects ``saveAsTable``
    with LOCATION_ALREADY_EXISTS, so the catalog entry and the files
    both have to go.  Only ever called on session-suffixed names from
    :func:`session_bucket_table` — never on shared paths."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    db, _, name = table.partition(".")
    if name:
        shutil.rmtree(f"{wh}/{db}.db/{name}", ignore_errors=True)
