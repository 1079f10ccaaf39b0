"""Parquet star-schema catalog (SURVEY.md §2.1 S6 — the chunk-stream scan).

The reference streams 1000-row pandas chunks off a server-side Postgres
cursor (`scrc/preprocessors/abstract_preprocessor.py:179-200`).  Under
Spark that whole mechanism is just a parquet scan: partitioned execution
subsumes chunking, and Catalyst pushes projections/filters into the scan
(verify with ``df.explain`` → ``PushedFilters`` / ``ReadSchema``).

At 100 TB the same code path holds: ``spark.read.parquet`` over an
object-store prefix, with partition pruning on any directory-partitioned
columns.  Nothing here materializes on the driver.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Driver-provided synthetic star schema (TESTDATA.md).  region..lineitem
# mirror the reference's dim/fact split (language/canton/court/chamber
# dims around the decision fact); events is the stream-shaped table;
# documents/embeddings back the LLM-pipeline operators.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

@lru_cache(maxsize=None)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    BIGINT (legacy nanosAsLong) and we restore timestamps below.  One
    footer read per path, cached; driver-side only."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        # Spark-written table: every part file shares the schema; read
        # the first footer (the driver generator writes single files,
        # but synthetic scale corpora come out of Spark)
        parts = sorted(
            n for n in os.listdir(path) if n.endswith(".parquet")
        )
        if not parts:
            return ()
        path = os.path.join(path, parts[0])
    # Arrow reports BOTH real TIMESTAMP(NANOS) (INT64 + ns logical
    # type) and legacy INT96 timestamps as timestamp[ns] — but Spark
    # only reads the former as BIGINT under nanosAsLong; INT96 comes
    # back as a real TIMESTAMP and must NOT be div-1000'ed (Spark 4
    # writes INT96 by default, so any Spark-written copy of a table
    # with timestamps used to break load_table here).
    pf = pq.ParquetFile(path)
    physical = {
        pf.schema.column(i).name: pf.schema.column(i).physical_type
        for i in range(len(pf.schema))
    }
    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if str(f.type).startswith("timestamp[ns")
        and physical.get(f.name) == "INT64"
    )


# Schema cache for load_table (r11 optimization round).  A bare
# ``spark.read.parquet(path)`` re-infers the schema on EVERY call —
# measured 115 ms warm per call on the driver (file listing + footer
# read through the Hadoop path), ~85 ms of which vanishes when the
# reader is handed an explicit schema.  The bench constructs each query
# fresh 3×, so the ~43 load_table calls per bench pass paid ~11 s of
# pure re-inference.  The cache holds ONLY metadata (a StructType — the
# 100 TB analogue is a real catalog/metastore, guide §6), never data or
# results: every call still returns a FRESH DataFrame (fresh expression
# IDs, so self-joins of two loads keep working) and every execution
# still scans the parquet.  Keyed on (path, mtime_ns, size) so a
# rewritten file re-infers.
_SCHEMA_CACHE: dict = {}


def _table_schema(spark: SparkSession, path: str):
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return sch


# View-name cache for load_table (r11 optimization round, session 2).
# Even with the schema cache above, every load_table call still paid
# ~20 ms of py4j/driver work — DataFrameReader setup, the ``parquet()``
# call's relation + file-index construction — and the bench makes ~150
# such calls (each headline query is constructed fresh 3×; profiled:
# load_table was 0.7 s of q5's 1.7 s 5-construction profile, 80% of it
# socket recv).  Fix: register the fully-prepared table (schema'd scan
# + nanos conversion) as a session TEMP VIEW once per (session, path,
# mtime, size) and return ``spark.table(view)`` — one py4j call.  Each
# call yields a FRESH UnresolvedRelation, so two loads of one table
# still self-join with distinct expression IDs (the analyzer
# deduplicates relation instances, exactly as SQL self-joins do);
# memoizing the DataFrame OBJECT instead would alias the IDs and break
# them.  The view is pure metadata in the session catalog — every
# execution still scans the parquet — and the stat-key invalidates on
# any file change (a changed file gets a new view name; the stale view
# is just never referenced again).
_VIEW_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One table = one parquet path; schema comes from parquet footers
    (explicit and stable — written by the deterministic generator),
    cached per (path, mtime, size) so repeated loads skip re-inference,
    and the prepared scan is registered once per session as a temp view
    so repeated loads cost one catalog lookup (see _VIEW_CACHE).

    TIMESTAMP(NANOS) columns arrive as nano BIGINTs; convert with
    integer ``DIV 1000`` (never double math — 1e18 ns exceeds 2^53),
    truncating toward zero exactly like DuckDB's ns→us read path, so
    oracle comparisons stay exact.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    # Cache key notes (ADVICE r11): the stat key is the stats of the
    # top-level path — every engine table is a SINGLE parquet file
    # written via whole-file replacement by the deterministic generator,
    # so an in-place rewrite of a contained part-file (which would not
    # change a directory's mtime/size) cannot occur here.  The session
    # key is the SparkSession OBJECT (not id(spark)): the held
    # reference pins the object, so a later session can never reuse a
    # garbage-collected id and alias a stale view entry.  Sessions per
    # process are few; the pinned objects are negligible.
    key = (spark, path, st.st_mtime_ns, st.st_size)
    view = _VIEW_CACHE.get(key)
    if view is not None:
        try:
            return spark.table(view)
        except AnalysisException:
            # the view was dropped (or the catalog was cleared):
            # fall through and re-register.  Narrow catch (ADVICE r11) —
            # any other analyzer/runtime error propagates instead of
            # being masked by a silent re-register.
            _VIEW_CACHE.pop(key, None)
    df = spark.read.schema(_table_schema(spark, path)).parquet(path)
    for c in _nanos_timestamp_cols(path):
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    view = f"__catalog_{name}_{abs(hash(key)) % 10**12}"
    df.createOrReplaceTempView(view)
    _VIEW_CACHE[key] = view
    return spark.table(view)


def table_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Registered temp-view NAME for a catalog table — the building
    block for whole-query ``spark.sql`` construction (r12: one parsed
    statement instead of a py4j round trip per DataFrame method; the
    bench times construction, guide §1).  Shares ``load_table``'s
    cache and invalidation key; the warm path costs ZERO py4j calls
    (``os.stat`` only).  Call it ONLY inside a :func:`catalog_sql` build
    callable: the warm path returns the cached name unchecked, and only
    ``catalog_sql`` self-heals a view dropped behind us (it invalidates
    the cache and rebuilds the text once).  A direct
    ``spark.sql(f"... FROM {table_view(...)}")`` fails unrecoverably
    on a dropped view."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    key = (spark, path, st.st_mtime_ns, st.st_size)
    view = _VIEW_CACHE.get(key)
    if view is None:
        load_table(spark, sf_dir, name)
        view = _VIEW_CACHE[key]
    return view


def catalog_sql(spark: SparkSession, build) -> DataFrame:
    """``spark.sql`` over text produced by ``build()`` (a zero-arg
    callable composing view names from :func:`table_view`).  One py4j
    call on the happy path.  If a cached temp view was dropped (e.g.
    the session catalog was reset), every ``_VIEW_CACHE`` entry for
    this session is invalidated and the text is rebuilt once —
    ``table_view`` then re-registers through ``load_table``, matching
    the self-healing ``load_table`` itself has."""
    try:
        return spark.sql(build())
    except AnalysisException:
        for k in [k for k in _VIEW_CACHE if k[0] is spark]:
            _VIEW_CACHE.pop(k, None)
        return spark.sql(build())


def epoch_us(col) -> F.Column:
    """Microseconds since the epoch for TIMESTAMP *or* TIMESTAMP_NTZ.

    Parquet `timestamp[us]` without a timezone arrives as TIMESTAMP_NTZ
    under Spark 4's ``inferTimestampNTZType``, and ``unix_micros`` only
    accepts TIMESTAMP.  ``timestamp_diff`` coerces its operands to a
    common type, so diffing against the epoch literal works for both
    flavors and matches DuckDB's ``epoch_us`` on naive timestamps
    exactly (pure integer arithmetic, no tz shift)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), col
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register temp views so ``spark.sql`` programs mirror the SQL the
    reference issues against Postgres (`scrc/utils/sql_select_utils.py`)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
