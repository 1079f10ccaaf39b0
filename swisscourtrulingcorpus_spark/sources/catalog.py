"""Parquet star-schema catalog (SURVEY.md §2.1 S6 — the chunk-stream scan).

The reference streams 1000-row pandas chunks off a server-side Postgres
cursor (`scrc/preprocessors/abstract_preprocessor.py:179-200`) and
issues raw SQL against it (`scrc/utils/sql_select_utils.py`).  Under
Spark the chunking is just a parquet scan: partitioned execution
subsumes it, and Catalyst pushes projections/filters into the scan
(verify with ``df.explain`` → ``PushedFilters`` / ``ReadSchema``).

Each table's prepared scan is registered as a session temp view once
per (session, path, mtime, size).  That view-name cache is the module's
one cache; it holds metadata only, and every execution still scans the
parquet.  Two entry points read it:

- :func:`load_table` returns a DataFrame over the view;
- :func:`catalog_sql` runs SQL text built by ``build(view)``, where
  ``view(name)`` is the registered view name: the one way SQL text
  names a catalog table.

Both re-register a view dropped behind the cache through one body
(:func:`_with_views`).

At 100 TB the same code path holds: ``spark.read.parquet`` over an
object-store prefix, with partition pruning on any directory-partitioned
columns.  Nothing here materializes on the driver.
"""

from __future__ import annotations

import os

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


def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark reads as
    BIGINT (legacy nanosAsLong).  One driver-side footer read, made when
    the table's view is registered, so it always describes the file the
    view scans."""
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
    # writes INT96 by default, so a Spark-written copy of a table with
    # timestamps holds INT96).
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


# Temp-view name per (session, path, mtime_ns, size): the catalog's one
# cache.  Each ``spark.read.parquet`` lists files, reads a footer and
# builds a relation through py4j; registering the prepared scan once
# makes a warm ``load_table`` one ``spark.table`` call and a warm
# ``catalog_sql`` view name an ``os.stat``.  Conditions the key relies on:
# - the stat is of the top-level path: every engine table is one
#   parquet file that the generator replaces whole, so a part file
#   cannot change under an unchanged stat;
# - a rewritten file gets a new key and so a new view (the stale view
#   is never named again);
# - the session is the SparkSession object, not ``id(spark)``: the held
#   reference pins it, so a later session cannot reuse a collected id
#   and alias a stale view.  Sessions per process are few.
_VIEW_CACHE: dict = {}


def _table_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Temp-view name of catalog table ``name``, registered on first use
    of the file's current stat.  The warm path is an ``os.stat`` and a
    dict lookup: no py4j call, and no check that the view still exists,
    so every caller runs inside :func:`_with_views`.

    TIMESTAMP(NANOS) columns arrive as nano BIGINTs; they convert with
    integer ``DIV 1000`` (never double math — 1e18 ns exceeds 2^53),
    truncating toward zero exactly like DuckDB's ns→us read path, so
    oracle comparisons stay exact."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    key = (spark, path, st.st_mtime_ns, st.st_size)
    view = _VIEW_CACHE.get(key)
    if view is None:
        df = spark.read.parquet(path)
        for c in _nanos_timestamp_cols(path):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
        view = f"__catalog_{name}_{abs(hash(key)) % 10**12}"
        df.createOrReplaceTempView(view)
        _VIEW_CACHE[key] = view
    return view


def _with_views(spark: SparkSession, run):
    """``run()``, run once more after a dropped view.  A view dropped
    behind the cache (or a cleared session catalog) surfaces as an
    ``AnalysisException`` when ``run`` resolves its name; every cached
    view of this session is then forgotten, and the second ``run``
    re-registers the views it names.  The catch is narrow: any other
    error propagates, and so does a second failure."""
    try:
        return run()
    except AnalysisException:
        for k in [k for k in _VIEW_CACHE if k[0] is spark]:
            del _VIEW_CACHE[k]
        return run()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Catalog table ``name`` (``<sf_dir>/<name>.parquet``) as a
    DataFrame over its registered view: one py4j call when warm.  Each
    call yields a fresh relation, so two loads of one table self-join
    with distinct expression IDs (a memoized DataFrame object would
    alias them)."""
    return _with_views(spark, lambda: spark.table(_table_view(spark, sf_dir, name)))


def catalog_sql(spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """``spark.sql(build(view))``, where ``view(name)`` returns the
    registered temp-view name of catalog table ``name`` under ``sf_dir``.
    This is the one way SQL text names a catalog table.  A whole query
    is one parsed statement and ``view`` makes no py4j call when warm,
    so a warm construction costs the ``spark.sql`` call alone.  After a
    dropped view ``build`` runs again (:func:`_with_views`), so it must
    only compose text."""
    return _with_views(
        spark, lambda: spark.sql(build(lambda name: _table_view(spark, sf_dir, name)))
    )


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


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register temp views so ``spark.sql`` programs mirror the SQL the
    reference issues against Postgres (`scrc/utils/sql_select_utils.py`)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
