"""IO layer: readers for the driver's star-schema parquet tables.

Scale notes
-----------
* ``read_parquet`` is the package's only parquet reader.  A parquet
  scan gives predicate pushdown + column pruning for free; every query
  should therefore select only what it needs and put filters as early
  as possible (Catalyst pushes them into the scan).
* ``spark.read.parquet`` without a schema runs one job to read footers
  and infer one (80-135 ms on a 4-core local session, against 10-27 ms
  for a schema-given read; 421 of the 2,467 jobs of one pass over all
  306 queries at sf0.1, ``tools/job_census.py``).  ``read_parquet``
  infers once per path and then hands Spark the schema it inferred, as
  long as the path's files and the inference confs are unchanged -- a
  schema-given read plans exactly like the inferred one.
* ``ingest_order(df, order_col)`` reproduces the reference's implicit
  "source order" semantics (reference keeps JS arrays in fetch order;
  its lastRecord / tail-150 operators depend on it -- see SURVEY §2.5
  A5, §2.6 L1).  Distributed DataFrames have no stable order, so order
  is always an explicit column: we use the table's natural key, which
  the driver generates monotonically.
"""

from __future__ import annotations

import contextlib
import os
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

# Natural ingest-order key per table (driver generates keys monotonically).
INGEST_KEY = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": None,  # composite (l_orderkey, l_linenumber)
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


# Session confs that change what schema parquet inference returns for
# the same files.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
)

# path -> ((stamp, confs), inferred schema); one entry per path,
# replaced whole, so concurrent readers (fan_out members) need no lock:
# the worst race re-infers once more.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _stamp(path: str) -> tuple:
    """(name, inode, size, mtime_ns) of the file at ``path``, or of the
    directory and every entry below it; empty when nothing is there.
    Spark names each written part file uniquely, so a rewrite through
    Spark always changes the stamp."""
    try:
        st = os.stat(path)
    except OSError:
        return ()
    out = [(path, st.st_ino, st.st_size, st.st_mtime_ns)]
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            full = os.path.join(root, name)
            with contextlib.suppress(OSError):  # removed while listed
                st = os.stat(full)
                out.append((full, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def read_parquet(
    spark: SparkSession, path: str, *, schema: StructType | None = None
) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job
    after the first read of ``path``.

    The first read infers as Spark always does and memoizes the schema
    under the path's stamp (``_stamp``) and the parquet inference
    confs (``_INFERENCE_CONFS``).  While both read the same, later
    reads pass that schema to ``spark.read.schema(...)``, which lists
    the files but launches no job.  A changed file, an added or
    removed one, or a flipped conf re-infers and replaces the entry.
    A missing path is read as given, so it fails as Spark's reader
    does.

    ``schema`` is the schema of the frame the caller just wrote to
    ``path`` with Spark: the first read then takes it instead of
    inferring, and memoizes it.  A file source makes a given schema
    nullable throughout, as Spark writes parquet, so the read plans
    exactly like an inferred one."""
    stamp = _stamp(path)
    key = (stamp, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if stamp and hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
    if stamp:
        _SCHEMAS[path] = (key, df.schema)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table. Plain parquet scan -- pushdown-friendly."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the `events` table with its timestamp normalized.

    events.parquet stores INT64 TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; read the raw nanos (runtime conf) and
    truncate to micros -- identical to how DuckDB/pyarrow surface the
    same column, so oracle comparisons agree.  Session TZ is UTC so
    timestamp_micros yields the same naive value."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = read_table(spark, sf_dir, "events")
    if dict(e.dtypes)["ts"] == "bigint":
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        e = e.withColumn("ts", F.col("ts").cast("timestamp"))
    return e


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read all driver tables lazily (no action is triggered)."""
    return {name: read_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL-flavored queries)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def local_frame(
    spark: SparkSession,
    rows: Iterable[Any],
    schema: StructType | str | None = None,
) -> DataFrame:
    """Land driver-side rows as an Arrow-encoded JVM ``LocalRelation``.

    ``spark.createDataFrame(rows, schema)`` pickles the rows into a
    Python RDD: its plan is ``Scan ExistingRDD`` sized ``Long.MaxValue``
    and every job over it runs Python-worker tasks (on a 4-core local
    session about 200 ms for a one-task job, against about 35 ms for a
    JVM-only one).  Here the rows go through Spark's own row pipeline
    -- schema inference when ``schema`` is None, the type verifier, the
    converter that coerces any value in a string field with ``str()``,
    and ``toInternal`` -- so acceptance and landed values are those of
    ``createDataFrame``.  Only the transport differs: the internal
    tuples become one Arrow table, which
    ``createDataFrame(pyarrow.Table)`` lands as a ``LocalTableScan``
    without any Python worker.

    ``schema`` is a ``StructType`` or a DDL string of one; rows are
    dicts, tuples or ``Row``s, as ``createDataFrame`` takes them.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _create_converter, _make_type_verifier

    rows = list(rows)
    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    if schema is None:
        schema = spark._inferSchemaFromList(rows)
    verify, convert = _make_type_verifier(schema), _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(convert(row)))
    arrow = pa.struct(to_arrow_schema(schema))
    table = pa.Table.from_struct_array(pa.array(internal, type=arrow))
    return spark.createDataFrame(table, schema=schema)
