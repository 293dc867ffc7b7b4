"""Access to the driver-provided parquet tables (TESTDATA.md).

The reference flows JSON over JDBC endpoints; our engine's batch inputs
are columnar parquet (scans get predicate pushdown + column pruning for
free — see plans/inspect.py assertions).

Each table's schema is resolved once, as the reference's JDBC writers
resolve theirs once into a schema cache. Without a schema,
``spark.read.parquet`` runs a one-task footer job on every call to infer
it; ``load`` instead reads with ``spark.read.schema(s)``, where ``s`` is
the table's ``StructType`` from ``_SCHEMAS``. That cache holds schemas
only: one ``(signature, StructType)`` entry per absolute table path,
where the signature is the sorted ``(name, size, mtime_ns)`` of the
files Spark lists there, so a rewritten table is re-inferred and its
entry replaced. It never holds data, a ``DataFrame`` or a result: every
``load`` builds a fresh relation and every query scans the files again.
(A shared relation would also give two loads of one table the same
attribute ids, making the registry's self-joins ambiguous.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Some testdata generations write events.ts as parquet TIMESTAMP(NANOS),
# which Spark refuses by default; with nanosAsLong it arrives as a long we
# truncate to micros — matching DuckDB, whose TIMESTAMP is micros, so the
# oracle sees identical values. Other generations write micros directly,
# which Spark reads as a timestamp already — so the conversion is applied
# only when the column actually arrives as a long.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


#: absolute table path -> (file signature, schema inferred from those files)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _signature(path: str) -> tuple:
    """Sorted ``(name, size, mtime_ns)`` of the data files at ``path``: the
    file itself, or the files under the directory whose names (and parent
    directories' names) do not start with ``_`` or ``.``, as Spark lists
    them. Empty when nothing is there to list."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    sig = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                st = os.stat(os.path.join(root, f))
                sig.append((os.path.relpath(os.path.join(root, f), path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


def _schema(spark: SparkSession, path: str) -> StructType:
    """The table's schema, inferred once per file signature. Entries are
    replaced whole, so concurrent first loads at worst infer twice. With
    no local files to sign (a missing path, a non-local URI) nothing is
    cached and Spark infers, or raises, as ``spark.read.parquet`` does."""
    key = os.path.abspath(path)
    sig = _signature(key)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    schema = spark.read.parquet(path).schema
    if sig:
        _SCHEMAS[key] = (sig, schema)
    return schema


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; one of {TABLES}")
    nano_cols = _NANO_TS_COLS.get(name, ())
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_schema(spark, path)).parquet(path)
    dtypes = dict(df.dtypes)
    for c in nano_cols:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtypes.get(c) == "timestamp_ntz":
            # Micros parquet arrives as TIMESTAMP_NTZ; with the UTC session
            # timezone (session.py) the cast is value-preserving, and the
            # rest of the engine (unix_micros, streaming windows) expects
            # the instant type.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition to full cluster parallelism before CPU-heavy map work.

    Parquet inputs with few/small files arrive as few splits, which
    serializes expensive per-row expressions (shingling, fingerprints,
    vector math) onto a handful of cores. The explicit partition count
    defeats AQE's byte-based coalescer, which would merge these
    small-but-CPU-heavy partitions back onto one core. Costs one
    row-preserving shuffle — noise next to the work it parallelizes."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if key_cols:
        return df.repartition(n, *[F.col(c) for c in key_cols])
    return df.repartition(n)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-side table WITHOUT a Python stage (r12 optimization).

    ``spark.createDataFrame(list, schema)`` builds a Python RDD
    (``applySchemaToPythonRDD`` in the plan): every evaluation of any
    plan referencing it runs a stage of Python-worker tasks just to
    unpickle a handful of rows — measured as a 32-task Python stage
    per probe evaluation on the ANN serving path (the probe table is
    the BUILD side of a broadcast join, so the stage is on the join's
    critical path). Routing the same rows through pandas + the
    session's enabled Arrow path yields a JVM-only ``Scan ExistingRDD
    arrow`` (no Python workers at execution, one partition for
    anything this engine passes here).

    Columns are built dtype=object so pandas can't coerce (e.g. a
    nullable long column to float); Arrow casts to the declared
    schema, which is exact for the engine's types (longs, doubles,
    strings, float64 arrays). ``schema`` is a DDL string or
    StructType; ``rows`` an iterable of tuples/Rows."""
    import pandas as pd

    names = (
        schema.names
        if isinstance(schema, StructType)
        else [f.split(":")[0].split()[0].strip("`") for f in _split_ddl(schema)]
    )
    rows = list(rows)
    data = {
        n: pd.Series([r[i] for r in rows], dtype=object)
        for i, n in enumerate(names)
    }
    pdf = pd.DataFrame(data, columns=names)
    return spark.createDataFrame(pdf, schema)


def _split_ddl(schema: str) -> list[str]:
    """Split a DDL struct string on top-level commas (array<...>/
    struct<...> fields contain nested commas)."""
    parts, depth, cur = [], 0, []
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur)); cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load(spark, name, sf_dir) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
