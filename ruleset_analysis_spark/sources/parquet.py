"""Parquet source: schema-declared loads of the driver tables.

The reference read gzipped syslog text with ``sc.textFile`` and gave
every record its schema at regex time ([R-mem] ``analyze_ruleset.py``);
this engine standardizes on columnar parquet with declared schemas so
Catalyst gets column pruning + predicate pushdown for free.

Scale notes (100 TB design): a production deployment would point these
loads at a partitioned table root (e.g. ``.../events/date=*/``) and the
same code would gain static + dynamic partition pruning with no query
changes — the test corpus is one file per table, so no partition
columns appear here. No ``collect`` happens in any loader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .. import schemas
from ..session import corpus_memo, ensure_session_defaults

TABLE_NAMES = (
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


def path_for(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-TZ TIMESTAMP (UTC is pinned by
    ``ensure_session_defaults``) regardless of the physical encoding.

    The driver has shipped the column two ways across rounds, so this
    dispatches on the *actual* read type instead of assuming one:

    * int64 nanoseconds (parquet TIMESTAMP(NANOS) + ``nanosAsLong`` —
      round 1): exact FLOOR division in long arithmetic,
      ``(ts - pmod(ts, 1000)) div 1000``. Plain ``div`` truncates toward
      zero, which differs from DuckDB's floor for pre-epoch
      (negative-ns) timestamps; doubles can't be used (ns magnitudes
      exceed 2^53).
    * TIMESTAMP_NTZ (parquet timestamp[us], isAdjustedToUTC=false —
      round 2): cast to TIMESTAMP. Value-preserving under the pinned
      UTC session TZ, and keeps the post-load type contract
      (``schemas.EVENTS``) identical across encodings so every
      downstream operator and the streaming watermark path see one type.
    * TIMESTAMP: already the contract type — untouched.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
        )
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Memoized lazy plans (``corpus_memo``, one per corpus table).
# ``spark.read.parquet`` re-infers the footer schema and rebuilds the
# file index on EVERY call (~0.1-0.25 s of driver-side work measured
# on the bench host), and the suite issues ~800 loads per bench run —
# returning the same immutable DataFrame object removes that repeated
# planning cost without caching any *data*: the object is a lazy plan,
# every action on it still computes from the parquet inputs (guide
# §1.2 step 2: per-task — here per-query — fixed work). Plan identity
# is also exactly what the CacheManager keys on, so substrate
# persist()s and the bench's hot-table protocol behave as before.
@corpus_memo
def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table with post-read normalization.

    ``events.ts`` is normalized to UTC TIMESTAMP whatever its physical
    parquet encoding — see ``normalize_event_ts``. DuckDB (the oracle)
    reads the same file natively, so both engines agree to the
    microsecond at every encoding the driver has shipped.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_session_defaults(spark)
    df = spark.read.parquet(path_for(sf_dir, name))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def validate(spark: SparkSession, sf_dir: str, name: str) -> list[str]:
    """Diff the declared StructType against the loaded schema."""
    df = load(spark, sf_dir, name)
    return schemas.schema_diff(schemas.EXPECTED[name], df.schema)
