"""Catalog: named tables over Parquet + identifier validation.

Replaces two reference components with strictly stronger Spark-native
equivalents (SURVEY.md §1.5, §7.3):

- the per-database connection map / table namespace
  (`/root/reference/index.js:52,93-128`, `config.json:11-40`) becomes
  a set of named DataFrames over Parquet registered as temp views;
- the regex-based identifier defense
  (`/root/reference/lib/examiner.js:37-41,70-80,162-196`) becomes
  validation against the actual catalog schema: an identifier is legal
  iff it names a known table/column. No string splicing ever reaches
  SQL (the reference's `util.format('select * from %s …')` at
  `index.js:482` is the anti-pattern this replaces).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_wrangler_spark.session import apply_runtime_confs

TABLES: tuple[str, ...] = (
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

# Primary key per table — the unique tiebreaker appended to every
# ordered/paginated query (SURVEY.md §7.3: Spark guarantees nothing
# about LIMIT/OFFSET determinism without a total order).
PRIMARY_KEYS: dict[str, str] = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",  # composite with l_linenumber; see pk_cols
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# Parent→child foreign-key conventions, the engine-level analog of the
# reference's `<parent>_id` naming convention (`index.js:575`).
FK_CONVENTIONS: dict[tuple[str, str], str] = {
    ("orders", "lineitem"): "l_orderkey",
    ("customer", "orders"): "o_custkey",
    ("nation", "supplier"): "s_nationkey",
    ("nation", "customer"): "c_nationkey",
    ("region", "nation"): "n_regionkey",
    ("part", "lineitem"): "l_partkey",
    ("supplier", "lineitem"): "l_suppkey",
}


def pk_cols(table: str) -> list[str]:
    if table == "lineitem":
        return ["l_orderkey", "l_linenumber"]
    return [PRIMARY_KEYS[table]]


class UnknownIdentifierError(ValueError):
    """Raised when a dynamic table/column identifier fails validation."""


def scratch_tag(sf_dir: str, source_table: str = "orders", params: str = "") -> str:
    """Collision- and staleness-safe cache key for per-sf scratch
    artifacts (roundtrip sinks, bucketed tables, persisted indexes).

    Keyed on the ABSOLUTE path (two fixture dirs sharing a basename
    get distinct caches) plus the source parquet's (mtime, size), so
    regenerated fixtures invalidate the key instead of serving stale
    bytes behind a _SUCCESS marker.

    ``params`` folds the GOVERNING SEMANTICS of the cached artifact
    into the key (r10 review): a persisted index must pass the
    constants it was built from (n-gram size, band layout, split
    percentage, ...) so a later constant change invalidates the cache
    automatically instead of relying on a remembered manual directory
    rename (the pipeline_inc → pipeline_inc_v2 trap)."""
    import hashlib
    import os

    abs_dir = os.path.abspath(sf_dir.rstrip("/"))
    src = os.path.join(abs_dir, f"{source_table}.parquet")
    try:
        st = os.stat(src)
        stamp = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        stamp = "nosrc"
    digest = hashlib.md5(f"{abs_dir}|{stamp}|{params}".encode()).hexdigest()[:10]
    return f"{os.path.basename(abs_dir)}_{digest}"


# Table frames are reused across calls: a frame is a lazy plan (schema
# + file listing), not data, so reuse skips the schema-inference job
# spark.read.parquet runs per call (~0.1 s a table) while scans still
# hit storage. The key holds the session, the absolute path and the
# file's (st_mtime_ns, st_size), so a replaced file is read afresh, and
# a hit must belong to the caller's session object. Least recently
# used entries go first; each fixture dir adds up to len(TABLES).
_MEMO_MAX = 64
_memo: OrderedDict[tuple, DataFrame] = OrderedDict()
_memo_lock = threading.Lock()


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one named table from ``{sf_dir}/{name}.parquet``, reusing
    an earlier call's frame while the file is unchanged.

    Timestamp handling: current fixtures store TIMESTAMP(MICROS,
    isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ —
    matching DuckDB's naive TIMESTAMP exactly. Older fixture layouts
    stored ``events.ts`` as TIMESTAMP(NANOS), which Spark's reader
    rejects; with ``nanosAsLong`` it arrives as raw int64 nanos and
    the branch below converts it to a microsecond timestamp. Both
    paths yield the same wall-clock values under the UTC session TZ.
    """
    if name not in TABLES:
        raise UnknownIdentifierError(f"unknown table: {name!r}")
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    stamp = _stamp(path)
    key = (id(spark), path, stamp)
    with _memo_lock:
        df = _memo.get(key)
        if df is not None and df.sparkSession is spark:
            _memo.move_to_end(key)
            return df
    apply_runtime_confs(spark)
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    with _memo_lock:  # a missing file never gets here: the read raises
        _memo[key] = df
        _memo.move_to_end(key)
        while len(_memo) > _MEMO_MAX:
            _memo.popitem(last=False)
    return df


class Catalog:
    """Named-table catalog bound to one (spark, sf_dir) pair."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    # -- identifier validation (replaces examiner.js regex defense) --

    def validate_table(self, name: str) -> str:
        if name not in TABLES:
            raise UnknownIdentifierError(f"unknown table: {name!r}")
        return name

    def validate_column(self, table: str, column: str) -> str:
        self.validate_table(table)
        cols = set(self.table(table).columns)
        if column not in cols:
            raise UnknownIdentifierError(
                f"unknown column {column!r} on table {table!r} (has: {sorted(cols)})"
            )
        return column

    def register_views(self, names: tuple[str, ...] = TABLES) -> None:
        """Register temp views so queries can use ``spark.sql``."""
        for name in names:
            self.table(name).createOrReplaceTempView(name)
