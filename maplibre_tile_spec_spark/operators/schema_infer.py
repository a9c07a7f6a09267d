"""Schema inference + type unification (MltConverter.createTilesetMetadata
analog, java/.../converter/MltConverter.java:35-193).

The reference scans every feature's properties, records observed types, and
unifies conflicts: implicit widening INT_32↔INT_64 and FLOAT↔DOUBLE,
optional coerce-to-STRING on hard mismatches, else error. Here the same
rules run as one distributed aggregate: classify each observed value
(regex, JVM-side), ``groupBy(prop)`` collecting type-presence flags, then a
deterministic CASE-chain unification — a single shuffle over (prop) keys
regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INT_RE = r"^-?[0-9]+$"
DOUBLE_RE = r"^-?[0-9]+\.[0-9]+([eE][+-]?[0-9]+)?$"
BOOL_RE = r"^(true|false)$"
I32_MIN, I32_MAX = -(2**31), 2**31 - 1


def classify_value(col) -> "F.Column":
    """String observation → type tag, identical semantics to the SQL twin."""
    as_int = col.cast("long")
    return (
        F.when(col.rlike(BOOL_RE), "boolean")
        .when(col.rlike(INT_RE) & as_int.between(I32_MIN, I32_MAX), "int32")
        .when(col.rlike(INT_RE), "int64")
        .when(col.rlike(DOUBLE_RE), "double")
        .otherwise("string")
    )


def observations_from_json(df: DataFrame, json_col: str) -> DataFrame:
    """JSON property bags → (prop, obs_type) rows."""
    kv = F.explode(F.from_json(F.col(json_col), "map<string,string>")).alias("key", "value")
    base = df.select(kv)
    return base.select(
        F.col("key").alias("prop"), classify_value(F.col("value")).alias("obs_type")
    )


def unify(observations: DataFrame) -> DataFrame:
    """(prop, obs_type) → (prop, unified_type, n_obs) with the reference's
    widening/coercion rules (MltConverter.java:139-171):
      * INT_32 + INT_64          → INT_64
      * {INT_*} + {FLOAT,DOUBLE} → DOUBLE
      * FLOAT + DOUBLE           → DOUBLE
      * anything + STRING        → STRING (coerce)
      * BOOLEAN + non-BOOLEAN    → STRING (coerce)
    """
    flags = observations.groupBy("prop").agg(
        F.count("*").alias("n_obs"),
        F.max((F.col("obs_type") == "string").cast("int")).alias("has_str"),
        F.max((F.col("obs_type") == "boolean").cast("int")).alias("has_bool"),
        F.max((F.col("obs_type") == "double").cast("int")).alias("has_dbl"),
        F.max((F.col("obs_type") == "int64").cast("int")).alias("has_i64"),
        F.max((F.col("obs_type") == "int32").cast("int")).alias("has_i32"),
    )
    numeric = F.col("has_dbl") + F.col("has_i64") + F.col("has_i32")
    unified = (
        F.when(F.col("has_str") == 1, "string")
        .when((F.col("has_bool") == 1) & (numeric > 0), "string")
        .when(F.col("has_bool") == 1, "boolean")
        .when(F.col("has_dbl") == 1, "double")
        .when(F.col("has_i64") == 1, "int64")
        .otherwise("int32")
    )
    return flags.select("prop", unified.alias("unified_type"), F.col("n_obs").cast("long"))


UNIFY_SQL_CASE = """
CASE WHEN has_str = 1 THEN 'string'
     WHEN has_bool = 1 AND (has_dbl + has_i64 + has_i32) > 0 THEN 'string'
     WHEN has_bool = 1 THEN 'boolean'
     WHEN has_dbl = 1 THEN 'double'
     WHEN has_i64 = 1 THEN 'int64'
     ELSE 'int32' END
"""


def classify_sql(expr: str) -> str:
    """DuckDB twin of classify_value."""
    return f"""
CASE WHEN regexp_matches({expr}, '^(true|false)$') THEN 'boolean'
     WHEN regexp_matches({expr}, '^-?[0-9]+$')
          AND TRY_CAST({expr} AS BIGINT) BETWEEN {I32_MIN} AND {I32_MAX} THEN 'int32'
     WHEN regexp_matches({expr}, '^-?[0-9]+$') THEN 'int64'
     WHEN regexp_matches({expr}, '^-?[0-9]+\\.[0-9]+([eE][+-]?[0-9]+)?$') THEN 'double'
     ELSE 'string' END
"""
