"""Single-pass table profiler: per-column nulls / exact distincts /
min-max / top value.

No reference counterpart (net-new, lake-tooling surface): the first thing
a pipeline does with an unknown extract is profile it — null rates,
cardinalities, ranges, dominant values. The naive form runs one
count-distinct per column (C shuffles); this operator is the classic
long-form shape instead:

* ONE projection melts each row into (column, canonical-string value)
  structs — no UDF, no shuffle;
* ONE exchange keyed by (column, value) with map-side combine gives
  per-value counts — the only data-sized shuffle, its width bounded by
  per-column cardinality, not row count;
* a second (column)-keyed aggregate folds counts into the profile; the
  top value is a combinable ``min(struct(-n, v))`` argmax (count desc,
  value asc tie-break), never a window.

Canonical string casts keep both engines bit-identical: integrals and
decimals cast directly (decimals pad to scale on both), doubles go
through ``round(x, 4) -> DECIMAL(18,4)`` (a documented profile
convention), timestamps/dates format as ``yyyy-MM-dd HH:mm:ss`` (Spark
`date_format` == DuckDB `strftime`), ASCII min/max order is the same
lexicographic order on both. NULLs count into `n_nulls`, are excluded
from `n_distinct`/`min`/`max`/top (both engines' aggregates skip NULL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PROFILE_DOUBLE_DP = 4
_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def _canon(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(col.cast("double"), PROFILE_DOUBLE_DP).cast(
            f"decimal(18,{PROFILE_DOUBLE_DP})"
        ).cast("string")
    if isinstance(dtype, (T.TimestampType, T.DateType)):
        return F.date_format(col, _TS_FMT_SPARK)
    return col.cast("string")


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """(column_name, n_rows, n_nulls, n_distinct, min_v, max_v, top_v,
    top_n) per profiled column — two keyed aggregates, one data shuffle."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    names = columns if columns is not None else list(fields)
    structs = [
        F.struct(
            F.lit(name).alias("c"),
            _canon(F.col(name), fields[name]).alias("v"),
        )
        for name in names
    ]
    long = df.select(F.explode(F.array(*structs)).alias("cv")).select(
        F.col("cv.c").alias("c"), F.col("cv.v").alias("v")
    )
    per_val = long.groupBy("c", "v").agg(F.count(F.lit(1)).alias("n"))
    top = F.min(
        F.when(
            F.col("v").isNotNull(),
            F.struct((-F.col("n")).alias("nn"), F.col("v").alias("tv")),
        )
    )
    return (
        per_val.groupBy("c")
        .agg(
            F.sum("n").alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col("v").isNull(), F.col("n"))), F.lit(0)
            ).alias("n_nulls"),
            F.count(F.when(F.col("v").isNotNull(), F.lit(1))).alias(
                "n_distinct"
            ),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            top.alias("_t"),
        )
        .select(
            F.col("c").alias("column_name"),
            "n_rows",
            "n_nulls",
            "n_distinct",
            "min_v",
            "max_v",
            F.col("_t.tv").alias("top_v"),
            (-F.col("_t.nn")).cast("long").alias("top_n"),
        )
    )


def profile_oracle_sql(
    table: str, typed_cols: list[tuple[str, str]]
) -> str:
    """DuckDB transcription: `typed_cols` is [(name, kind)] with kind in
    {'str', 'int', 'double', 'ts'} choosing the same canonical cast."""
    arms = []
    for name, kind in typed_cols:
        if kind == "double":
            v = (
                f"CAST(CAST(round({name}, {PROFILE_DOUBLE_DP}) AS "
                f"DECIMAL(18,{PROFILE_DOUBLE_DP})) AS VARCHAR)"
            )
        elif kind == "ts":
            v = f"strftime({name}, '{_TS_FMT_DUCK}')"
        else:
            v = f"CAST({name} AS VARCHAR)"
        arms.append(f"SELECT '{name}' AS c, {v} AS v FROM {table}")
    body = "\n  UNION ALL ".join(arms)
    return f"""WITH long AS (
  {body}
), pv AS MATERIALIZED (
  SELECT c, v, count(*) AS n FROM long GROUP BY c, v
)
SELECT c AS column_name,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(COALESCE(sum(CASE WHEN v IS NULL THEN n END), 0) AS BIGINT)
         AS n_nulls,
       CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_distinct,
       min(v) AS min_v, max(v) AS max_v,
       (min(CASE WHEN v IS NOT NULL
                 THEN {{'nn': -n, 'tv': v}} END)).tv AS top_v,
       CAST(-(min(CASE WHEN v IS NOT NULL
                       THEN {{'nn': -n, 'tv': v}} END)).nn AS BIGINT)
         AS top_n
FROM pv GROUP BY c ORDER BY c
"""


def fd_discovery(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """(det, dep, n_groups, n_violations, holds): does det -> dep hold
    functionally? A violation is a det-value whose rows carry more than
    one distinct dep-value — n_violations == 0 means the dependency (and
    for a det tried against every other column, a candidate key) holds.
    Classic profiling primitive (TANE et al., public); here the
    SEARCHED pair list is explicit and bounded.

    Same one-shuffle shape as `profile_table`: each row melts into one
    (pair, det-value, dep-value) struct per searched pair, ONE exchange
    keyed by (pair, det-value) with map-side combine counts distinct
    dep-values per group, and a pair-keyed rollup grades each
    dependency. Row volume multiplies by |pairs| before the map-side
    combine — the documented cost knob (profile a sample for wide
    searches)."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    structs = [
        F.struct(
            F.lit(f"{det}->{dep}").alias("p"),
            _canon(F.col(det), fields[det]).alias("a"),
            _canon(F.col(dep), fields[dep]).alias("b"),
        )
        for det, dep in pairs
    ]
    long = df.select(F.explode(F.array(*structs)).alias("x")).select(
        "x.p", "x.a", "x.b"
    )
    # The dep VALUE is never output, only counted distinct — so the
    # count-distinct expand runs on a 64-bit hash (value-identical up to
    # 2^-64 collisions, the dedup family's accepted risk class), which
    # keeps the distinct machinery on fixed-width longs instead of
    # strings (measured 2.9 -> 2.5 s at sf0.1). NULL deps stay NULL so
    # count_distinct keeps ignoring them (xxhash64(NULL) would be a real
    # value). The det GROUP key stays the canonical string: typical
    # canonical values (ids, dates) are shorter than an 8-byte hash, so
    # hashing the key grew the exchange ~1.5x for no benefit.
    hashed = long.select(
        "p",
        "a",
        F.when(F.col("b").isNotNull(), F.xxhash64("b")).alias("_bh"),
    )
    per_group = hashed.groupBy("p", "a").agg(
        F.count_distinct("_bh").alias("nb")
    )
    return (
        per_group.groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(F.col("nb") > 1, 1).otherwise(0)).alias(
                "n_violations"
            ),
        )
        .select(
            F.split(F.col("p"), "->").getItem(0).alias("det"),
            F.split(F.col("p"), "->").getItem(1).alias("dep"),
            "n_groups",
            "n_violations",
            (F.col("n_violations") == 0).alias("holds"),
        )
    )


def fd_oracle_sql(
    table: str,
    typed_pairs: list[tuple[str, str, str, str]],
) -> str:
    """DuckDB transcription; `typed_pairs` is [(det, det_kind, dep,
    dep_kind)] with the profile canonical-cast kinds."""

    def cast(name: str, kind: str) -> str:
        if kind == "double":
            return (
                f"CAST(CAST(round({name}, {PROFILE_DOUBLE_DP}) AS "
                f"DECIMAL(18,{PROFILE_DOUBLE_DP})) AS VARCHAR)"
            )
        if kind == "ts":
            return f"strftime({name}, '{_TS_FMT_DUCK}')"
        return f"CAST({name} AS VARCHAR)"

    arms = [
        f"SELECT '{det}->{dep}' AS p, {cast(det, dk)} AS a, "
        f"{cast(dep, pk)} AS b FROM {table}"
        for det, dk, dep, pk in typed_pairs
    ]
    body = "\n  UNION ALL ".join(arms)
    return f"""WITH long AS (
  {body}
), per_group AS MATERIALIZED (
  SELECT p, a, count(DISTINCT b) AS nb FROM long GROUP BY p, a
)
SELECT string_split(p, '->')[1] AS det, string_split(p, '->')[2] AS dep,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(COALESCE(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_violations,
       COALESCE(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END), 0) = 0 AS holds
FROM per_group GROUP BY p ORDER BY det, dep
"""
