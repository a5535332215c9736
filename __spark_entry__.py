"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exercises the engine's operator inventory (SURVEY.md §2 + the
LLM-pipeline extensions) over the driver's synthetic tables; `oracle_sql()`
holds semantically identical DuckDB SQL. Column names/types are aligned on
both sides; float outputs are rounded identically; hashes are md5-hex→int60
(reproducible in both engines).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has carried either TIMESTAMP(NANOS) (older generator:
    Spark rejects it without nanosAsLong, which then surfaces it as a LONG
    of nanos) or TIMESTAMP(MICROS, isAdjustedToUTC=false) (current
    generator: reads natively as TIMESTAMP_NTZ).  Normalise both to an NTZ
    micro-precision column so downstream queries are tz-independent —
    exactly how DuckDB sees the same file (naive TIMESTAMP)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _t(spark, sf_dir, "events")
    dt = dict(df.dtypes)["ts"]
    if dt in ("bigint", "long"):
        # nanos→micros with integer `div` (a double `/ 1000` would wobble
        # ±1 µs at 1.7e18 ns, diverging from DuckDB's exact truncation)
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


# ---------------------------------------------------------------------------
# mapping-engine queries (the reference's core surface, via the compiler)
# ---------------------------------------------------------------------------

_CUSTOMER_MAPPING = """
klass: CustomerRecord
columns:
- column: c_name
  mappings:
  - field: name_clean
    clean: :name
  - field: name_code
    match: '#(\\d+)'
  - field: segment_or_name
    priority: 2
- column: c_mktsegment
  mappings:
  - field: segment
    map:
      'BUILDING': 'BLD'
      'AUTOMOBILE': 'AUTO'
  - field: segment_or_name
    replace:
      'MACHINERY': ''
    priority: 1
- column: c_custkey
  mappings:
  - field: cust_nation
    join: '-'
    order: 1
- column: c_nationkey
  mappings:
  - field: cust_nation
    order: 2
  - field: due_date
    daysafter: '1995-01-01'
"""


def q_map_clean_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YAML mapping → compiled Catalyst pipeline over the customer table:
    clean/match/map/replace/priority/join/daysafter ops end-to-end."""
    from ndr_import_spark.operators.compiler import compile_records
    from ndr_import_spark.plans.yaml_loader import load_mapping

    customer = _t(spark, sf_dir, "customer")
    cells_df = customer.select(
        F.lit("customer.parquet").alias("source_file"),
        F.col("c_custkey").cast("long").alias("row_index"),
        F.array(
            F.col("c_name").cast("string"),
            F.col("c_mktsegment").cast("string"),
            F.col("c_custkey").cast("string"),
            F.col("c_nationkey").cast("string"),
        ).alias("cells"),
    )
    mapping = load_mapping(_CUSTOMER_MAPPING)
    records = compile_records(mapping, cells_df, strict=False)
    f = F.col("fields")
    return records.select(
        F.col("row_index").alias("c_custkey"),
        F.element_at(f, F.lit("name_clean")).alias("name_clean"),
        F.element_at(f, F.lit("name_code")).alias("name_code"),
        F.element_at(f, F.lit("segment")).alias("segment"),
        F.element_at(f, F.lit("segment_or_name")).alias("segment_or_name"),
        F.element_at(f, F.lit("cust_nation")).alias("cust_nation"),
        F.element_at(f, F.lit("due_date")).cast("date").alias("due_date"),
    )


_ORACLE_MAP_CLEAN = """
SELECT
  c_custkey,
  trim(regexp_replace(regexp_replace(regexp_replace(upper(c_name), '\\.', '', 'g'),
       ',', ' ', 'g'), '\\s+', ' ', 'g')) AS name_clean,
  nullif(trim(regexp_extract(c_name, '#(\\d+)', 1)), '') AS name_code,
  CASE c_mktsegment WHEN 'BUILDING' THEN 'BLD' WHEN 'AUTOMOBILE' THEN 'AUTO'
       ELSE c_mktsegment END AS segment,
  coalesce(nullif(trim(replace(c_mktsegment, 'MACHINERY', '')), ''),
           nullif(trim(c_name), '')) AS segment_or_name,
  cast(c_custkey as varchar) || '-' || cast(c_nationkey as varchar) AS cust_nation,
  cast(DATE '1995-01-01' + to_days(c_nationkey::int) as date) AS due_date
FROM customer
"""


def q_map_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width unpack (substring tabulation) over synthetic packed rows
    built from orders: 10-char key, 1-char status, rest priority."""
    from ndr_import_spark.operators.fixed_width import cells_from_fixed_width
    from ndr_import_spark.plans.yaml_loader import load_mapping

    orders = _t(spark, sf_dir, "orders")
    packed = orders.select(
        F.col("o_orderkey"),
        F.concat(
            F.rpad(F.col("o_orderkey").cast("string"), 10, " "),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        ).alias("line"),
    )
    mapping = load_mapping(
        """
klass: Packed
columns:
- column: key
  unpack_pattern: A10
  mappings:
  - field: key
- column: status
  unpack_pattern: a1
  mappings:
  - field: status
- column: priority
  unpack_pattern: 'a*'
  mappings:
  - field: priority
"""
    )
    cells = cells_from_fixed_width(F.col("line"), mapping)
    return packed.select(
        F.col("o_orderkey"),
        F.trim(cells[0]).alias("key"),
        cells[1].alias("status"),
        F.trim(cells[2]).alias("priority"),
    )


_ORACLE_FIXED_WIDTH = """
SELECT o_orderkey,
       trim(substring(line, 1, 10)) AS key,
       substring(line, 11, 1) AS status,
       trim(substring(line, 12, 1000)) AS priority
FROM (
  SELECT o_orderkey,
         rpad(cast(o_orderkey as varchar), 10, ' ') || o_orderstatus || o_orderpriority AS line
  FROM orders
) t
"""


_NONTAB_MAPPING = """
klass: OrderDoc
start_line_pattern: !ruby/regexp /^ORDER/
end_line_pattern: !ruby/regexp /^--END--/
capture_start_line: true
remove_lines:
  pageheader:
  - 'PAGE 1'
columns:
- column: order_line
  non_tabular_cell:
    lines: 0
    capture: !ruby/regexp /^ORDER (\\d+)$/
  mappings:
  - field: order_key
- column: cust_line
  non_tabular_cell:
    lines: 1
    capture: !ruby/regexp '/^CUST: (.*)$/'
  mappings:
  - field: cust_key
- column: status_line
  non_tabular_cell:
    lines: !ruby/object:RegexpRange
      begin: !ruby/regexp /^STATUS/
      end: !ruby/regexp /^PRIORITY/
      excl: true
    capture: !ruby/regexp '/^STATUS: (.*)$/'
  mappings:
  - field: status
- column: priority_line
  non_tabular_cell:
    lines: 3
    capture: !ruby/regexp '/^PRIORITY: (.*)$/'
  mappings:
  - field: priority
"""


def q_nontabular_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-tabular sessionization end-to-end: a synthetic multi-line report
    built from orders (6 lines/order incl. a removed page header) is
    partitioned into records (start/end patterns), page headers dropped via
    remove_lines, cells tabulated by int lines + RegexpRange + capture
    regexes, then the standard mapper emits records. The oracle is the
    orders table itself — the pipeline must reconstruct it exactly.

    Covers SURVEY §2.4 (reference lib/ndr_import/non_tabular/*)."""
    from ndr_import_spark.operators.compiler import compile_records
    from ndr_import_spark.operators.nontabular import tabulate_non_tabular
    from ndr_import_spark.plans.yaml_loader import load_mapping

    from ndr_import_spark.operators.textstats import spread_rows

    # spread the one-row-group scan before synthesising 6 lines/order —
    # the line build + tabulation windows otherwise start single-task
    orders = spread_rows(_t(spark, sf_dir, "orders"))
    lines = (
        orders.select(
            F.col("o_orderkey"),
            F.posexplode(
                F.array(
                    F.concat(F.lit("ORDER "), F.col("o_orderkey").cast("string")),
                    F.lit("PAGE 1"),
                    F.concat(F.lit("CUST: "), F.col("o_custkey").cast("string")),
                    F.concat(F.lit("STATUS: "), F.col("o_orderstatus")),
                    F.concat(F.lit("PRIORITY: "), F.col("o_orderpriority")),
                    F.lit("--END--"),
                )
            ).alias("pos", "value"),
        )
        .select(
            # shard into 32 "files": sessionization parallelism comes from the
            # per-file window partitioning (records never span files)
            F.concat(
                F.lit("orders-"), (F.col("o_orderkey") % 32).cast("string"), F.lit(".txt")
            ).alias("source_file"),
            (F.col("o_orderkey") * 6 + F.col("pos")).alias("row_index"),
            "value",
        )
    )
    mapping = load_mapping(_NONTAB_MAPPING)
    cells_df = tabulate_non_tabular(lines, mapping, strict=False)
    records = compile_records(mapping, cells_df, strict=False)
    f = F.col("fields")
    return records.select(
        F.element_at(f, F.lit("order_key")).cast("long").alias("o_orderkey"),
        F.element_at(f, F.lit("cust_key")).cast("long").alias("o_custkey"),
        F.element_at(f, F.lit("status")).alias("status"),
        F.element_at(f, F.lit("priority")).alias("priority"),
    )


_ORACLE_NONTABULAR = """
SELECT o_orderkey, o_custkey, o_orderstatus AS status, o_orderpriority AS priority
FROM orders
"""


def q_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML table operator end-to-end: part rows serialised to XML record
    strings, parsed with Spark's native from_xml into structs, cells
    extracted by compiled xpath navigation (element text + attribute +
    nested path), validated for unmapped leaves, then mapped to records.
    Oracle = the part table itself.

    Covers SURVEY §2.5 (reference lib/ndr_import/xml/table.rb)."""
    from ndr_import_spark.operators.xml_table import transform_xml_table
    from ndr_import_spark.plans.yaml_loader import load_mapping

    part = _t(spark, sf_dir, "part")
    xml = F.concat(
        F.lit("<part><id>"), F.col("p_partkey").cast("string"), F.lit("</id>"),
        F.lit('<name brand="'), F.col("p_brand"), F.lit('">'),
        F.col("p_name"), F.lit("</name>"),
        F.lit("<detail><type>"), F.col("p_type"), F.lit("</type>"),
        F.lit("<size>"), F.col("p_size").cast("string"), F.lit("</size></detail>"),
        F.lit("</part>"),
    )
    schema = ("id STRING, name STRUCT<_VALUE: STRING, _brand: STRING>, "
              "detail STRUCT<type: STRING, size: STRING>")
    parsed = part.select(
        F.lit("part.xml").alias("source_file"),
        F.col("p_partkey").cast("long").alias("row_index"),
        F.from_xml(xml, schema).alias("r"),
    ).select("source_file", "row_index", "r.*")

    mapping = load_mapping(
        """
klass: PartRecord
columns:
- column: id
  mappings:
  - field: part_key
- column: name
  mappings:
  - field: part_name
- column: name
  rawtext_name: name_brand
  xml_cell:
    attribute: brand
  mappings:
  - field: brand
- column: type
  xml_cell:
    relative_path: detail
  mappings:
  - field: part_type
- column: size
  xml_cell:
    relative_path: detail
  mappings:
  - field: part_size
"""
    )
    records = transform_xml_table(parsed, mapping, strict=True)
    f = F.col("fields")
    return records.select(
        F.element_at(f, F.lit("part_key")).cast("long").alias("p_partkey"),
        F.element_at(f, F.lit("brand")).alias("brand"),
        F.element_at(f, F.lit("part_name")).alias("part_name"),
        F.element_at(f, F.lit("part_type")).alias("part_type"),
        F.element_at(f, F.lit("part_size")).cast("int").alias("part_size"),
    )


_ORACLE_XML = """
SELECT p_partkey, p_brand AS brand, p_name AS part_name, p_type AS part_type,
       p_size AS part_size
FROM part
"""


# ---------------------------------------------------------------------------
# relational / analytical queries (Spark SQL surface over records)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))).cast(
                    "decimal(28,4)"
                )
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base_price,
  cast(sum(cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4)))
      as double) AS sum_disc_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem, top-10. No broadcast hints on
    purpose: all three are fact-scale tables at 100 TB, so the joins must
    be plannable as shuffle joins — AQE auto-broadcasts whichever
    filtered side happens to fit at a given scale factor."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_ORACLE_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  cast(sum(cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4)))
      as double) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1995-03-15' AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem ⋈ supplier — the
    multi-join path. Broadcast hints only on the TRUE dims (nation,
    region — bounded row counts at any scale); orders/customer/supplier
    grow with the corpus, so their joins stay plannable as shuffle joins
    and AQE auto-broadcasts whichever side fits at a given SF."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .filter(cust.c_nationkey == sup.s_nationkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("n_name"))
    )


_ORACLE_Q5 = """
SELECT n_name,
  cast(sum(cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4)))
      as double) AS revenue,
  count(*) AS n_items
FROM lineitem, orders, customer, supplier, nation, region
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
GROUP BY n_name
ORDER BY n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01"))
        & (F.col("l_shipdate") < F.lit("1995-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(
            (F.col("l_extendedprice").cast("decimal(18,2)")
             * F.col("l_discount").cast("decimal(18,2)")).cast("decimal(28,4)")
        ).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_ORACLE_Q6 = """
SELECT
  cast(sum(cast(cast(l_extendedprice as decimal(18,2)) *
      cast(l_discount as decimal(18,2)) as decimal(28,4))) as double) AS revenue,
  count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregation (ROLLUP flag → flag+status → grand total) —
    one pass with partial aggregation at every level."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


_ORACLE_ROLLUP = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def q_setops_steady_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: suppliers shipping in BOTH 1995 and 1996 (INTERSECT)
    minus above-average-volume suppliers (EXCEPT; the threshold is an
    aggregate of the data itself, so the query is scale-invariant)."""
    li = _t(spark, sf_dir, "lineitem")
    y95 = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-01-01"))
    ).select("l_suppkey")
    y96 = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    ).select("l_suppkey")
    per_supp = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    avg_cnt = per_supp.agg(F.avg("cnt").alias("avg_cnt"))
    busy = (
        per_supp.crossJoin(F.broadcast(avg_cnt))
        .filter(F.col("cnt") > F.col("avg_cnt"))
        .select("l_suppkey")
    )
    return y95.intersect(y96).exceptAll(busy).orderBy("l_suppkey")


_ORACLE_SETOPS = """
SELECT l_suppkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
INTERSECT
SELECT l_suppkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
EXCEPT
SELECT l_suppkey FROM lineitem GROUP BY l_suppkey
HAVING count(*) > (SELECT cast(count(*) as double) / count(distinct l_suppkey) FROM lineitem)
ORDER BY l_suppkey
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's most recent order at the
    event time. Union+window formulation — one shuffle on the key, no
    range-join explosion (operators/asof.py). Right side deduped to one row
    per (custkey, orderdate) for deterministic ties on both engines."""
    from ndr_import_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts"),
        orders,
        left_on="ts",
        right_on="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        how="inner",
    )
    return joined.select(
        "event_id", "user_id", F.col("o_orderkey"), F.col("o_orderdate").cast("date").alias("o_orderdate")
    ).orderBy("event_id")


_ORACLE_ASOF = """
WITH o AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, o.o_orderkey, cast(o.o_orderdate as date) AS o_orderdate
FROM events e ASOF JOIN o
ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
ORDER BY e.event_id
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min idle) — the same prefix-sum pattern
    as the non-tabular record partitioner, on the events stream table."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Exact microsecond gap (timestampdiff ↔ DuckDB epoch_us): whole-second
    # truncation here vs fractional epoch() in the oracle disagrees whenever
    # a true gap lands in (1800, 1801) s — every ts in the table carries
    # sub-second precision.  timestampdiff (not unix_micros, which rejects
    # TIMESTAMP_NTZ) is calendar arithmetic — exact and tz-independent on
    # the NTZ column, matching DuckDB's naive-timestamp subtraction.
    prev = F.lag("ts").over(w)
    gap = F.expr("timestampdiff(MICROSECOND, _prev_ts, ts)")
    new_session = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("_prev_ts", prev).withColumn("_new", new_session).withColumn(
        "session_id", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
            # Scaled-integer output: the decimal sum is exact on both engines,
            # and emitting it as bigint 1e-4 units keeps every hashed value an
            # integer — immune to any float canonicalization in the harness.
            (F.sum(F.col("value").cast("decimal(18,4)")) * 10000)
            .cast("long")
            .alias("total_value_e4"),
        )
        .orderBy("user_id")
    )


_ORACLE_EVENTS_SESSIONIZE = """
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
         THEN 1 ELSE 0 END AS _new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, value,
    sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id,
       -- cast: DuckDB windowed sum over int is HUGEINT, which pandas/arrow
       -- renders as float64 ("3.0" vs Spark's "3") and breaks the value hash
       cast(max(session_id) as bigint) AS n_sessions, count(*) AS n_events,
       cast(sum(cast(value as decimal(18,4))) * 10000 as bigint) AS total_value_e4
FROM sess GROUP BY user_id ORDER BY user_id
"""


def q_events_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.col("event_type"), F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .orderBy("event_type", "day")
    )


_ORACLE_EVENTS_DAILY = """
SELECT event_type, cast(ts as date) AS day, count(*) AS n,
       cast(sum(cast(value as decimal(18,4))) as double) AS sum_value,
       count(distinct user_id) AS n_users
FROM events GROUP BY event_type, cast(ts as date)
ORDER BY event_type, day
"""


def q_events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level agg + window rank: top-3 users by value per event type."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total_value").desc(), F.col("user_id")
    )
    return (
        per_user.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("event_type", "rnk")
    )


_ORACLE_EVENTS_TOP_USERS = """
WITH per_user AS (
  SELECT event_type, user_id,
         cast(sum(cast(value as decimal(18,4))) as double) AS total_value
  FROM events GROUP BY event_type, user_id
)
SELECT * FROM (
  SELECT event_type, user_id, total_value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY total_value DESC, user_id) AS rnk
  FROM per_user
) WHERE rnk <= 3 ORDER BY event_type, rnk
"""


# ---------------------------------------------------------------------------
# dedup / text-analysis / similarity (LLM-pipeline operators)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ndr_import_spark.operators.dedup import exact_duplicate_groups
    docs = _t(spark, sf_dir, "documents")
    return exact_duplicate_groups(docs).orderBy("content_hash")


_ORACLE_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash,
       count(*) AS n_docs, min(doc_id) AS canonical_id
FROM documents
GROUP BY 1 HAVING count(*) > 1 ORDER BY content_hash
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ndr_import_spark.operators.dedup import minhash_lsh_pairs
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, k=16, bands=4, verify_threshold=0.5).orderBy(
        "id_a", "id_b"
    )


def _oracle_banded_jaccard(sh_expr: str, pre_cte: str, salt: str, k: int,
                           bands: int, thr: float,
                           star: bool = False) -> str:
    """Shared DuckDB replica of dedup._banded_jaccard_pairs /
    dedup.minhash_lsh_star_edges: shingle-hash once (distinct 30-bit
    ints), k affine permutations, banded keys, exact-Jaccard verify over
    the hashed shingle sets (matching the Spark side, which never ships
    string shingles into the verify join). ``star=True`` replays the
    linear star-edge form (bucket min-id anchor -> member, no bucket
    cap); the default replays pairwise candidates under the HAVING
    bucket cap."""
    from ndr_import_spark.operators.dedup import MINHASH_P, minhash_perm_consts

    rows = k // bands
    consts = minhash_perm_consts(k, salt)
    hs = ("list_distinct(list_transform(sh, s -> "
          "cast(('0x' || substring(md5(s), 1, 15)) as bigint) "
          f"& {(1 << 30) - 1}))")
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in consts
    )
    band_keys = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(array_to_string(sig[{b * rows + 1}:{(b + 1) * rows}], ',')) AS key FROM sigs"
        for b in range(bands)
    )
    if star:
        cand_cte = """centers AS (
  SELECT band, key, min(doc_id) AS ctr FROM banded GROUP BY band, key
),
pairs AS (
  SELECT DISTINCT c.ctr AS id_a, b.doc_id AS id_b
  FROM banded b JOIN centers c USING (band, key)
  WHERE b.doc_id <> c.ctr
)"""
    else:
        cand_cte = """okb AS (
  SELECT band, key FROM banded GROUP BY band, key HAVING count(*) <= 1024
), bandedc AS (
  SELECT b.* FROM banded b JOIN okb USING (band, key)
),
pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bandedc l JOIN bandedc r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
)"""
    return f"""
WITH {pre_cte}shingled AS (
  SELECT doc_id, {sh_expr} AS sh FROM {"t" if pre_cte else "documents"}
), hashed AS (
  SELECT doc_id, sh, {hs} AS hs FROM shingled
), sigs AS (
  SELECT doc_id, [{sig_items}] AS sig FROM hashed
), banded AS ({band_keys}),
{cand_cte}
SELECT p.id_a, p.id_b,
  round(cast(len(list_intersect(a.hs, b.hs)) as double) /
        len(list_distinct(list_concat(a.hs, b.hs))), 5) AS jaccard
FROM pairs p
JOIN hashed a ON a.doc_id = p.id_a
JOIN hashed b ON b.doc_id = p.id_b
WHERE cast(len(list_intersect(a.hs, b.hs)) as double) /
      len(list_distinct(list_concat(a.hs, b.hs))) >= {thr}
ORDER BY id_a, id_b
"""


def _oracle_minhash(k: int = 16, bands: int = 4, shingle_n: int = 5, thr: float = 0.5,
                    star: bool = False) -> str:
    norm = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    sh = (f"list_distinct(list_transform(range(1, greatest(length({norm}) - {shingle_n} + 1, 1) + 1), "
          f"i -> substring({norm}, i, {shingle_n})))")
    return _oracle_banded_jaccard(sh, "", "mh", k, bands, thr, star=star)


def q_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality meta-evaluation (operators/dedup.py
    lsh_quality_report): recall & precision of the PRODUCTION banded
    MinHash bucketing vs exact all-pairs Jaccard on the bounded
    doc_id<300 sample — the MMDS S-curve validation you run before
    trusting (k, bands) at corpus scale. The oracle reruns both the
    candidate chain and the ground truth independently in DuckDB."""
    from ndr_import_spark.operators.dedup import lsh_quality_report

    docs = _t(spark, sf_dir, "documents")
    return lsh_quality_report(docs).orderBy("metric")


def _oracle_lsh_quality(
    k: int = 16, bands: int = 4, shingle_n: int = 5, thr: float = 0.5,
    sample_max_id: int = 300,
) -> str:
    from ndr_import_spark.operators.dedup import MINHASH_P, minhash_perm_consts

    rows = k // bands
    consts = minhash_perm_consts(k, "mh")
    norm = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    sh = (f"list_distinct(list_transform(range(1, greatest(length({norm}) - {shingle_n} + 1, 1) + 1), "
          f"i -> substring({norm}, i, {shingle_n})))")
    hs = ("list_distinct(list_transform(sh, s -> "
          "cast(('0x' || substring(md5(s), 1, 15)) as bigint) "
          f"& {(1 << 30) - 1}))")
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in consts
    )
    band_keys = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(array_to_string(sig[{b * rows + 1}:{(b + 1) * rows}], ',')) AS key FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id < {sample_max_id}),
shingled AS (SELECT doc_id, {sh} AS sh FROM t),
hashed AS MATERIALIZED (SELECT doc_id, {hs} AS hs FROM shingled),
sigs AS MATERIALIZED (SELECT doc_id, [{sig_items}] AS sig FROM hashed),
banded AS MATERIALIZED ({band_keys}),
cand AS MATERIALIZED (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
),
truth AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id
  WHERE cast(len(list_intersect(a.hs, b.hs)) as double) /
        len(list_distinct(list_concat(a.hs, b.hs))) >= {thr}
),
hits AS MATERIALIZED (
  SELECT t.* FROM truth t JOIN cand c
    ON t.id_a = c.id_a AND t.id_b = c.id_b
),
ns AS (SELECT (SELECT count(*) FROM truth) AS nt,
              (SELECT count(*) FROM cand) AS nc,
              (SELECT count(*) FROM hits) AS nh)
SELECT metric, value FROM (
  SELECT 'n_candidates' AS metric, CAST(nc AS DOUBLE) AS value FROM ns
  UNION ALL SELECT 'n_hits', CAST(nh AS DOUBLE) FROM ns
  UNION ALL SELECT 'n_truth', CAST(nt AS DOUBLE) FROM ns
  UNION ALL SELECT 'precision',
    CASE WHEN nc > 0 THEN round(CAST(nh AS DOUBLE) / nc, 5) ELSE 1.0 END
    FROM ns
  UNION ALL SELECT 'recall',
    CASE WHEN nt > 0 THEN round(CAST(nh AS DOUBLE) / nt, 5) ELSE 1.0 END
    FROM ns
) ORDER BY metric
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup over documents: docs equi-join their
    embeddings on id, hyperplane-LSH buckets (8-bit sign signatures) limit
    comparisons to in-bucket pairs, cosine >= 0.25 pairs become drop
    decisions (drop the higher id, keep its lowest partner). All three
    aggregates (min/count/max) are order-independent, and the cosine is
    ranked on its 5dp rounding — engine-stable output."""
    from ndr_import_spark.operators.dedup import embedding_neardup_drops

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_drops(
        docs, emb, dim=64, planes=8, threshold=0.25
    ).orderBy("doc_id")


def _oracle_dedup_embedding(planes: int = 8, dim: int = 64, thr: float = 0.25) -> str:
    from ndr_import_spark.operators.similarity import _md5_bit

    def plane(p: int) -> str:
        arr = "[" + ",".join(
            "1.0" if _md5_bit(f"hp{p}:{i}") else "-1.0" for i in range(dim)
        ) + "]"
        return f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {2 ** p} ELSE 0 END)"

    sig = " + ".join(plane(p) for p in range(planes))
    cos = ("list_dot_product(l.v, r.v) / "
           "(sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v)))")
    return f"""
WITH d AS (SELECT doc_id FROM documents),
e AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings),
j AS (SELECT d.doc_id, e.v FROM d JOIN e ON e.vec_id = d.doc_id),
sigs AS (SELECT doc_id, v, {sig} AS sig FROM j),
pairs AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, round({cos}, 5) AS cos
  FROM sigs l JOIN sigs r ON l.sig = r.sig AND l.doc_id < r.doc_id
  WHERE {cos} >= {thr}
)
SELECT id_b AS doc_id, min(id_a) AS keep_id, count(*) AS n_dups, max(cos) AS max_cos
FROM pairs GROUP BY id_b ORDER BY doc_id
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ndr_import_spark.operators.dedup import simhash_duplicate_groups
    docs = _t(spark, sf_dir, "documents")
    return simhash_duplicate_groups(docs, bits=16).orderBy("simhash")


def _oracle_simhash(bits: int = 16) -> str:
    norm = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    toks = f"list_filter(string_split({norm}, ' '), t -> t <> '')"
    th = f"list_transform({toks}, t -> cast(('0x' || substring(md5(t), 1, 15)) as bigint))"
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(th, h -> CASE WHEN (h >> {j}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN cast({2**j} as bigint) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
WITH hashed AS (SELECT doc_id, {th} AS th FROM documents),
sigs AS (SELECT doc_id, {bit_terms} AS simhash FROM hashed)
SELECT simhash, count(*) AS n_docs, min(doc_id) AS canonical_id
FROM sigs GROUP BY simhash HAVING count(*) > 1 ORDER BY simhash
"""


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash Hamming pairs (48-bit signature, 4 bands of 12-bit
    slices, distance ≤ 3): exact recall by pigeonhole, (band, slice)
    self-join only, bit_count(xor) verification on 8-byte signatures.
    12-bit slices keep bucket occupancy ~n/4096 — the 8-bit slices of a
    32-bit signature went quadratic at the sf1 scaling point."""
    from ndr_import_spark.operators.dedup import simhash_hamming_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_hamming_pairs(docs).orderBy("id_a", "id_b")


def _oracle_simhash_pairs(bits: int = 48, bands: int = 4, maxd: int = 3) -> str:
    norm = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    toks = f"list_filter(string_split({norm}, ' '), t -> t <> '')"
    th = f"list_transform({toks}, t -> cast(('0x' || substring(md5(t), 1, 15)) as bigint))"
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(th, h -> CASE WHEN (h >> {j}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN cast({2**j} as bigint) ELSE 0 END)"
        for j in range(bits)
    )
    width = bits // bands
    mask = (1 << width) - 1
    band_keys = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, (simhash >> {b * width}) & {mask} AS key FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH hashed AS (SELECT doc_id, {th} AS th FROM documents),
sigs AS (SELECT doc_id, {bit_terms} AS simhash FROM hashed),
banded AS ({band_keys}),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
)
SELECT c.id_a, c.id_b, bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM cand c
JOIN sigs a ON a.doc_id = c.id_a
JOIN sigs b ON b.doc_id = c.id_b
WHERE bit_count(xor(a.simhash, b.simhash)) <= {maxd}
ORDER BY id_a, id_b
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ndr_import_spark.operators.dedup import ngram_jaccard_pairs
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5).orderBy("id_a", "id_b")


def _oracle_ngram_jaccard(ngram_n: int = 3, thr: float = 0.5, k: int = 8, bands: int = 2) -> str:
    norm = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    toks = f"list_filter(string_split({norm}, ' '), t -> t <> '')"
    sh = (f"list_distinct(list_transform(range(1, greatest(len(toks) - {ngram_n} + 1, 1) + 1), "
          f"i -> array_to_string(toks[i:i+{ngram_n - 1}], ' ')))")
    pre = f"t AS (SELECT doc_id, {toks} AS toks FROM documents), "
    return _oracle_banded_jaccard(sh, pre, "ng", k, bands, thr)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ndr_import_spark.operators import textstats as ts
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        ts.token_count(t).alias("n_tokens"),
        F.round(ts.punct_ratio(t), 5).alias("punct_ratio"),
        F.round(ts.alpha_ratio(t), 5).alias("alpha_ratio"),
        F.round(ts.mean_word_length(t), 5).alias("mean_word_len"),
        ts.fingerprint(t).alias("fingerprint"),
    ).orderBy("doc_id")


_ORACLE_TEXT_STATS = """
WITH t AS (
  SELECT doc_id, text,
    list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
                x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
  len(toks) AS n_tokens,
  round(CASE WHEN length(text) > 0 THEN
    cast(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) as double) / length(text)
    ELSE 0 END, 5) AS punct_ratio,
  round(CASE WHEN length(text) > 0 THEN
    cast(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) as double) / length(text)
    ELSE 0 END, 5) AS alpha_ratio,
  round(CASE WHEN len(toks) > 0 THEN
    cast(list_sum(list_transform(toks, x -> length(x))) as double) / len(toks)
    ELSE 0 END, 5) AS mean_word_len,
  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
FROM t ORDER BY doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ndr_import_spark.operators import textstats as ts
    docs = _t(spark, sf_dir, "documents")
    pred = ts.detect_language(F.col("text"))
    return (
        docs.select(F.col("lang").alias("actual_lang"), pred.alias("pred_lang"))
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("actual_lang", "pred_lang")
    )


def _oracle_lang_id() -> str:
    from ndr_import_spark.operators.textstats import STOPWORDS
    toks = ("list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '), "
            "x -> x <> '')")
    ratio_exprs = []
    for lang, words in STOPWORDS.items():
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        ratio_exprs.append(
            f"CASE WHEN len(toks) > 0 THEN cast(len(list_filter(toks, t -> list_contains({arr}, t))) as double) / len(toks) ELSE 0 END AS r_{lang}"
        )
    langs = list(STOPWORDS)
    pred = "CASE"
    # declaration-order argmax with strictly-greater comparison (matches the
    # Spark fold in detect_language)
    best = "0.0"
    pred_expr = "'und'"
    for lang in langs:
        pred_expr = f"CASE WHEN r_{lang} > {best} THEN '{lang}' ELSE {pred_expr} END"
        best = f"greatest({best}, r_{lang})" if best != "0.0" else f"r_{lang}"
    # rebuild as nested expression evaluated in declaration order
    cases = []
    running_best = None
    expr = "'und'"
    running = []
    for lang in langs:
        running.append(lang)
    # fold forward: keep (bestlang, bestscore) pairs textually
    bestlang = "'und'"
    bestscore = "cast(0.0 as double)"
    for lang in langs:
        bestlang = f"(CASE WHEN r_{lang} > {bestscore} THEN '{lang}' ELSE {bestlang} END)"
        bestscore = f"(CASE WHEN r_{lang} > {bestscore} THEN r_{lang} ELSE {bestscore} END)"
    ratios = ",\n    ".join(ratio_exprs)
    return f"""
WITH t AS (
  SELECT doc_id, lang, text, {toks} AS toks FROM documents
), scored AS (
  SELECT doc_id, lang,
    {ratios}
  FROM t
)
SELECT lang AS actual_lang, {bestlang} AS pred_lang, count(*) AS n
FROM scored GROUP BY 1, 2 ORDER BY actual_lang, pred_lang
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + threshold filter — the 'keep good training docs'
    pipeline stage."""
    from ndr_import_spark.operators import textstats as ts
    # spread the one-row-group scan: the quality regexes otherwise run as
    # ONE 1.8 s scan task (profiled: 1.79 s of 1.88 s total stage wall)
    docs = ts.spread_rows(_t(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id", "source", ts.quality_score(F.col("text")).alias("quality")
        )
        .filter(F.col("quality") >= 0.5)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"),
             # Exact decimal sum ÷ count: avg(double) sums in partition order,
             # so its last ulp — and thus round(,5) on a .000005 boundary —
             # is nondeterministic across engines/partitionings.
             (F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
              / F.count(F.lit(1))).alias("avg_quality"))
        .orderBy("source")
    )


def _oracle_quality() -> str:
    toks = ("list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '), "
            "x -> x <> '')")
    return f"""
WITH t AS (
  SELECT doc_id, source, text, {toks} AS toks FROM documents
), parts AS (
  SELECT doc_id, source,
    least(cast(len(toks) as double) / 20.0, 1.0) AS length_ok,
    CASE WHEN len(toks) > 0 AND
      cast(list_sum(list_transform(toks, x -> length(x))) as double) / len(toks) >= 3 AND
      cast(list_sum(list_transform(toks, x -> length(x))) as double) / len(toks) <= 10
      THEN 1.0 ELSE 0.5 END AS word_ok,
    1.0 - least((CASE WHEN length(text) > 0 THEN
      cast(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) as double) / length(text)
      ELSE 0 END) * 4, 1.0) AS punct_ok,
    CASE WHEN length(text) > 0 THEN
      cast(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) as double) / length(text)
      ELSE 0 END AS alpha_ok
  FROM t
), scored AS (
  SELECT doc_id, source,
         round((length_ok + word_ok + punct_ok + alpha_ok) / 4, 5) AS quality
  FROM parts
)
SELECT source, count(*) AS n_kept,
       cast(sum(cast(quality as decimal(18,6))) as double) / count(*) AS avg_quality
FROM scored WHERE quality >= 0.5 GROUP BY source ORDER BY source
"""


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline stage: exact-dedup (keep min-id
    representative) → quality threshold → language filter → per-source
    corpus stats. One narrow plan plus a single dedup shuffle."""
    from ndr_import_spark.operators import textstats as ts
    from ndr_import_spark.operators.dedup import drop_exact_duplicates

    # spread the one-row-group scan: the post-dedup scoring pass (quality/
    # lang regexes) otherwise rides the single scan task of the join-back
    # branch — profiled as ONE 3.5 s task with 31 cores idle
    docs = ts.spread_rows(_t(spark, sf_dir, "documents"))
    kept = drop_exact_duplicates(docs)
    scored = kept.select(
        "doc_id",
        "source",
        ts.quality_score(F.col("text")).alias("quality"),
        ts.detect_language(F.col("text")).alias("pred_lang"),
        ts.token_count(F.col("text")).alias("n_tokens"),
    )
    return (
        scored.filter((F.col("quality") >= 0.5) & (F.col("pred_lang") == "en"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            ((F.sum(F.col("quality").cast("decimal(18,6)")) * 1000000)
             .cast("long")).alias("_sum_q6"),
        )
        # Scaled-integer mean: exact decimal sum in 1e-6 units, integer-
        # divided by the count. Both operands are positive integers on both
        # engines, so Spark DIV and DuckDB // agree exactly and the hashed
        # value is a bigint — no float canonicalization exposure.
        .withColumn("avg_quality_e6", F.expr("_sum_q6 DIV n_docs"))
        .drop("_sum_q6")
        .orderBy("source")
    )


def _oracle_corpus_pipeline() -> str:
    from ndr_import_spark.operators.textstats import STOPWORDS

    toks = ("list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '), "
            "x -> x <> '')")
    # quality (same formula as _oracle_quality)
    quality = """
    round((least(cast(len(toks) as double) / 20.0, 1.0)
      + CASE WHEN len(toks) > 0 AND
          cast(list_sum(list_transform(toks, x -> length(x))) as double) / len(toks) >= 3 AND
          cast(list_sum(list_transform(toks, x -> length(x))) as double) / len(toks) <= 10
          THEN 1.0 ELSE 0.5 END
      + 1.0 - least((CASE WHEN length(text) > 0 THEN
          cast(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) as double) / length(text)
          ELSE 0 END) * 4, 1.0)
      + CASE WHEN length(text) > 0 THEN
          cast(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) as double) / length(text)
          ELSE 0 END) / 4, 5)
    """
    counts = ", ".join(
        "len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in ws) + "], t))) AS c_" + lang
        for lang, ws in STOPWORDS.items()
    )
    langs = list(STOPWORDS)
    arr = "[" + ", ".join(f"c_{lang}" for lang in langs) + "]"
    lang_lits = "[" + ", ".join(f"'{lang}'" for lang in langs) + "]"
    pred = (f"CASE WHEN list_max({arr}) > 0 THEN "
            f"{lang_lits}[list_position({arr}, list_max({arr}))] ELSE 'und' END")
    return f"""
WITH hashed AS (
  SELECT *, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
  FROM documents
), kept AS (
  SELECT * FROM hashed
  WHERE (h, doc_id) IN (SELECT (h, min(doc_id)) FROM hashed GROUP BY h)
), t AS (
  SELECT doc_id, source, text, {toks} AS toks FROM kept
), scored AS (
  SELECT doc_id, source, len(toks) AS n_tokens, {quality} AS quality, {counts}
  FROM t
), lang AS (
  SELECT doc_id, source, n_tokens, quality, {pred} AS pred_lang FROM scored
)
SELECT source, count(*) AS n_docs,
       -- cast: DuckDB sum(int) is HUGEINT → float64 via pandas → hash break
       cast(sum(n_tokens) as bigint) AS total_tokens,
       cast(sum(cast(quality as decimal(18,6))) * 1000000 as bigint)
            // count(*) AS avg_quality_e6
FROM lang
WHERE quality >= 0.5 AND pred_lang = 'en'
GROUP BY source ORDER BY source
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 4 vectors as queries."""
    from ndr_import_spark.operators.similarity import cosine_topk
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_topk(emb, queries, k=5).orderBy("query_id", "rank")


def q_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-domain inner-product top-5: quantize the corpus once, search
    with integer dot products over 4x smaller vectors — exact integer
    arithmetic end-to-end, so ranks are engine-exact (the float path's
    rescoring would run on the survivors only)."""
    from ndr_import_spark.operators.similarity import (
        quantize_embeddings,
        quantized_ip_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb).select("vec_id", "qvec")
    queries = q.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("query_qvec")
    )
    return quantized_ip_topk(q, queries, k=5).orderBy("query_id", "rank")


_ORACLE_ANN_QUANTIZED = """
WITH e AS (
  SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings
), s AS (
  SELECT vec_id, v,
         coalesce(list_max(list_transform(v, x -> abs(x))), 0) AS amax
  FROM e
), q AS (
  SELECT vec_id, list_transform(v, x -> cast(round(
             x * 127 / CASE WHEN amax > 0 THEN amax ELSE 1 END) as bigint)) AS qv
  FROM s
), qs AS (
  SELECT vec_id AS query_id, qv AS qqv FROM q WHERE vec_id < 4
), scored AS (
  SELECT qs.query_id, q.vec_id,
         cast(list_dot_product(q.qv, qs.qqv) as bigint) AS int_dot
  FROM q, qs WHERE qs.query_id <> q.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY int_dot DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, int_dot, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


_ORACLE_ANN = """
WITH emb AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 4),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(e.v, q.qv) /
               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cos
  FROM emb e, q WHERE q.query_id <> e.vec_id
)
SELECT * FROM (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for embedding training (r8): for each of
    the first 6 query vectors, the top-3 most-cosine-similar corpus
    vectors with a DIFFERENT label — the contrastive-pair selection
    step every embedding fine-tune needs (in-batch negatives miss the
    hard ones; these are the hard ones). Same determinism discipline as
    ann_cosine_topk (5dp cosine, id tie-break); the label filter rides
    the broadcast scored join, so the plan is the brute-force topk's
    with one extra predicate — and at scale the same LSH/IVF bucketing
    drops in front unchanged."""
    from ndr_import_spark.operators.similarity import cosine_topk
    from ndr_import_spark.operators.textstats import spread_rows

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    # spread the corpus side of the broadcast-scored join: the one-row-
    # group scan made the crossJoin+cosine stage a single 1.4 s task
    # (profiled); the 6-row query side stays on the unspread frame
    corpus = spread_rows(emb)
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    scored = corpus.crossJoin(F.broadcast(queries)).filter(
        (F.col("query_id") != F.col("vec_id"))
        & (F.col("label") != F.col("query_label"))
    )
    from ndr_import_spark.operators.similarity import cosine as _cos

    scored = scored.select(
        "query_id", "vec_id", "label",
        F.round(_cos(F.col("embedding"), F.col("query_vec")), 5).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("query_id", "rank")
    )


_ORACLE_HARD_NEGATIVES = """
WITH emb AS (
  SELECT vec_id, cast(embedding as double[]) AS v, label FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv, label AS ql FROM emb WHERE vec_id < 6
), scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         round(list_dot_product(e.v, q.qv) /
               (sqrt(list_dot_product(e.v, e.v))
                * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cos
  FROM emb e, q
  WHERE q.query_id <> e.vec_id AND e.label <> q.ql
)
SELECT * FROM (
  SELECT query_id, vec_id, label, cos,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 3 ORDER BY query_id, rank
"""


def q_ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed similarity pairs — the 100 TB ANN path: random-hyperplane
    sign signatures (deterministic md5-derived planes), compare only within
    buckets; no cross-join anywhere."""
    from ndr_import_spark.operators.similarity import lsh_bucket_candidates

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return lsh_bucket_candidates(emb, dim=64, planes=10, threshold=0.25).orderBy(
        "id_a", "id_b"
    )


def _oracle_ann_lsh(planes: int = 10, dim: int = 64, thr: float = 0.25) -> str:
    from ndr_import_spark.operators.similarity import _md5_bit

    def plane(p: int) -> str:
        arr = "[" + ",".join(
            "1.0" if _md5_bit(f"hp{p}:{i}") else "-1.0" for i in range(dim)
        ) + "]"
        return f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {2 ** p} ELSE 0 END)"

    sig = " + ".join(plane(p) for p in range(planes))
    cos = ("list_dot_product(l.v, r.v) / "
           "(sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v)))")
    return f"""
WITH e AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings),
sigs AS (SELECT vec_id, v, {sig} AS sig FROM e)
SELECT l.vec_id AS id_a, r.vec_id AS id_b, round({cos}, 5) AS cos
FROM sigs l JOIN sigs r ON l.sig = r.sig AND l.vec_id < r.vec_id
WHERE {cos} >= {thr}
ORDER BY id_a, id_b
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary media table → Arrow-batched
    mapInPandas decode (deterministic md5 fake standing in for the image
    lib) → per-kind feature stats. The oracle reconstructs the md5-derived
    'pixels' in SQL, proving the batch plumbing is lossless."""
    from ndr_import_spark.operators import multimodal as MM

    media = MM.synth_media_df(spark, 256)
    # per-call decoder injection (r8 verdict)
    feats = MM.extract_features(media, decoder=MM.deterministic_fake_decoder)
    mean_feat = F.aggregate(
        F.col("feature"), F.lit(0.0), lambda a, x: a + x
    ) / F.size(F.col("feature"))
    return (
        feats.select(
            "kind",
            F.col("width").cast("double").alias("w"),
            F.col("height").cast("double").alias("h"),
            mean_feat.alias("mf"),
        )
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("w"), 5).alias("avg_w"),
            F.round(F.avg("h"), 5).alias("avg_h"),
            # Decimal-sum ÷ count: same determinism rationale as
            # q_quality_filter (per-row mf is a float fold; avg over raw
            # doubles is summation-order-sensitive).
            (F.sum(F.col("mf").cast("decimal(18,6)")).cast("double")
             / F.count(F.lit(1))).alias("avg_feat"),
        )
        .orderBy("kind")
    )


_ORACLE_MULTIMODAL = """
WITH m AS (SELECT unnest(range(256)) AS i),
d AS (
  SELECT i,
    CASE cast(i % 3 as int) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
    md5('media' || i) AS h
  FROM m
), f AS (
  SELECT i, kind,
    cast(4 + (cast(('0x' || substring(h, 1, 2)) as int) % 4) as double) AS w,
    cast(4 + (cast(('0x' || substring(h, 3, 2)) as int) % 4) as double) AS ht,
    list_sum(list_transform(range(16),
      j -> cast(('0x' || substring(h, j * 2 + 1, 2)) as int) / 255.0)) / 16.0 AS mf
  FROM d
)
SELECT kind, count(*) AS n, round(avg(w), 5) AS avg_w, round(avg(ht), 5) AS avg_h,
       cast(sum(cast(mf as decimal(18,6))) as double) / count(*) AS avg_feat
FROM f GROUP BY kind ORDER BY kind
"""


def q_multimodal_mixed_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stdlib image decode end-to-end over MIXED payload formats: a
    deterministic media table of genuine baseline-JPEG AND progressive
    SOF2-JPEG (solid gray at quality=100 — constant blocks are DC-only,
    integral, quant=1, so the decode is analytically EXACT for both scan
    structures), genuine PNG, GIF, BMP and baseline-TIFF payloads (all
    lossless 4x4 grayscales from md5 bytes — decoded features ARE the
    source bytes), run through `extract_features` with NO injected
    decoder. The per-codec feature aggregate is therefore fully
    reproducible by the SQL oracle from md5 arithmetic alone, proving
    magic-byte dispatch + all six codec paths + the Arrow batch
    plumbing, not just the plumbing.

    r9 eighth codec path: LOSSY VP8 (functions/vp8.py, RFC 6386
    keyframes). Lossy output is not md5-arithmetic-reproducible, so its
    oracle gate is cross-decoder parity instead: each payload's
    reference luma features are computed at fixture time with the
    SYSTEM libwebp (the reference codec, the test_zstd pattern) and the
    in-task CLEAN-ROOM decode must reproduce them exactly — the 'vp8'
    row's avg_feat is 1.0 iff every decoded plane matched the
    reference. One broadcast join of a 16-row frame; the decode stays
    Arrow-batched and shuffle-free."""
    import hashlib as _hl

    from ndr_import_spark.functions.bmp import encode_bmp
    from ndr_import_spark.functions.gif import encode_gif
    from ndr_import_spark.functions.jpeg import encode_jpeg, encode_jpeg_progressive
    from ndr_import_spark.functions.png import encode_png, grid_features
    from ndr_import_spark.functions.tiff import encode_tiff
    from ndr_import_spark.operators import multimodal as MM

    from ndr_import_spark.functions.webp import (
        encode_webp,
        libwebp_decode_yuv,
        libwebp_encode_rgb,
    )

    rows = []
    ref_rows = []  # (media_id, reference mean-feature) for lossy VP8
    for i in range(128):
        b = _hl.md5(f"media{i}".encode()).digest()
        if i >= 112:
            # lossy VP8: 32x32 noise, quality cycling across the
            # quantizer range; reference features from libwebp's own
            # decode of the same payload
            rgb = bytes(
                _hl.md5(f"media{i}px{j // 16}".encode()).digest()[j % 16]
                for j in range(32 * 32 * 3)
            )
            payload = libwebp_encode_rgb(
                rgb, 32, 32, quality=(30.0, 60.0, 75.0, 90.0)[i % 4]
            )
            _, _, yref, _, _ = libwebp_decode_yuv(payload)
            cells = grid_features(32, 32, 1, yref.tobytes())
            ref_rows.append((i, sum(cells) / len(cells)))
            rows.append(
                (i, "image", "image/webp", None, None, None,
                 bytearray(payload))
            )
            continue
        if i >= 96:
            # r7 seventh codec path: WebP lossless (VP8L, stream-derived
            # prefix codes) — same lossless 4x4 grayscale contract as
            # PNG/GIF/BMP/TIFF, so the oracle's per-byte formula holds
            rgb = bytes(v for px in b[:16] for v in (px, px, px))
            rows.append(
                (i, "image", "image/webp", None, None, None,
                 bytearray(encode_webp(4, 4, rgb)))
            )
            continue
        if i % 6 in (0, 3):
            w, h = 8 + b[1] % 8, 8 + b[2] % 8
            enc = encode_jpeg if i % 6 == 0 else encode_jpeg_progressive
            payload = enc(
                w, h, bytes([b[0]]) * (w * h), channels=1, quality=100
            )
        else:
            rgb = bytes(v for px in b[:16] for v in (px, px, px))
            payload = {
                1: encode_png,
                2: encode_gif,
                4: encode_bmp,
                5: encode_tiff,
            }[i % 6](4, 4, rgb)
        rows.append(
            (i, "image", "image/mixed", None, None, None, bytearray(payload))
        )
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA).repartition(8)
    ref = spark.createDataFrame(ref_rows, "media_id long, ref_mf double")
    # decoder=None: force stdlib magic-byte dispatch regardless of any
    # session-wide registration (per-call injection, r8 verdict)
    feats = MM.extract_features(media, decoder=None)
    mean_feat = F.aggregate(
        F.col("feature"), F.lit(0.0), lambda a, x: a + x
    ) / F.size(F.col("feature"))
    # lossy rows: the feature becomes the cross-decoder parity check —
    # 1.0 iff the clean-room luma features equal libwebp's bit-for-bit
    # (byte-equal planes -> identical rounded cells -> identical fold)
    feats = feats.join(F.broadcast(ref), "media_id", "left")
    checked = F.when(
        F.col("ref_mf").isNotNull(),
        (mean_feat == F.col("ref_mf")).cast("double"),
    ).otherwise(mean_feat)
    return (
        feats.select(
            F.when(F.col("media_id") >= 112, "vp8")
            .when(F.col("media_id") >= 96, "webp")
            .when(F.col("media_id") % 6 == 0, "jpeg")
            .when(F.col("media_id") % 6 == 1, "png")
            .when(F.col("media_id") % 6 == 2, "gif")
            .when(F.col("media_id") % 6 == 3, "prog")
            .when(F.col("media_id") % 6 == 4, "bmp")
            .otherwise("tiff")
            .alias("codec"),
            F.col("width").cast("double").alias("w"),
            F.col("height").cast("double").alias("h"),
            checked.alias("mf"),
        )
        .groupBy("codec")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("w"), 5).alias("avg_w"),
            F.round(F.avg("h"), 5).alias("avg_h"),
            (F.sum(F.col("mf").cast("decimal(18,6)")).cast("double")
             / F.count(F.lit(1))).alias("avg_feat"),
        )
        .orderBy("codec")
    )


_ORACLE_MIXED_CODECS = """
WITH m AS (SELECT unnest(range(128)) AS i),
d AS (SELECT i, md5('media' || i) AS hx FROM m),
f AS (
  SELECT i,
    CASE WHEN i >= 112 THEN 'vp8'
      WHEN i >= 96 THEN 'webp'
      WHEN i % 6 = 0 THEN 'jpeg' WHEN i % 6 = 1 THEN 'png'
      WHEN i % 6 = 2 THEN 'gif' WHEN i % 6 = 3 THEN 'prog'
      WHEN i % 6 = 4 THEN 'bmp'
      ELSE 'tiff' END AS codec,
    CASE WHEN i >= 112 THEN 32.0
      WHEN i < 96 AND i % 6 IN (0, 3)
      THEN cast(8 + (cast(('0x' || substring(hx, 3, 2)) as int) % 8) as double)
      ELSE 4.0 END AS w,
    CASE WHEN i >= 112 THEN 32.0
      WHEN i < 96 AND i % 6 IN (0, 3)
      THEN cast(8 + (cast(('0x' || substring(hx, 5, 2)) as int) % 8) as double)
      ELSE 4.0 END AS ht,
    CASE
      -- lossy VP8 rows carry the cross-decoder parity flag: 1.0 iff the
      -- clean-room decode's luma features equal the reference
      -- libwebp decode's, bit-for-bit
      WHEN i >= 112 THEN 1.0
      WHEN i < 96 AND i % 6 IN (0, 3)
      -- solid-gray JPEG at q100 decodes exactly — for BOTH the baseline
      -- and the progressive (SOF2) scan structure: all 16 cells equal
      THEN round(cast(('0x' || substring(hx, 1, 2)) as int) / 255.0, 6)
      -- lossless PNG/GIF/BMP/TIFF: cell j is source byte j (grey = 3b/3)
      ELSE list_sum(list_transform(range(16),
        j -> round(cast(('0x' || substring(hx, j * 2 + 1, 2)) as int) / 255.0, 6)
      )) / 16.0 END AS mf
  FROM d
)
SELECT codec, count(*) AS n, round(avg(w), 5) AS avg_w,
       round(avg(ht), 5) AS avg_h,
       cast(sum(cast(mf as decimal(18,6))) as double) / count(*) AS avg_feat
FROM f GROUP BY codec ORDER BY codec
"""


def q_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format image dedup via integer-exact perceptual average-hash
    (operators/multimodal.py ahash64 / image_dedup_groups): 20 distinct
    md5-derived 4x4 gradients, each encoded through FOUR real lossless
    stdlib codecs (PNG, BMP, TIFF + WebP/VP8L since r7) — same pixels,
    same hash — must collapse to 20 groups of 4 keeping the lowest id.
    The oracle derives the expected groups ANALYTICALLY from the
    construction (ids i, i+20, i+40, i+60 share gradient i), so a decode
    or hash defect in ANY of the four codec paths breaks the match."""
    import hashlib as _hl

    from ndr_import_spark.functions.bmp import encode_bmp
    from ndr_import_spark.functions.png import encode_png
    from ndr_import_spark.functions.tiff import encode_tiff
    from ndr_import_spark.functions.webp import encode_webp
    from ndr_import_spark.operators import multimodal as MM

    rows = []
    for codec_ix, enc in enumerate(
        (encode_png, encode_bmp, encode_tiff, encode_webp)
    ):
        for i in range(20):
            b = _hl.md5(f"imgdedup{i}".encode()).digest()
            rgb = bytes(v for px in b[:16] for v in (px, px, px))
            rows.append(
                (
                    codec_ix * 20 + i, "image", "image/any",
                    None, None, None, bytearray(enc(4, 4, rgb)),
                )
            )
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA).repartition(8)
    return MM.image_dedup_groups(media).orderBy("kept_id")


_ORACLE_IMAGE_DEDUP = """
SELECT CAST(i AS BIGINT) AS kept_id, CAST(4 AS BIGINT) AS n_copies
FROM unnest(generate_series(0, 19)) AS t(i)
ORDER BY kept_id
"""


def q_cross_codec_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-CODEC near-duplicate detection (r9) — the dominant
    duplication mode for web images: the SAME source photo re-encoded
    lossily all over the web. 20 high-contrast sources each encoded SIX
    ways — lossless PNG, lossy WebP at q50 and q85 (clean-room RFC 6386
    decode), AVIF and HEIC (env-gated libheif decode), grayscale
    JPEG q85 — must collapse to 20 groups of 6 under the integer-exact
    aHash: block-structured content quantises identically through every
    codec's loss, so the 8x8 threshold lattice — and therefore the
    64-bit hash — is invariant across re-encodes (verified for all six
    codec paths before pinning). One combinable groupBy on the hash;
    decoded pixels never shuffle. The oracle derives the groups from
    the construction: ids i, i+20, ..., i+100 share source i."""
    import hashlib as _hl

    from ndr_import_spark.functions.heif import libheif_encode_rgb
    from ndr_import_spark.functions.jpeg import encode_jpeg
    from ndr_import_spark.functions.png import encode_png
    from ndr_import_spark.functions.webp import libwebp_encode_rgb
    from ndr_import_spark.operators import multimodal as MM

    def src_rgb(i: int, w: int = 32, h: int = 32) -> bytes:
        b = _hl.md5(f"xc{i}".encode()).digest()
        out = bytearray()
        for y in range(h):
            for x in range(w):
                v = 235 if (b[((x // 8) + 4 * (y // 8)) % 16] & 1) else 20
                out += bytes((v, v, v))
        return bytes(out)

    encoders = (
        lambda rgb: encode_png(32, 32, rgb),
        lambda rgb: libwebp_encode_rgb(rgb, 32, 32, 50.0),
        lambda rgb: libwebp_encode_rgb(rgb, 32, 32, 85.0),
        lambda rgb: libheif_encode_rgb(rgb, 32, 32, codec="av1"),
        lambda rgb: libheif_encode_rgb(rgb, 32, 32, codec="hevc"),
        lambda rgb: encode_jpeg(
            32, 32, bytes(rgb[j * 3] for j in range(32 * 32)),
            channels=1, quality=85,
        ),
    )
    rows = []
    for i in range(20):
        rgb = src_rgb(i)
        for cix, enc in enumerate(encoders):
            rows.append((
                cix * 20 + i, "image", "image/any",
                None, None, None, bytearray(enc(rgb)),
            ))
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA).repartition(8)
    return MM.image_dedup_groups(media).orderBy("kept_id")


_ORACLE_CROSS_CODEC_DEDUP = """
SELECT CAST(i AS BIGINT) AS kept_id, CAST(6 AS BIGINT) AS n_copies
FROM unnest(generate_series(0, 19)) AS t(i)
ORDER BY kept_id
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stdlib WAV decode end-to-end (functions/wav.py, no injected
    decoder): a deterministic audio table of genuine RIFF/WAVE payloads —
    mono 16-bit step waves, stereo 16-bit constants and mono float32
    constants, all with amplitudes/rates derived from md5 bytes so every
    decoded value is ANALYTIC, plus G.711 µ-law and A-law constant tones
    built directly at the companded-byte level (their integer expansions
    are closed-form in the segment/mantissa bits). All sample values are
    dyadic rationals (k/2^15), so slice means, per-doc means and the
    final group averages are exact in float64 and the DuckDB oracle
    reproduces them from md5 arithmetic alone — proving the RIFF chunk
    walk, PCM/float/G.711 frame decode, stereo mixing and the Arrow
    batch plumbing."""
    import hashlib as _hl

    import numpy as np

    from ndr_import_spark.functions.wav import (
        alaw_byte,
        encode_wav,
        encode_wav_g711,
        mulaw_byte,
    )
    from ndr_import_spark.operators import multimodal as MM

    from ndr_import_spark.functions.flac import encode_flac

    rows = []
    for i in range(96):
        b = _hl.md5(f"audio{i}".encode()).digest()
        va = (b[0] - 128) * 128 / 32768.0
        vb = (b[1] - 128) * 128 / 32768.0
        if i >= 80:
            # REAL FLAC: step wave -> FIXED-order-2 subframe with Rice
            # residuals through the clean-room decoder (functions/flac.py);
            # decoded samples equal the step exactly, so the mean is the
            # same closed form as step16
            sig = np.array([va] * 32 + [vb] * 32)
            payload = encode_flac(12000 + (b[2] % 32) * 50, sig)
        elif i % 5 == 0:
            sig = np.array([va] * 32 + [vb] * 32)
            payload = encode_wav(8000 + (b[2] % 32) * 25, sig, bits=16)
        elif i % 5 == 1:
            sig = np.tile(np.array([[va, vb]]), (48, 1))
            payload = encode_wav(16000, sig, bits=16)
        elif i % 5 == 2:
            v32 = (b[0] - 128) / 128.0
            payload = encode_wav(
                22050, np.full(56, v32), float_format=True
            )
        elif i % 5 == 3:
            code = mulaw_byte(+1, b[1] % 8, b[0] % 16)
            payload = encode_wav_g711(8000, bytes([code]) * 40, "mulaw")
        else:
            code = alaw_byte(+1, b[1] % 8, b[0] % 16)
            payload = encode_wav_g711(8000, bytes([code]) * 44, "alaw")
        rows.append(
            (i, "audio", "audio/wav", None, None, None, bytearray(payload))
        )
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA).repartition(8)
    # decoder=None: force stdlib WAV/FLAC dispatch (per-call injection)
    feats = MM.extract_audio_features(media, decoder=None)
    mean_feat = F.aggregate(
        F.col("feature"), F.lit(0.0), lambda a, x: a + x
    ) / F.size(F.col("feature"))
    return (
        feats.select(
            F.when(F.col("media_id") >= 80, "flac16")
            .when(F.col("media_id") % 5 == 0, "step16")
            .when(F.col("media_id") % 5 == 1, "stereo16")
            .when(F.col("media_id") % 5 == 2, "float32")
            .when(F.col("media_id") % 5 == 3, "mulaw")
            .otherwise("alaw")
            .alias("wave"),
            F.col("n_samples").cast("double").alias("ns"),
            F.col("sample_rate").cast("double").alias("rate"),
            mean_feat.alias("mf"),
        )
        .groupBy("wave")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("ns").alias("avg_samples"),
            F.avg("rate").alias("avg_rate"),
            F.avg("mf").alias("avg_feat"),
        )
        .orderBy("wave")
    )


_ORACLE_AUDIO_FEATURES = """
WITH m AS (SELECT unnest(range(96)) AS i),
d AS (SELECT i, md5('audio' || i) AS hx FROM m),
b AS (
  SELECT i,
    cast(('0x' || substring(hx, 1, 2)) as int) AS b0,
    cast(('0x' || substring(hx, 3, 2)) as int) AS b1,
    cast(('0x' || substring(hx, 5, 2)) as int) AS b2
  FROM d
),
f AS (
  SELECT i,
    CASE WHEN i >= 80 THEN 'flac16' ELSE
      CASE cast(i % 5 as int) WHEN 0 THEN 'step16' WHEN 1 THEN 'stereo16'
        WHEN 2 THEN 'float32' WHEN 3 THEN 'mulaw' ELSE 'alaw' END END AS wave,
    CASE WHEN i >= 80 THEN 64.0 ELSE
      CASE cast(i % 5 as int) WHEN 0 THEN 64.0 WHEN 1 THEN 48.0
        WHEN 2 THEN 56.0 WHEN 3 THEN 40.0 ELSE 44.0 END END AS ns,
    CASE WHEN i >= 80 THEN cast(12000 + (b2 % 32) * 50 as double) ELSE
      CASE cast(i % 5 as int) WHEN 0 THEN cast(8000 + (b2 % 32) * 25 as double)
        WHEN 1 THEN 16000.0 WHEN 2 THEN 22050.0 ELSE 8000.0 END END AS rate,
    -- step16/flac16: 4 slices at va + 4 at vb → mean (va+vb)/2;
    -- stereo16: constant mono mix (va+vb)/2; float32: (b0-128)/128 exact;
    -- G.711 constants expand in closed form from (mantissa, exponent/seg)
    CASE WHEN i >= 80 OR i % 5 IN (0, 1)
      THEN ((b0 - 128) * 128 / 32768.0 + (b1 - 128) * 128 / 32768.0) / 2
      WHEN i % 5 = 2 THEN (b0 - 128) / 128.0
      WHEN i % 5 = 3 THEN
        (((b0 % 16) * 8 + 132) * cast(power(2, b1 % 8) as double) - 132)
          / 32768.0
      ELSE
        (CASE WHEN b1 % 8 = 0 THEN (b0 % 16) * 16 + 8
              WHEN b1 % 8 = 1 THEN (b0 % 16) * 16 + 264
              ELSE ((b0 % 16) * 16 + 264)
                   * cast(power(2, b1 % 8 - 1) as double) END) / 32768.0
    END AS mf
  FROM b
)
SELECT wave, count(*) AS n, avg(ns) AS avg_samples, avg(rate) AS avg_rate,
       avg(mf) AS avg_feat
FROM f GROUP BY wave ORDER BY wave
"""


def q_adpcm_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-WAV decode end-to-end: IMA (0x11) and MS (0x02)
    ADPCM payloads built nibble-by-nibble so every decoded sample is
    ANALYTIC (functions/adpcm.py): constant-nibble IMA streams from step
    index 0 are exact arithmetic ramps (slope {0,1,3,4}, ± via the sign
    bit); MS coeff pair 1 with zero nibbles extrapolates the exact line
    through (sample2, sample1); MS coeff pair 0 holds sample1; stereo
    IMA zero-nibbles hold each channel's predictor. Every 8-slice
    feature mean is a mean of an arithmetic progression — exact dyadic
    in float64 — so the DuckDB oracle reproduces the whole feature
    pipeline from md5 arithmetic in closed form, proving block headers,
    nibble order, the step/index walk, idelta adaptation, stereo
    deinterleave and the Arrow batch plumbing."""
    import hashlib as _hl

    from ndr_import_spark.functions import adpcm as A
    from ndr_import_spark.operators import multimodal as MM

    rows = []
    for i in range(80):
        b = _hl.md5(f"adpcm{i}".encode()).digest()
        if i % 5 == 0:  # IMA ascending ramp, 17 samples
            p0 = (b[0] - 128) * 16
            nib = b[1] % 4
            blocks = A.ima_block(p0, 0, [nib] * 16)
            payload = A.encode_wav_ima(
                11025 + (b[2] % 16) * 25, blocks, 1, 12
            )
        elif i % 5 == 1:  # IMA descending ramp (sign bit)
            p0 = (b[0] - 128) * 16
            nib = 8 | (b[1] % 4)
            blocks = A.ima_block(p0, 0, [nib] * 16)
            payload = A.encode_wav_ima(11025, blocks, 1, 12)
        elif i % 5 == 2:  # MS exact line through (s2, s1), 16 samples
            s2 = (b[0] - 128) * 8
            d = b[1] - 128
            blocks = A.ms_block(1, 16, s2 + d, s2, [0] * 14)
            payload = A.encode_wav_ms(8000, blocks, 1, len(blocks))
        elif i % 5 == 3:  # MS constant hold of sample1
            s1 = (b[0] - 128) * 32
            s2 = (b[1] - 128) * 32
            blocks = A.ms_block(0, 16, s1, s2, [0] * 14)
            payload = A.encode_wav_ms(8000, blocks, 1, len(blocks))
        else:  # stereo IMA constants, 9 frames
            pL = (b[0] - 128) * 16
            pR = (b[1] - 128) * 16
            blocks = A.ima_block([pL, pR], [0, 0], [0] * 16, channels=2)
            payload = A.encode_wav_ima(16000, blocks, 2, 16)
        rows.append(
            (i, "audio", "audio/wav", None, None, None, bytearray(payload))
        )
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA).repartition(8)
    # decoder=None: force stdlib WAV/FLAC dispatch (per-call injection)
    feats = MM.extract_audio_features(media, decoder=None)
    mean_feat = F.aggregate(
        F.col("feature"), F.lit(0.0), lambda a, x: a + x
    ) / F.size(F.col("feature"))
    return (
        feats.select(
            F.element_at(
                F.array(
                    F.lit("ima_up"),
                    F.lit("ima_down"),
                    F.lit("ms_line"),
                    F.lit("ms_const"),
                    F.lit("ima_stereo"),
                ),
                (F.col("media_id") % 5 + 1).cast("int"),
            ).alias("wave"),
            F.col("n_samples").cast("double").alias("ns"),
            F.col("sample_rate").cast("double").alias("rate"),
            mean_feat.alias("mf"),
        )
        .groupBy("wave")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("ns").alias("avg_samples"),
            F.avg("rate").alias("avg_rate"),
            F.avg("mf").alias("avg_feat"),
        )
        .orderBy("wave")
    )


# mf closed forms: an 8-slice mean over s(t)=p0+slope*t, t in [0,n) with
# floor boundaries is p0 + slope*C_n where C_n = (1/8)·Σ_j (lo_j+hi_j-1)/2
# (slice means of arithmetic progressions are their middle values):
# C_17 = 7.5625, C_16 = 7.5. ms_const: slice0 mean (s2+s1)/2, rest s1 →
# (s2 + 15·s1)/16. ima_stereo: constant mono mix (pL+pR)/2. All exact
# dyadics, so Spark float64 == DuckDB float64 bit-for-bit.
_ORACLE_ADPCM_AUDIO = """
WITH m AS (SELECT unnest(range(80)) AS i),
d AS (SELECT i, md5('adpcm' || i) AS hx FROM m),
b AS (
  SELECT i,
    cast(('0x' || substring(hx, 1, 2)) as int) AS b0,
    cast(('0x' || substring(hx, 3, 2)) as int) AS b1,
    cast(('0x' || substring(hx, 5, 2)) as int) AS b2
  FROM d
),
f AS (
  SELECT i,
    CASE cast(i % 5 as int) WHEN 0 THEN 'ima_up' WHEN 1 THEN 'ima_down'
      WHEN 2 THEN 'ms_line' WHEN 3 THEN 'ms_const' ELSE 'ima_stereo'
    END AS wave,
    CASE cast(i % 5 as int) WHEN 0 THEN 17.0 WHEN 1 THEN 17.0
      WHEN 2 THEN 16.0 WHEN 3 THEN 16.0 ELSE 9.0 END AS ns,
    CASE cast(i % 5 as int)
      WHEN 0 THEN cast(11025 + (b2 % 16) * 25 as double)
      WHEN 1 THEN 11025.0 WHEN 2 THEN 8000.0 WHEN 3 THEN 8000.0
      ELSE 16000.0 END AS rate,
    CASE cast(i % 5 as int)
      WHEN 0 THEN ((b0 - 128) * 16
                   + (CASE cast(b1 % 4 as int) WHEN 0 THEN 0 WHEN 1 THEN 1
                        WHEN 2 THEN 3 ELSE 4 END) * 7.5625) / 32768.0
      WHEN 1 THEN ((b0 - 128) * 16
                   - (CASE cast(b1 % 4 as int) WHEN 0 THEN 0 WHEN 1 THEN 1
                        WHEN 2 THEN 3 ELSE 4 END) * 7.5625) / 32768.0
      WHEN 2 THEN ((b0 - 128) * 8 + (b1 - 128) * 7.5) / 32768.0
      WHEN 3 THEN ((b1 - 128) * 32 + 15 * (b0 - 128) * 32) / 16.0 / 32768.0
      ELSE (((b0 - 128) * 16 + (b1 - 128) * 16) / 2) / 32768.0
    END AS mf
  FROM b
)
SELECT wave, count(*) AS n, avg(ns) AS avg_samples, avg(rate) AS avg_rate,
       avg(mf) AS avg_feat
FROM f GROUP BY wave ORDER BY wave
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog (operators/sketches.hll_registers/estimate,
    Flajolet et al. 2007) self-evaluated against exact distinct counts
    over three key families — the KMV pattern extended to the MERGEABLE
    register form (per-partition partial max IS the HLL merge). rho is
    integer-exact via length(bin(w)); the harmonic denominator is a sum
    of dyadic 2^-reg terms plus an integer zero count — exact in f64
    regardless of order — so estimates are bit-identical across engines
    and the oracle replays the registers in SQL."""
    from ndr_import_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from ndr_import_spark.operators.textstats import tokens

    parts = []
    for name, df, col in [
        ("custkey", _t(spark, sf_dir, "orders"), F.col("o_custkey")),
        ("partkey", _t(spark, sf_dir, "lineitem"), F.col("l_partkey")),
        (
            "token",
            _t(spark, sf_dir, "documents").select(
                F.explode(tokens(F.col("text"))).alias("tok")
            ),
            F.col("tok"),
        ),
    ]:
        keyed = df.select(col.cast("string").alias("k"))
        est = hll_estimate(hll_registers(keyed, F.col("k")))
        exact = keyed.agg(
            F.countDistinct("k").alias("exact_distinct")
        )
        parts.append(
            est.crossJoin(F.broadcast(exact)).select(
                F.lit(name).alias("key_family"),
                "exact_distinct",
                "hll_estimate",
                "empty_registers",
                F.round(
                    F.abs(
                        F.col("hll_estimate")
                        - F.col("exact_distinct").cast("double")
                    )
                    / F.col("exact_distinct").cast("double"),
                    4,
                ).alias("rel_err"),
            )
        )
    out = parts[0]
    for pdf in parts[1:]:
        out = out.unionByName(pdf)
    return out.orderBy("key_family")




def q_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode hygiene (operators/unicode_clean.clean_unicode): five
    exclusive artifact classes injected per doc_id%5 — single mojibake
    (cp1252-mis-decoded UTF-8, repaired by the exact inverse), DOUBLE
    mojibake (two repair passes), control characters (stripped +
    counted), an NFD combining pair (NFC-composed), NBSP + zero-width
    space (normalised / removed). The oracle appends the KNOWN repaired
    forms in SQL, so md5(clean_text) pins the transcoding round-trip,
    the pass-acceptance rule, the NFC composition and the category
    walk. Real transcoding happens only in the Arrow mapInPandas batch
    — zero shuffle."""
    from ndr_import_spark.operators.unicode_clean import clean_unicode

    docs = _t(spark, sf_dir, "documents")
    single = "café".encode("utf-8").decode("cp1252")
    double = single.encode("utf-8").decode("cp1252")
    nfd = " caf" + "e" + "\u0301"  # NFD pair -> NFC 'e-acute'
    spacey = " a\u00a0b\u200b"  # NBSP between words + zero-width tail
    artifact = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(" " + single))
        .when(F.col("doc_id") % 5 == 1, F.lit(" " + double))
        .when(F.col("doc_id") % 5 == 2, F.lit(" \x07x\x07"))
        .when(F.col("doc_id") % 5 == 3, F.lit(nfd))
        .otherwise(F.lit(spacey))
    )
    dirty = docs.select(
        "doc_id", F.concat(F.col("text"), artifact).alias("text")
    )
    out = clean_unicode(dirty)
    return out.select(
        "doc_id",
        "mojibake_passes",
        "n_removed",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    ).orderBy("doc_id")


_ORACLE_UNICODE_CLEAN = """
SELECT doc_id,
  CASE cast(doc_id % 5 as int) WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END
    AS mojibake_passes,
  CASE cast(doc_id % 5 as int) WHEN 2 THEN 2 WHEN 4 THEN 1 ELSE 0 END
    AS n_removed,
  md5(text || CASE cast(doc_id % 5 as int)
    WHEN 2 THEN ' x'
    WHEN 4 THEN ' a b'
    ELSE ' caf' || chr(233) END) AS clean_md5
FROM documents ORDER BY doc_id
"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation
    (operators/graph.label_propagation — Raghavan et al. 2007, made
    bit-reproducible with integer labels + smallest-label tie-break)
    over a planted 16-block graph on the documents ids. Five rounds;
    communities never cross the planted blocks, most blocks are stable
    by round 4, and the sparse phantom tail of the last partial block
    2-cycles forever (the known synchronous-LPA bipartite oscillation)
    — which is exactly why the gate pins the EXACT round-5 labelling
    rather than asserting convergence.
    The oracle is the unrolled-CTE transcription of the same
    recurrence, so the whole label trajectory is hash-gated, not just
    'communities look right'. Per-round shuffles: one combinable
    (node,label) count + one max-of-struct argmax — no corpus-wide
    window."""
    from ndr_import_spark.operators.graph import (
        label_propagation,
        synthetic_block_graph,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_block_graph(docs, block=16, stride=3)
    labels = label_propagation(edges, iterations=5)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("community")
    )


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/corpus.dsir_resample — Xie et al.
    2023): pick the 50 raw-pool documents (source != src0) whose hashed
    unigram+bigram distribution best matches the src0 target domain,
    via add-one-smoothed log-likelihood-ratio importance weights and
    deterministic md5-seeded Gumbel top-k. The oracle replays the whole
    pipeline — 60-bit gram hashing into 1024 buckets, the single-ratio
    llr rounded to DECIMAL(20,9), exact decimal score sums, the
    canonical 16-bit Gumbel seed — so ranks, weights and keys all
    hash-match."""
    from ndr_import_spark.operators.corpus import dsir_resample

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    raw = docs.where(F.col("source") != "src0")
    return dsir_resample(raw, target, 50).orderBy("rank")




def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules end-to-end (operators/corpus.c4_clean — Raffel
    et al. 2020 §2.2): deterministic punctuated pages over the documents
    table — eight content sentences in a fixed 2/5/5/4/5/2/5/5-word
    pattern (the 2-word ones die to the ≥3-words rule), a 'javascript'
    sentence on doc_id%13 (line drop), a 3-sentence boilerplate block on
    doc_id%4 (corpus span-dedup keeps only the first page's copy),
    'lorem ipsum' on %11 and a '{' on %17 (page drops), and
    blocklist=('stream',) exercising the bad-words rule against a real
    corpus word. The oracle rebuilds the pages and replays the LITERAL
    pipeline in SQL — regexp sentence extraction, filters, 60-bit span
    hashing, first-occurrence ranking — and md5 of the cleaned text pins
    every decision."""
    from ndr_import_spark.operators.corpus import c4_clean
    from ndr_import_spark.operators.textstats import spread_rows, tokens

    # spread the one-row-group scan ahead of the page synthesis + the
    # sentence pipeline (measured: 2.5 s of the 3.8 s steady ran in one
    # task); no-op when the source is already parallel
    docs = spread_rows(_t(spark, sf_dir, "documents"))
    wds = tokens(F.col("text"))
    parts = []
    for start, ln in [(1, 2), (3, 5), (8, 5), (13, 4), (17, 5),
                      (22, 2), (24, 5), (29, 5)]:
        parts.append(F.array_join(F.slice(wds, start, ln), " "))
        parts.append(F.lit(". "))
    body = F.concat(*parts[:-1], F.lit("."))
    page = F.concat(
        body,
        F.when(
            F.col("doc_id") % 13 == 0,
            F.lit(" please enable javascript to continue."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit(
                " subscribe to our newsletter today."
                " follow us on social media channels."
                " all rights reserved by the site."
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit(" lorem ipsum dolor sit.")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 17 == 0, F.lit(" css { display none }.")
        ).otherwise(F.lit("")),
    )
    pages = docs.select("doc_id", page.alias("text"))
    out = c4_clean(pages, blocklist=("stream",))
    return out.select(
        "doc_id",
        "n_sentences",
        "n_kept",
        "n_span_dropped",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    ).orderBy("doc_id")


def _c4_span_chain_sql(src: str) -> str:
    """The ONE literal DuckDB transcription of c4_clean's sentence rules
    + corpus-level 3-sentence span dedup, parameterized by the source
    CTE (columns: doc_id, t). Shared by every c4-bearing oracle
    (c4_clean, crawl_pipeline, training_pipeline) so the replica of
    operators/corpus.c4_clean has a single source of truth — r7 review
    found the three hand-maintained copies had already drifted on a
    fixture literal. Produces CTEs l/s/n_raw/kept0/pre/kept/spans/
    ranked/c4spdrops/survivors; callers aggregate `survivors` and may
    join n_raw/pre."""
    return rf""", l AS (
  SELECT doc_id, regexp_extract_all(t, '[^.!?]+[.!?]') AS ss FROM {src}
), s AS (
  SELECT doc_id, CAST(u.i AS INT) AS i, trim(ss[CAST(u.i AS INT) + 1]) AS s
  FROM l, unnest(range(len(ss))) AS u(i)
), n_raw AS (
  SELECT doc_id, count(*) AS n_sentences FROM s GROUP BY doc_id
), kept0 AS (
  SELECT doc_id, i, s FROM s
  WHERE len(list_filter(string_split_regex(s, '\s+'), x -> x <> '')) >= 3
    AND NOT regexp_matches(s, '\bjavascript\b')
), pre AS (
  SELECT doc_id, count(*) AS n_kept_pre FROM kept0 GROUP BY doc_id
), kept AS MATERIALIZED (
  SELECT k.* FROM kept0 k JOIN pre USING (doc_id)
  WHERE pre.n_kept_pre >= 5
), spans AS (
  SELECT doc_id, i AS i0,
    lead(i, 1) OVER w AS i1, lead(i, 2) OVER w AS i2,
    CAST(('0x' || substring(md5(
      s || ' ' || lead(s, 1) OVER w || ' ' || lead(s, 2) OVER w
    ), 1, 15)) AS BIGINT) AS h
  FROM kept
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
  QUALIFY lead(i, 2) OVER w IS NOT NULL
), ranked AS (
  SELECT doc_id, i0, i1, i2, h,
    row_number() OVER (PARTITION BY h ORDER BY doc_id, i0) AS rn,
    count(*) OVER (PARTITION BY h) AS c
  FROM spans
), c4spdrops AS (
  SELECT DISTINCT doc_id, u.i
  FROM ranked, unnest([i0, i1, i2]) AS u(i)
  WHERE c > 1 AND rn > 1
), survivors AS (
  SELECT k.doc_id, k.i, k.s FROM kept k
  ANTI JOIN c4spdrops d ON k.doc_id = d.doc_id AND k.i = d.i
)"""


_ORACLE_C4_CLEAN = (r"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(lower(text)), '\s+'),
                x -> x <> '') AS wds
  FROM documents
), pg AS (
  SELECT doc_id,
    coalesce(array_to_string(wds[1:2], ' '), '') || '. ' ||
    coalesce(array_to_string(wds[3:7], ' '), '') || '. ' ||
    coalesce(array_to_string(wds[8:12], ' '), '') || '. ' ||
    coalesce(array_to_string(wds[13:16], ' '), '') || '. ' ||
    coalesce(array_to_string(wds[17:21], ' '), '') || '. ' ||
    coalesce(array_to_string(wds[22:23], ' '), '') || '. ' ||
    coalesce(array_to_string(wds[24:28], ' '), '') || '. ' ||
    coalesce(array_to_string(wds[29:33], ' '), '') || '.'
    || CASE WHEN doc_id % 13 = 0
         THEN ' please enable javascript to continue.' ELSE '' END
    || CASE WHEN doc_id % 4 = 0
         THEN ' subscribe to our newsletter today.'
              || ' follow us on social media channels.'
              || ' all rights reserved by the site.' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum dolor sit.'
         ELSE '' END
    || CASE WHEN doc_id % 17 = 0 THEN ' css { display none }.'
         ELSE '' END
    AS t
  FROM d
), p2 AS (
  SELECT doc_id, t FROM pg
  WHERE t NOT LIKE '%lorem ipsum%' AND t NOT LIKE '%{%'
    AND NOT regexp_matches(t, '\b(stream)\b')
)""" + _c4_span_chain_sql("p2") + r""", agg AS (
  SELECT doc_id, count(*) AS n_kept,
    md5(string_agg(s, ' ' ORDER BY i)) AS clean_md5
  FROM survivors GROUP BY doc_id
)
SELECT a.doc_id, n_raw.n_sentences, a.n_kept,
  CAST(pre.n_kept_pre - a.n_kept AS BIGINT) AS n_span_dropped,
  a.clean_md5
FROM agg a JOIN n_raw USING (doc_id) JOIN pre USING (doc_id)
ORDER BY a.doc_id
""")


def _link_fixture_pages(docs: DataFrame) -> DataFrame:
    """The shared analytic HTML fixture for the crawl-graph queries
    (link_graph, crawl_frontier): one page per doc on host doc_id%16
    with links whose targets are doc_id arithmetic — every resolution
    rule exercised (absolute single-quoted uppercase <A HREF>,
    root-relative, unquoted relative, protocol-relative, ``..``
    collapse, rel=nofollow, mailto:/fragment drops)."""
    did = F.col("doc_id").cast("string")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("https://host"),
            (F.col("doc_id") % 16).cast("string"),
            F.lit(".example.com/p/"),
            did,
        ).alias("url"),
        F.concat(
            F.lit("<html><body><p>Doc "), did, F.lit("</p>"),
            F.lit("<A HREF='https://host"),
            ((F.col("doc_id") * 7 + 1) % 16).cast("string"),
            F.lit(".example.com/x/"), did, F.lit("'>ext <b>"), did,
            F.lit("</b></A>"),
            F.lit('<a class="m" href="/about">About</a>'),
            F.lit("<a href=sub/"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(">sub</a>"),
            F.lit('<a href="//host'),
            ((F.col("doc_id") * 3 + 2) % 16).cast("string"),
            F.lit('.example.com/y" id="z">proto</a>'),
            F.lit('<a rel="nofollow" href="https://spam.example.com/z">'
                  "spam</a>"
                  '<a href="mailto:a@b.com">mail</a>'
                  '<a href="#top">top</a>'),
            F.lit('<a href="../up/'),
            (F.col("doc_id") % 3).cast("string"),
            F.lit('">up</a></body></html>'),
        ).alias("html"),
    )


def q_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition for the CRAWL stack — the HTML-to-clean-text
    pipeline in ONE lazy plan: densitometric boilerplate removal
    (operators/boilerplate.extract_main_content) feeding the C4 cleaning
    rules (operators/corpus.c4_clean) — nav/footer/link-farm blocks die
    at the extraction stage, then terminal-punctuation sentence rules,
    javascript/lorem/brace/blocklist gates and corpus-level 3-sentence
    span dedup run over the EXTRACTED text. Deterministic pages embed
    punctuated article paragraphs built from each doc's words plus
    per-doc_id artifact paragraphs; the oracle chains the two stages'
    literal SQL replicas (main_content_oracle_sql → the c4 pipeline over
    perdoc.main_text), so every block decision AND every sentence
    decision is hash-gated through the composition — the crawl twin of
    training_mix."""
    from ndr_import_spark.operators.boilerplate import extract_main_content
    from ndr_import_spark.operators.corpus import c4_clean
    from ndr_import_spark.operators.textstats import spread_rows, tokens

    # spread the one-row-group scan ahead of the page synthesis + the
    # sentence pipeline (measured: 2.5 s of the 3.8 s steady ran in one
    # task); no-op when the source is already parallel
    docs = spread_rows(_t(spark, sf_dir, "documents"))
    wds = tokens(F.col("text"))
    sent = []
    for start, ln in [(1, 2), (3, 5), (8, 5), (13, 4),
                      (17, 5), (22, 2), (24, 5), (29, 5)]:
        sent.append(F.array_join(F.slice(wds, start, ln), " "))
    p1 = F.concat(
        sent[0], F.lit(". "), sent[1], F.lit(". "),
        sent[2], F.lit(". "), sent[3], F.lit("."),
    )
    p2 = F.concat(
        sent[4], F.lit(". "), sent[5], F.lit(". "),
        sent[6], F.lit(". "), sent[7], F.lit("."),
    )
    html = F.concat(
        F.lit('<html><body><div id="nav"><a href="/">Home</a> '
              '<a href="/tags">Tags</a></div><p>'),
        p1,
        F.lit("</p><p>"),
        p2,
        F.lit(' <a href="/next">next post.</a></p>'),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.lit("<p>please enable javascript to continue viewing "
                  "all of the content.</p>"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("<p>subscribe to our newsletter today. follow us on "
                  "social media channels. all rights reserved by the "
                  "site.</p>"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("<p>lorem ipsum dolor sit amet consectetur adipiscing "
                  "elit sed do work.</p>"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 17 == 0,
            F.lit("<p>widget config uses braces { notation } for the "
                  "whole layout here.</p>"),
        ).otherwise(F.lit("")),
        F.lit('<div id="f"><a href="/c">Contact</a> '
              '<a href="/p">Privacy</a></div></body></html>'),
    )
    pages = docs.select("doc_id", html.alias("html"))
    # two consumers (c4 input + the block-count join) would each re-run
    # the page build + block classification — checkpoint the doc-sized
    # extraction frame once, lazily
    mc = extract_main_content(pages).localCheckpoint(eager=False)
    cleaned = c4_clean(
        mc.select("doc_id", F.col("main_text").alias("text")),
        blocklist=("stream",),
    )
    out = cleaned.join(
        mc.select(
            "doc_id", "n_blocks", F.col("n_kept").alias("n_kept_blocks")
        ),
        "doc_id",
    )
    return out.select(
        "doc_id",
        "n_blocks",
        "n_kept_blocks",
        "n_sentences",
        "n_kept",
        "n_span_dropped",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    ).orderBy("doc_id")


def _oracle_crawl_pipeline() -> str:
    from ndr_import_spark.operators.boilerplate import main_content_oracle_sql

    pages_cte = r"""dw AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(lower(text)), '\s+'),
                x -> x <> '') AS wds
  FROM documents
), pages AS (
  SELECT doc_id,
    '<html><body><div id="nav"><a href="/">Home</a> '
    || '<a href="/tags">Tags</a></div><p>'
    || coalesce(array_to_string(wds[1:2], ' '), '') || '. '
    || coalesce(array_to_string(wds[3:7], ' '), '') || '. '
    || coalesce(array_to_string(wds[8:12], ' '), '') || '. '
    || coalesce(array_to_string(wds[13:16], ' '), '') || '.'
    || '</p><p>'
    || coalesce(array_to_string(wds[17:21], ' '), '') || '. '
    || coalesce(array_to_string(wds[22:23], ' '), '') || '. '
    || coalesce(array_to_string(wds[24:28], ' '), '') || '. '
    || coalesce(array_to_string(wds[29:33], ' '), '') || '.'
    || ' <a href="/next">next post.</a></p>'
    || CASE WHEN doc_id % 13 = 0
         THEN '<p>please enable javascript to continue viewing all of the content.</p>'
         ELSE '' END
    || CASE WHEN doc_id % 4 = 0
         THEN '<p>subscribe to our newsletter today. follow us on social media channels. all rights reserved by the site.</p>'
         ELSE '' END
    || CASE WHEN doc_id % 11 = 0
         THEN '<p>lorem ipsum dolor sit amet consectetur adipiscing elit sed do work.</p>'
         ELSE '' END
    || CASE WHEN doc_id % 17 = 0
         THEN '<p>widget config uses braces { notation } for the whole layout here.</p>'
         ELSE '' END
    || '<div id="f"><a href="/c">Contact</a> <a href="/p">Privacy</a></div></body></html>'
    AS html
  FROM dw
)"""
    mc = main_content_oracle_sql(pages_cte)
    return (
        mc
        + r""",
p2 AS (
  SELECT doc_id, n_blocks, n_kept AS n_kept_blocks, lower(main_text) AS t
  FROM perdoc
  WHERE lower(main_text) NOT LIKE '%lorem ipsum%'
    AND lower(main_text) NOT LIKE '%{%'
    AND NOT regexp_matches(lower(main_text), '\b(stream)\b')
)"""
        + _c4_span_chain_sql("p2")
        + r""", agg AS (
  SELECT doc_id, count(*) AS n_kept,
    md5(string_agg(s, ' ' ORDER BY i)) AS clean_md5
  FROM survivors GROUP BY doc_id
)
SELECT a.doc_id, p2.n_blocks, p2.n_kept_blocks,
  n_raw.n_sentences, a.n_kept,
  CAST(pre.n_kept_pre - a.n_kept AS BIGINT) AS n_span_dropped,
  a.clean_md5
FROM agg a
JOIN p2 USING (doc_id)
JOIN n_raw USING (doc_id)
JOIN pre USING (doc_id)
ORDER BY a.doc_id"""
    )


_ORACLE_CRAWL_PIPELINE = _oracle_crawl_pipeline()


def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom filter self-evaluation
    (operators/sketches.bloom_build/probe): build over the even-order
    customers, probe EVERY customer, and measure the one-sided error at
    three (m, k) sizes — the FP-rate curve a filter-sizing decision
    needs. The md5 bit positions are engine-portable, so the oracle
    rebuilds the identical words and the pass/FP counts hash-match
    exactly; membership never false-negatives by construction (pinned
    in pytest). Filter frames are ceil(m/63) BIGINT words — broadcast
    by construction; probing shuffles nothing but the final count."""
    from ndr_import_spark.operators.sketches import bloom_build, bloom_probe

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    # five consumers each side (3 builds/probes + counts + the members
    # semi-join) — checkpoint the two small distinct key sets once
    build = (
        orders.where(F.col("o_orderkey") % 2 == 0)
        .select(F.col("o_custkey").cast("string").alias("k"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    probe = (
        customer.select(F.col("c_custkey").cast("string").alias("k"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    members = probe.join(build, "k", "left_semi")
    n_build = build.agg(F.count(F.lit(1)).alias("n_build"))
    n_members = members.agg(F.count(F.lit(1)).alias("n_members"))
    parts = []
    for m, kk in [(4096, 3), (16384, 4), (65536, 5)]:
        bl = bloom_build(build, F.col("k"), m_bits=m, k=kk)
        pr = bloom_probe(probe, bl, F.col("k"), m_bits=m, k=kk)
        agg = pr.agg(
            F.count(F.lit(1)).alias("n_probe"),
            F.sum(F.col("maybe_member").cast("int")).alias("n_pass"),
        )
        parts.append(
            agg.crossJoin(F.broadcast(n_build))
            .crossJoin(F.broadcast(n_members))
            .select(
                F.lit(m).alias("m_bits"),
                F.lit(kk).alias("k_hashes"),
                "n_build",
                "n_probe",
                "n_members",
                "n_pass",
                (F.col("n_pass") - F.col("n_members")).alias(
                    "false_positives"
                ),
                F.round(
                    (F.col("n_pass") - F.col("n_members")).cast("double")
                    / (F.col("n_probe") - F.col("n_members")).cast("double"),
                    5,
                ).alias("fp_rate"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("m_bits")


def _oracle_bloom_filter() -> str:
    cfgs = [(4096, 3), (16384, 4), (65536, 5)]
    ctes = [
        """build AS (
  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
  WHERE o_orderkey % 2 = 0
), probe AS (
  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
), nb AS (SELECT count(*) AS n_build FROM build),
nm AS (SELECT count(*) AS n_members FROM probe
       WHERE k IN (SELECT k FROM build))"""
    ]
    selects = []
    for m, k in cfgs:
        jays = ", ".join(str(j) for j in range(k))
        ctes.append(
            f"""bpos{m} AS (
  SELECT CAST(('0x' || substring(md5('bloom' || j || ':' || k), 1, 15))
         AS BIGINT) % {m} AS pos
  FROM build, unnest([{jays}]) AS t(j)
), words{m} AS (
  SELECT pos // 63 AS word_idx,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT))
              AS BIGINT) AS word
  FROM bpos{m} GROUP BY pos // 63
), ppos{m} AS (
  SELECT k, CAST(('0x' || substring(md5('bloom' || j || ':' || k), 1, 15))
            AS BIGINT) % {m} AS pos
  FROM probe, unnest([{jays}]) AS t(j)
), pass{m} AS (
  SELECT count(*) AS n_pass, (SELECT count(*) FROM probe) AS n_probe
  FROM (
    SELECT p.k FROM ppos{m} p
    LEFT JOIN words{m} w ON p.pos // 63 = w.word_idx
    GROUP BY p.k
    HAVING sum(CASE WHEN coalesce(w.word, 0)
                     & (CAST(1 AS BIGINT) << CAST(p.pos % 63 AS INT)) <> 0
               THEN 1 ELSE 0 END) = {k}
  )
)"""
        )
        selects.append(
            f"""SELECT {m} AS m_bits, {k} AS k_hashes, nb.n_build,
  pass{m}.n_probe, nm.n_members, pass{m}.n_pass,
  pass{m}.n_pass - nm.n_members AS false_positives,
  round(CAST(pass{m}.n_pass - nm.n_members AS DOUBLE)
        / CAST(pass{m}.n_probe - nm.n_members AS DOUBLE), 5) AS fp_rate
FROM pass{m}, nb, nm"""
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY m_bits"
    )


_ORACLE_BLOOM_FILTER = _oracle_bloom_filter()


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake-maintenance compaction planning
    (operators/layout.compaction_plan): a synthetic file inventory from
    orders (path 'f<orderkey>', bytes from orderkey arithmetic,
    partition = order priority) grouped into ~64 MB rewrite bins by
    greedy cumulative-offset packing. Integer division throughout —
    float '/' would round near-2^53 offsets. The oracle replays the
    window cumsum + div in SQL. Inventory frames are file-count-sized
    (metadata, not data); the window partitions per table partition."""
    from ndr_import_spark.operators.layout import compaction_plan

    orders = _t(spark, sf_dir, "orders")
    inv = orders.select(
        F.col("o_orderpriority").alias("partition"),
        F.concat(F.lit("f"), F.col("o_orderkey").cast("string")).alias(
            "path"
        ),
        ((F.col("o_orderkey") % 9973) * 10000 + 50000).alias("bytes"),
    )
    out = compaction_plan(inv, target_bytes=64 * 1024 * 1024)
    return out.orderBy("partition", "bin")


_ORACLE_COMPACTION_PLAN = """
WITH inv AS (
  SELECT o_orderpriority AS part, 'f' || o_orderkey AS path,
         (o_orderkey % 9973) * 10000 + 50000 AS bytes
  FROM orders
), offs AS (
  SELECT part, path, bytes,
    sum(bytes) OVER (PARTITION BY part ORDER BY path
                     ROWS UNBOUNDED PRECEDING) - bytes AS off
  FROM inv
), binned AS (
  SELECT part, path, bytes, CAST(off // 67108864 AS BIGINT) AS bin FROM offs
)
SELECT part AS partition, bin,
  count(*) AS n_files,
  CAST(sum(bytes) AS BIGINT) AS bin_bytes,
  min(path) AS first_path,
  max(path) AS last_path
FROM binned GROUP BY part, bin ORDER BY partition, bin
"""


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier scheduling (operators/crawl.crawl_frontier): from the
    shared link fixture, canonicalise candidate outlinks, anti-join the
    already-crawled set (the page URLs themselves plus /about on even
    hosts), score hosts by link-graph in-degree, and keep the top 3 per
    host by (n_inlinks DESC, url ASC) through per_source_cap's SALTED
    two-phase top-k. Everything is doc_id arithmetic, so the oracle
    enumerates candidates, seen set, in-link counts and host scores in
    closed form. Completes the crawl loop: extract → graph → rank →
    schedule the next wave."""
    from ndr_import_spark.operators.crawl import (
        crawl_frontier,
        extract_links,
        host_link_graph,
    )
    from ndr_import_spark.operators.textstats import spread_rows

    # spread the scan ahead of the page/link synthesis (measured: 1.8 s
    # of the 2.3 s steady in two single-task stages)
    docs = spread_rows(_t(spark, sf_dir, "documents"))
    pages = _link_fixture_pages(docs)
    links = extract_links(pages)
    host_scores = (
        host_link_graph(links)
        .groupBy(F.col("dst_host").alias("host"))
        .agg(F.sum("n_links").alias("host_score"))
    )
    page_urls = pages.select(F.col("url").alias("url_canon"))
    about_even = (
        docs.where((F.col("doc_id") % 16) % 2 == 0)
        .select(
            F.concat(
                F.lit("https://host"),
                (F.col("doc_id") % 16).cast("string"),
                F.lit(".example.com/about"),
            ).alias("url_canon")
        )
        .distinct()
    )
    seen = page_urls.unionByName(about_even)
    out = crawl_frontier(links, seen, host_scores, k_per_host=3)
    return out.orderBy("host", "rank")


_ORACLE_CRAWL_FRONTIER = """
WITH d AS (SELECT doc_id, cast(doc_id % 16 as int) AS h FROM documents),
cand AS (
  SELECT 'host' || cast((doc_id * 7 + 1) % 16 as int) || '.example.com'
           AS host,
         'https://host' || cast((doc_id * 7 + 1) % 16 as int)
           || '.example.com/x/' || doc_id AS url_canon
  FROM d
  UNION ALL
  SELECT 'host' || h || '.example.com',
         'https://host' || h || '.example.com/about' FROM d
  UNION ALL
  SELECT 'host' || h || '.example.com',
         'https://host' || h || '.example.com/p/sub/'
           || cast(doc_id % 5 as int) FROM d
  UNION ALL
  SELECT 'host' || cast((doc_id * 3 + 2) % 16 as int) || '.example.com',
         'https://host' || cast((doc_id * 3 + 2) % 16 as int)
           || '.example.com/y' FROM d
  UNION ALL
  SELECT 'host' || h || '.example.com',
         'https://host' || h || '.example.com/up/'
           || cast(doc_id % 3 as int) FROM d
), per_url AS (
  SELECT host, url_canon, count(*) AS n_inlinks
  FROM cand GROUP BY host, url_canon
), seen AS (
  SELECT 'https://host' || h || '.example.com/p/' || doc_id AS url_canon
  FROM d
  UNION ALL
  SELECT DISTINCT 'https://host' || h || '.example.com/about'
  FROM d WHERE h % 2 = 0
), fresh AS (
  SELECT p.* FROM per_url p
  ANTI JOIN seen s ON p.url_canon = s.url_canon
), hs AS (
  SELECT host, CAST(sum(cnt) AS BIGINT) AS host_score FROM (
    SELECT 'host' || h || '.example.com' AS host, 3 AS cnt FROM d
    UNION ALL
    SELECT 'host' || cast((doc_id * 7 + 1) % 16 as int)
             || '.example.com', 1 FROM d
    UNION ALL
    SELECT 'host' || cast((doc_id * 3 + 2) % 16 as int)
             || '.example.com', 1 FROM d
  ) GROUP BY host
), ranked AS (
  SELECT f.host, f.url_canon, f.n_inlinks,
    coalesce(hs.host_score, 0) AS host_score,
    CAST(row_number() OVER (
      PARTITION BY f.host ORDER BY f.n_inlinks DESC, f.url_canon
    ) AS INT) AS rank
  FROM fresh f LEFT JOIN hs USING (host)
)
SELECT host, url_canon, n_inlinks, host_score, rank
FROM ranked WHERE rank <= 3 ORDER BY host, rank
"""


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction + host-level link graph
    (operators/crawl.extract_links → host_link_graph): deterministic
    HTML pages over the documents table exercising every resolution
    rule — absolute (single-quoted, uppercase <A HREF>), root-relative,
    unquoted relative against the page directory, protocol-relative,
    ``..`` collapse, rel=nofollow exclusion, and mailto:/fragment drops.
    The link targets are doc_id arithmetic, so the oracle computes the
    exact host edge list in closed form. This completes the crawl story
    end-to-end: warc_extract → extract_links → host_link_graph →
    pagerank/hits. Extraction is pure per-row codegen regexps; the graph
    is one map-side-combinable aggregate whose shuffle is the DISTINCT
    edge count."""
    from ndr_import_spark.operators.crawl import (
        extract_links,
        host_link_graph,
    )

    docs = _t(spark, sf_dir, "documents")
    links = extract_links(_link_fixture_pages(docs))
    return host_link_graph(links).orderBy("src_host", "dst_host")


_ORACLE_LINK_GRAPH = """
WITH d AS (SELECT doc_id, 'host' || cast(doc_id % 16 as int)
                  || '.example.com' AS src FROM documents),
e AS (
  SELECT src AS src_host,
         'host' || cast((doc_id * 7 + 1) % 16 as int) || '.example.com'
           AS dst_host
  FROM d
  UNION ALL
  SELECT src, src FROM d, unnest(range(3)) AS u(k)  -- about, sub, up
  UNION ALL
  SELECT src,
         'host' || cast((doc_id * 3 + 2) % 16 as int) || '.example.com'
  FROM d
)
SELECT src_host, dst_host, count(*) AS n_links
FROM e GROUP BY src_host, dst_host ORDER BY src_host, dst_host
"""


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-media METADATA scan (sources/mediameta.py) over a
    deterministic mixed-container column: MP3 elementary streams (MPEG-1
    Layer III frame walk + Xing/LAME header), Ogg (page walk with RFC
    3533 CRC, Vorbis + Opus id headers) and MP4 (box walk: mvhd
    duration, stsd codec/dimensions, stsz counts). Every payload is
    built by the analytic fixture builders with md5-derived parameters,
    so each row's metadata is closed-form: durations are a single
    integer-exact division both engines round identically. This is the
    routing/budgeting layer a 100 TB crawl needs for compressed media
    the engine deliberately does not decode (Layer III / Vorbis decode
    would need spec tables that cannot be transcribed honestly
    clean-room — see the mediameta module docstring)."""
    import hashlib as _hl

    from ndr_import_spark.operators import multimodal as MM
    from ndr_import_spark.sources import mediameta as MD

    rows = []
    for i in range(150):
        b = _hl.md5(f"media{i}".encode()).digest()
        if i >= 90:
            # r7 classes: ADTS/AAC elementary streams (even i) and
            # Matroska/WebM EBML (odd i)
            if i % 2 == 0:
                payload = MD.build_adts(
                    b[0] % 4, 3 + b[1] % 5, 1 + b[2] % 3,
                    5 + b[0] % 9, payload_len=32,
                )
                kind = "audio"
            elif b[1] % 2 == 0:
                payload = MD.build_webm(
                    "webm",
                    1000.0 * (1 + b[0] % 10),
                    [
                        {
                            "type": "video",
                            "codec": "V_VP9" if b[2] % 2 else "V_VP8",
                            "width": 320 + 16 * (b[2] % 8),
                            "height": 240 + 16 * (b[1] % 4),
                        },
                        {
                            "type": "audio",
                            "codec": "A_OPUS",
                            "sample_rate": 48000,
                            "channels": 1 + (b[0] % 2),
                        },
                    ],
                )
                kind = "video"
            else:
                payload = MD.build_webm(
                    "webm",
                    500.0 * (b[2] % 12),
                    [
                        {
                            "type": "audio",
                            "codec": "A_VORBIS",
                            "sample_rate": 44100,
                            "channels": 2,
                        }
                    ],
                )
                kind = "audio"
            rows.append(
                (i, kind, None, None, None, None, bytearray(payload))
            )
            continue
        if i % 3 == 0:
            payload = MD.build_mp3(
                3,
                3,
                9 + b[0] % 5,
                b[1] % 3,
                8 + b[2] % 8,
                mono=(b[0] % 2 == 0),
                xing_frames=7 + b[2] % 8,
                encoder="LAME3.100",
            )
            kind = "audio"
        elif i % 3 == 1:
            if b[0] % 2 == 0:
                payload = MD.build_ogg_vorbis(
                    32000 + (b[1] % 4) * 4000,
                    1 + (b[2] % 2),
                    (32000 + (b[1] % 4) * 4000) * (b[0] % 6),
                    160000,
                )
            else:
                payload = MD.build_ogg_opus(
                    16000, 1, 48000 * (b[1] % 4) + 312, pre_skip=312
                )
            kind = "audio"
        else:
            if b[0] % 2 == 0:
                payload = MD.build_mp4(
                    1000,
                    500 * (b[1] % 8),
                    "avc1",
                    width=320 + 16 * (b[2] % 8),
                    height=240 + 16 * (b[1] % 4),
                    n_samples=24 * (b[2] % 4),
                )
                kind = "video"
            else:
                payload = MD.build_mp4(
                    1000,
                    250 * (b[1] % 8),
                    "mp4a",
                    channels=1 + (b[2] % 2),
                    sample_rate=44100,
                    n_samples=50 + b[2] % 50,
                )
                kind = "audio"
        rows.append(
            (i, kind, None, None, None, None, bytearray(payload))
        )
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA).repartition(8)
    return (
        MM.extract_media_metadata(media)
        .select(
            "media_id",
            "container",
            "codec",
            "sample_rate",
            "channels",
            "duration_ms",
            "n_frames",
            "declared_frames",
            "width",
            "height",
            "encoder",
        )
        .orderBy("media_id")
    )


def q_exif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF / JFIF / ICC / GPS metadata extraction + the image-side PII
    scrub (functions/exif.py, operators/multimodal.py): deterministic
    JPEG fixtures with md5-derived camera strings, orientation,
    capture timestamps, JFIF densities, ICC headers and GPS
    degree/minute/second RATIONAL triplets on every third image. GPS
    is surfaced as exact integer micro-degrees (all-integer formula —
    no float degree arithmetic, so the oracle is bit-exact), and the
    same payloads are re-probed AFTER scrub_image_metadata to pin that
    the scrub removes GPS/EXIF/ICC while the frame header (and hence
    the image) survives. This is the pii_scrub of the image column —
    GPS EXIF is the PII every training-data pipeline must strip."""
    import hashlib as _hl

    from ndr_import_spark.functions.exif import build_exif_jpeg
    from ndr_import_spark.operators.multimodal import (
        extract_image_metadata,
        scrub_image_metadata,
    )

    rows = []
    for i in range(120):
        b = _hl.md5(f"exif{i}".encode()).digest()
        gps = None
        if i % 3 == 0:
            gps = (
                "S" if b[1] % 2 else "N",
                [(b[0] % 90, 1), (b[1] % 60, 1), (b[2] % 6000, 100)],
                "W" if b[2] % 2 else "E",
                [(b[1] % 180, 1), (b[2] % 60, 1), (b[0] * 37 % 6000, 100)],
                b[0] * 53 % 900000,
                100,
            )
        payload = build_exif_jpeg(
            320 + 16 * (b[0] % 16),
            240 + 16 * (b[1] % 8),
            make=f"Cam{b[0] % 4}",
            model=f"M{b[1] % 10}",
            orientation=1 + (b[2] % 8),
            datetime_original=(
                f"2021:06:{10 + b[2] % 20} {10 + b[0] % 14}:00:00"
            ),
            gps=gps,
            icc=(i % 4 == 0),
            xdensity=72 + b[0] % 4,
            ydensity=72 + b[1] % 4,
        )
        rows.append((i, bytearray(payload)))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).repartition(8)
    pre = extract_image_metadata(media)
    post = extract_image_metadata(scrub_image_metadata(media)).select(
        "media_id",
        F.col("width").alias("post_width"),
        F.col("has_gps").alias("post_has_gps"),
        F.col("make").alias("post_make"),
        F.col("icc_size").alias("post_icc_size"),
    )
    return (
        pre.join(post, "media_id")
        .select(
            "media_id", "fmt", "width", "height", "orientation", "make",
            "model", "datetime_original", "jfif_xdensity",
            "icc_colorspace", "has_gps", "lat_micro", "lon_micro",
            "alt_cm", "post_width", "post_has_gps", "post_make",
            "post_icc_size",
        )
        .orderBy("media_id")
    )


def q_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTIMODAL capstone (r7 VERDICT #6): the image analogue of
    training_pipeline — EXIF/GPS PII scrub -> cross-format perceptual
    ahash dedup -> nearest-neighbour resize + REAL JPEG re-encode ->
    byte-budget shard packing, all in ONE lazy plan over REAL baseline
    JPEGs (functions/jpeg.py scans with functions/exif.py APP1 splices).

    Fixture: 60 JPEGs, pixel gradient g = id % 20 (so ids g, g+20, g+40
    are pixel-identical triplets with DIFFERENT per-id EXIF; exactly one
    of each triplet carries GPS since {g, g+1, g+2} mod 3 hits 0 once).
    The plan scrubs APP1/APP2 (entropy data byte-identical), hashes the
    scrubbed pixels (same pixels -> same hash regardless of which EXIF
    was removed), elects min-id per group, resizes survivors to 4x4
    with a real decode->resample->re-encode roundtrip (receipt column
    proves the resized payload decodes as 4x4 JPEG), and packs by the
    analytic decoded-size estimate through the SAME pack_sequences
    window as the token capstone. The DuckDB oracle reproduces every
    column from md5 arithmetic alone — group structure, GPS counts,
    kept camera make, packing assignment.

    100 TB shape: three Arrow mapInPandas decode stages (per-payload,
    no shuffle), ONE hash groupBy, ONE broadcast-sized semi-join of
    survivors, ONE running-sum window partitioned by uniform md5 shard
    — the same bounded-wide-ops discipline as training_pipeline."""
    import hashlib as _hl

    from ndr_import_spark.functions.exif import build_exif_app1
    from ndr_import_spark.functions.jpeg import encode_jpeg
    from ndr_import_spark.operators import multimodal as MM
    from ndr_import_spark.operators.packing import pack_sequences

    rows = []
    for i in range(60):
        g = i % 20
        b = _hl.md5(f"imgpipe{g}".encode()).digest()
        w = 4 * (1 + g % 3)
        greys = (b * 4)[: w * 4]
        rgb = bytes(v for px in greys for v in (px, px, px))
        jpeg = encode_jpeg(w, 4, rgb)
        e = _hl.md5(f"imgpipeexif{i}".encode()).digest()
        gps = None
        if i % 3 == 0:
            gps = (
                "S" if e[1] % 2 else "N",
                [(e[0] % 90, 1), (e[1] % 60, 1), (e[2] % 6000, 100)],
                "W" if e[2] % 2 else "E",
                [(e[1] % 180, 1), (e[2] % 60, 1), (e[0] * 37 % 6000, 100)],
                e[0] * 53 % 900000,
                100,
            )
        app1 = build_exif_app1(
            make=f"Cam{e[0] % 4}",
            model=f"M{e[1] % 10}",
            orientation=1 + (e[2] % 8),
            gps=gps,
        )
        rows.append((i, bytearray(jpeg[:2] + app1 + jpeg[2:])))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).repartition(8)

    pre = MM.extract_image_metadata(media).select(
        "media_id", "has_gps", "make"
    )
    scrubbed = MM.scrub_image_metadata(media)
    post = MM.extract_image_metadata(scrubbed).select(
        "media_id",
        F.col("has_gps").alias("post_has_gps"),
        F.col("make").alias("post_make"),
    )
    hashes = MM.perceptual_hash_images(scrubbed)
    joined = hashes.join(pre, "media_id").join(post, "media_id")
    groups = joined.groupBy("phash").agg(
        F.min("media_id").alias("kept_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.sum(F.col("has_gps").cast("int")).alias("gps_before"),
        F.sum(F.col("post_has_gps").cast("int")).alias("gps_after"),
        F.max("width").alias("orig_w"),
        F.max("height").alias("orig_h"),
    )
    kept_make = pre.select(
        F.col("media_id").alias("kept_id"), F.col("make").alias("kept_make")
    )
    survivors = scrubbed.join(
        F.broadcast(groups.select("kept_id")),
        scrubbed.media_id == F.col("kept_id"),
    ).select("media_id", "payload")
    resized = MM.resize_images(survivors, 4, 4)

    def receipt(batches):
        import pandas as pd

        from ndr_import_spark.functions.jpeg import decode_jpeg, is_jpeg

        for pdf in batches:
            fmts, oks = [], []
            for p in pdf["payload"]:
                raw = bytes(p or b"")
                fmts.append("jpeg" if is_jpeg(raw) else "other")
                try:
                    w, h, _ch, _px = decode_jpeg(raw)
                    oks.append(w == 4 and h == 4)
                except Exception:  # noqa: BLE001
                    oks.append(False)
            yield pd.DataFrame(
                {
                    "kept_id": pdf["media_id"].values,
                    "resized_w": pdf["width"].values,
                    "resized_h": pdf["height"].values,
                    "resized_fmt": fmts,
                    "resized_ok": oks,
                }
            )

    receipts = resized.mapInPandas(
        receipt,
        "kept_id long, resized_w int, resized_h int, "
        "resized_fmt string, resized_ok boolean",
    )
    packed = pack_sequences(
        groups.withColumn(
            "est_bytes", (F.col("orig_w") * F.col("orig_h") * 3).cast("long")
        ),
        "est_bytes",
        id_col="kept_id",
        capacity=256,
        num_shards=4,
        salt="imgpack",
    ).select("kept_id", "est_bytes", "shard", "pack_id", "pack_offset")
    return (
        groups.join(kept_make, "kept_id")
        .join(receipts, "kept_id")
        .join(packed, "kept_id")
        .select(
            "kept_id", "n_copies", "gps_before", "gps_after", "orig_w",
            "orig_h", "kept_make", "resized_w", "resized_h", "resized_fmt",
            "resized_ok", "est_bytes", "shard", "pack_id", "pack_offset",
        )
        .orderBy("kept_id")
    )


def _oracle_image_pipeline() -> str:
    nib = (
        "(CASE WHEN ascii(substr(md5('imgpack:' || kept_id), {p}, 1)) >= 97 "
        "THEN ascii(substr(md5('imgpack:' || kept_id), {p}, 1)) - 87 "
        "ELSE ascii(substr(md5('imgpack:' || kept_id), {p}, 1)) - 48 END)"
    )
    bucket = " + ".join(
        f"{nib.format(p=p)} * {w}"
        for p, w in ((1, 4096), (2, 256), (3, 16), (4, 1))
    )
    return f"""
WITH g AS (SELECT unnest(range(20)) AS kept_id),
e AS (
  SELECT kept_id,
    cast(('0x' || substring(md5('imgpipeexif' || kept_id), 1, 2)) as int)
      AS e0
  FROM g
),
base AS (
  SELECT kept_id,
    CAST(3 AS BIGINT) AS n_copies,
    CAST(1 AS BIGINT) AS gps_before,
    CAST(0 AS BIGINT) AS gps_after,
    4 * (1 + cast(kept_id % 3 as int)) AS orig_w,
    4 AS orig_h,
    'Cam' || (e0 % 4) AS kept_make,
    4 AS resized_w,
    4 AS resized_h,
    'jpeg' AS resized_fmt,
    TRUE AS resized_ok,
    CAST(4 * (1 + cast(kept_id % 3 as int)) * 4 * 3 AS BIGINT) AS est_bytes,
    CAST(({bucket}) % 4 AS INT) AS shard
  FROM e
),
cum AS (
  SELECT *,
    COALESCE(SUM(est_bytes) OVER (PARTITION BY shard ORDER BY kept_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
  FROM base
)
SELECT kept_id, n_copies, gps_before, gps_after, orig_w, orig_h, kept_make,
       resized_w, resized_h, resized_fmt, resized_ok, est_bytes, shard,
       CAST(cumb // 256 AS BIGINT) AS pack_id,
       CAST(cumb % 256 AS BIGINT) AS pack_offset
FROM cum ORDER BY kept_id
"""


def q_webp_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP container metadata + PII scrub across ALL THREE flavours
    (functions/webp.py webp_metadata/scrub_webp_metadata, r8): plain
    lossy VP8 (dims parsed from the UNCOMPRESSED RFC 6386 §9.1 frame
    header — no DCT/bool-coder needed for the probe), real VP8L
    lossless streams, and VP8X extended containers carrying EXIF chunks
    (raw TIFF bodies with GPS RATIONAL triplets — the same IFD walk as
    JPEG APP1), XMP, and ANIM/ANMF animations. Each payload is probed,
    scrubbed (EXIF/XMP/ICCP chunks dropped, VP8X flags cleared), and
    re-probed IN THE SAME TASK; `image_intact` pins that the compressed
    image chunk survives byte-identical — the scrub-never-touches-
    entropy-data contract extended to WebP. Single mapInPandas pass,
    shuffle-free except output ordering; oracle reproduces every column
    from md5 arithmetic.

    r9 pixel-stats columns: the plain-VP8 rows are now REAL lossy
    streams (libwebp-encoded noise, quality cycling) and each task
    DECODES them with the clean-room RFC 6386 decoder
    (functions/vp8.py): `y_w`/`y_h` are the decoded luma plane dims and
    `pixels_match_ref` pins the decoded Y/U/V planes byte-equal to the
    reference libwebp decode (md5 computed at fixture time — executors
    never need libwebp). VP8L rows verify their decoded RGBA against
    the md5-analytic expectation in-task; VP8X rows (header-only stub
    image data) carry NULLs.

    r9 ALPH column: the non-animated VP8X rows (i%6==5) now carry a
    REAL ALPH chunk — an analytic alpha pattern ((x+y+b0)%256)
    FORWARD-FILTERED at fixture time with the container spec's
    horizontal/vertical/gradient predictors, cycling the filter method.
    Each task decodes it back through functions/webp.decode_alph (the
    lossy-with-transparency quarter of WebP) and emits `alpha_sum`,
    which the oracle recomputes from the closed form — a wrong
    predictor border rule or filter inverse shifts the sum."""
    import hashlib as _hl

    from ndr_import_spark.functions.exif import build_exif_app1
    from ndr_import_spark.functions.webp import (
        build_vp8_keyframe_stub,
        build_vp8x_header,
        build_webp_container,
        encode_webp,
        libwebp_decode_yuv,
        libwebp_encode_rgb,
    )

    rows = []
    for i in range(90):
        b = _hl.md5(f"webp{i}".encode()).digest()
        ref_md5 = None
        if i % 3 == 0:
            w = 32 + 16 * (b[0] % 2)
            h = 32
            rgb = bytes(
                _hl.md5(f"webplossy{i}p{j // 16}".encode()).digest()[j % 16]
                for j in range(w * h * 3)
            )
            payload = libwebp_encode_rgb(
                rgb, w, h, quality=(35.0, 65.0, 90.0)[(i // 3) % 3]
            )
            _, _, yr, ur, vr = libwebp_decode_yuv(payload)
            ref_md5 = _hl.md5(
                yr.tobytes() + ur.tobytes() + vr.tobytes()
            ).hexdigest()
        elif i % 3 == 1:
            rgb = bytes(v for px in b[:16] for v in (px, px, px))
            payload = encode_webp(4, 4, rgb)
        else:
            e = _hl.md5(f"webpexif{i}".encode()).digest()
            gps = (
                "S" if e[1] % 2 else "N",
                [(e[0] % 90, 1), (e[1] % 60, 1), (e[2] % 6000, 100)],
                "W" if e[2] % 2 else "E",
                [(e[1] % 180, 1), (e[2] % 60, 1), (e[0] * 37 % 6000, 100)],
                e[0] * 53 % 900000,
                100,
            )
            app1 = build_exif_app1(make=f"Cam{e[0] % 4}", gps=gps)
            tiff = app1[10:]  # marker(2)+len(2)+'Exif\0\0'(6) -> raw TIFF
            if i % 2 == 0:
                w = 320 + 16 * (b[0] % 16)
                h = 240 + 16 * (b[1] % 8)
            else:
                # ALPH-bearing rows use a smaller canvas: the alpha plane
                # is canvas-sized and decoded per task
                w = 64 + 16 * (b[0] % 4)
                h = 48
            vp8 = build_vp8_keyframe_stub(w, h, fill=bytes(b) * 3)
            chunks = [
                (b"VP8X", build_vp8x_header(
                    w, h, exif=True, xmp=True, animation=(i % 2 == 0),
                    alpha=(i % 2 == 1))),
            ]
            if i % 2 == 0:
                n_frames = 2 + b[2] % 3
                for fidx in range(n_frames):
                    anmf = bytes(16) + b"VP8 " + len(vp8).to_bytes(4, "little") + vp8
                    chunks.append((b"ANMF", anmf))
            else:
                # real ALPH chunk: analytic alpha (x+y+b0)%256, forward-
                # filtered with the container spec's predictors (method
                # cycles 0..3); decode_alph must invert it exactly
                fm = (i // 6) % 4
                plane = [
                    (x + y + b[0]) % 256
                    for y in range(h) for x in range(w)
                ]
                res = bytearray(w * h)
                for y in range(h):
                    for x in range(w):
                        p = y * w + x
                        if fm == 0:
                            pred = 0
                        elif fm == 1 or y == 0:  # horizontal (+ row-0 rule)
                            pred = (plane[p - 1] if x else
                                    (plane[p - w] if y else 0))
                        elif fm == 2:  # vertical
                            pred = plane[p - w]
                        else:  # gradient
                            if x == 0:
                                pred = plane[p - w]
                            else:
                                g = (plane[p - 1] + plane[p - w]
                                     - plane[p - w - 1])
                                pred = 0 if g < 0 else (255 if g > 255 else g)
                        res[p] = (plane[p] - pred) & 0xFF
                chunks.append((b"ALPH", bytes([fm << 2]) + bytes(res)))
                chunks.append((b"VP8 ", vp8))
            chunks += [(b"EXIF", tiff), (b"XMP ", b"<x:xmpmeta/>")]
            payload = build_webp_container(chunks)
        rows.append((i, bytearray(payload), ref_md5))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, ref_md5 string"
    ).repartition(8)

    def probe(batches):
        import pandas as pd

        from ndr_import_spark.functions.exif import parse_exif_tiff
        from ndr_import_spark.functions.webp import (
            _walk_riff_chunks,
            scrub_webp_metadata,
            webp_metadata,
        )

        import hashlib as _h2

        from ndr_import_spark.functions.webp import (
            decode_webp,
            decode_webp_alpha,
            decode_webp_yuv,
        )

        for pdf in batches:
            out = []
            for mid, p, rmd5 in zip(
                pdf["media_id"], pdf["payload"], pdf["ref_md5"]
            ):
                raw = bytes(p)
                m = webp_metadata(raw)
                lat = lon = None
                has_gps = False
                img_chunks = []
                for fourcc, pos, size in _walk_riff_chunks(raw):
                    body = raw[pos + 8:pos + 8 + size]
                    if fourcc in (b"VP8 ", b"VP8L", b"ANMF"):
                        img_chunks.append(body)
                    elif fourcc == b"EXIF":
                        t = parse_exif_tiff(body)
                        has_gps = bool(t.get("has_gps"))
                        lat, lon = t.get("lat_micro"), t.get("lon_micro")
                scrubbed = scrub_webp_metadata(raw)
                post = webp_metadata(scrubbed)
                intact = all(c in scrubbed for c in img_chunks)
                # r9 pixel columns
                y_w = y_h = None
                match = None
                alpha_sum = None
                if int(mid) % 6 == 5:
                    _aw, _ah, plane = decode_webp_alpha(raw)
                    alpha_sum = sum(plane)
                if rmd5 is not None:
                    # lossy VP8: clean-room decode vs reference-md5
                    _w, _h, y, u, v = decode_webp_yuv(raw)
                    y_h, y_w = y.shape
                    match = _h2.md5(
                        y.tobytes() + u.tobytes() + v.tobytes()
                    ).hexdigest() == rmd5
                elif int(mid) % 3 == 1:
                    # VP8L: decoded RGBA vs the md5-analytic pixels
                    bb = _h2.md5(f"webp{int(mid)}".encode()).digest()
                    want = bytes(
                        c for px in bb[:16] for c in (px, px, px, 255)
                    )
                    dw, dh, ch, px4 = decode_webp(raw)
                    y_w, y_h = dw, dh
                    match = (ch == 4 and px4 == want)
                out.append((
                    int(mid), m["variant"], m["codec"], m["width"],
                    m["height"], m["n_frames"], m["has_exif"],
                    m["has_xmp"], has_gps, lat, lon,
                    post["has_exif"], post["has_xmp"], intact,
                    y_w, y_h, match, alpha_sum,
                ))
            yield pd.DataFrame(out, columns=[
                "media_id", "variant", "codec", "width", "height",
                "n_frames", "has_exif", "has_xmp", "has_gps",
                "lat_micro", "lon_micro", "post_has_exif",
                "post_has_xmp", "image_intact",
                "y_w", "y_h", "pixels_match_ref", "alpha_sum",
            ])

    return media.mapInPandas(
        probe,
        "media_id long, variant string, codec string, width int, "
        "height int, n_frames int, has_exif boolean, has_xmp boolean, "
        "has_gps boolean, lat_micro long, lon_micro long, "
        "post_has_exif boolean, post_has_xmp boolean, "
        "image_intact boolean, y_w int, y_h int, "
        "pixels_match_ref boolean, alpha_sum bigint",
    ).orderBy("media_id")


_ORACLE_WEBP_METADATA = """
WITH m AS (SELECT unnest(range(90)) AS i),
d AS (SELECT i, md5('webp' || i) AS hx, md5('webpexif' || i) AS ex FROM m),
b AS (
  SELECT i,
    cast(('0x' || substring(hx, 1, 2)) as int) AS b0,
    cast(('0x' || substring(hx, 3, 2)) as int) AS b1,
    cast(('0x' || substring(hx, 5, 2)) as int) AS b2,
    cast(('0x' || substring(ex, 1, 2)) as int) AS e0,
    cast(('0x' || substring(ex, 3, 2)) as int) AS e1,
    cast(('0x' || substring(ex, 5, 2)) as int) AS e2
  FROM d
)
SELECT
  i AS media_id,
  CASE cast(i % 3 as int) WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l'
    ELSE 'vp8x' END AS variant,
  CASE WHEN i % 3 = 1 THEN 'vp8l' ELSE 'vp8' END AS codec,
  CASE WHEN i % 3 = 1 THEN 4
       WHEN i % 3 = 0 THEN 32 + 16 * (b0 % 2)
       WHEN i % 2 = 1 THEN 64 + 16 * (b0 % 4)
       ELSE 320 + 16 * (b0 % 16) END AS width,
  CASE WHEN i % 3 = 1 THEN 4
       WHEN i % 3 = 0 THEN 32
       WHEN i % 2 = 1 THEN 48
       ELSE 240 + 16 * (b1 % 8) END AS height,
  CASE WHEN i % 3 = 2 AND i % 2 = 0 THEN 2 + b2 % 3 ELSE 1 END AS n_frames,
  (i % 3 = 2) AS has_exif,
  (i % 3 = 2) AS has_xmp,
  (i % 3 = 2) AS has_gps,
  CASE WHEN i % 3 = 2 THEN
    (CASE WHEN e1 % 2 = 1 THEN -1 ELSE 1 END) * (
      CAST(e0 % 90 AS BIGINT) * 1000000
      + (CAST(e1 % 60 AS BIGINT) * 1000000) // 60
      + (CAST(e2 % 6000 AS BIGINT) * 1000000) // 360000)
  ELSE NULL END AS lat_micro,
  CASE WHEN i % 3 = 2 THEN
    (CASE WHEN e2 % 2 = 1 THEN -1 ELSE 1 END) * (
      CAST(e1 % 180 AS BIGINT) * 1000000
      + (CAST(e2 % 60 AS BIGINT) * 1000000) // 60
      + (CAST((e0 * 37) % 6000 AS BIGINT) * 1000000) // 360000)
  ELSE NULL END AS lon_micro,
  FALSE AS post_has_exif,
  FALSE AS post_has_xmp,
  TRUE AS image_intact,
  -- r9 pixel columns: decoded luma plane dims + the cross-decoder
  -- parity flag (clean-room RFC 6386 decode == reference libwebp,
  -- byte-for-byte); VP8X rows carry header-only stub image data
  CASE WHEN i % 3 = 1 THEN 4
       WHEN i % 3 = 0 THEN 32 + 16 * (b0 % 2)
       ELSE NULL END AS y_w,
  CASE WHEN i % 3 = 1 THEN 4
       WHEN i % 3 = 0 THEN 32
       ELSE NULL END AS y_h,
  CASE WHEN i % 3 = 2 THEN NULL ELSE TRUE END AS pixels_match_ref,
  -- r9 ALPH column: the non-animated VP8X rows carry a real alpha
  -- plane, analytic (x+y+b0)%256 over the 64..112 x 48 canvas; the
  -- engine decodes the forward-filtered chunk back and sums it
  CASE WHEN i % 6 = 5 THEN (
    SELECT cast(sum((x + y + b0) % 256) as bigint)
    FROM unnest(range(64 + 16 * (b0 % 4))) AS tx(x),
         unnest(range(48)) AS ty(y)
  ) ELSE NULL END AS alpha_sum
FROM b ORDER BY media_id
"""


def q_webp_anim_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-WebP frame extraction + per-frame pixel decode + frame
    dedup (operators/multimodal.webp_frame_table, r9): 12 animations mix
    REAL lossy-VP8 frames (libwebp-encoded noise, decoded in-task by the
    clean-room RFC 6386 decoder) with VP8L lossless frames, with
    deliberate content repeats. The frame table is one stateless Arrow
    pass (geometry/duration from the 16-byte ANMF headers, pixel_md5
    from the DECODED planes); everything downstream is JVM-side — a
    broadcast join against the fixture-time expected digests and one
    groupBy. Oracle-gated end to end: frame counts, summed durations and
    codec splits are md5-analytic; `n_unique_frames` pins that
    cross-frame dedup by decoded pixels collapses the planted repeats;
    `frames_match_ref` pins EVERY frame's decode byte-equal to its
    reference (libwebp planes for lossy, analytic RGBA for lossless).
    Frame-level dedup is the dominant redundancy cut in animation
    corpora, and it shuffles digests, never pixels."""
    import hashlib as _hl

    from ndr_import_spark.functions.webp import (
        _walk_riff_chunks,
        build_anmf_chunk,
        build_vp8x_header,
        build_webp_container,
        encode_webp,
        libwebp_decode_yuv,
        libwebp_encode_rgb,
    )
    from ndr_import_spark.operators.multimodal import webp_frame_table

    def image_chunk(webp_file: bytes, fourcc: bytes) -> bytes:
        for cc, pos, size in _walk_riff_chunks(webp_file):
            if cc == fourcc:
                return webp_file[pos + 8:pos + 8 + size]
        raise ValueError("chunk not found")

    rows = []
    refs = []
    for i in range(12):
        b = _hl.md5(f"anim{i}".encode()).digest()
        n = 2 + b[0] % 4
        chunks = [(b"VP8X", build_vp8x_header(32, 32, animation=True))]
        for j in range(n):
            dur = 40 + b[2 + j] % 60
            if j % 2 == 0:
                # VP8L lossless 4x4; content repeats with period 2 over
                # the even frames
                c = _hl.md5(f"anim{i}c{(j // 2) % 2}".encode()).digest()
                rgb = bytes(v for px in c[:16] for v in (px, px, px))
                frame = image_chunk(encode_webp(4, 4, rgb), b"VP8L")
                want = bytes(x for px in c[:16] for x in (px, px, px, 255))
                refs.append((i, j, _hl.md5(want).hexdigest()))
                chunks.append((b"ANMF", build_anmf_chunk(
                    0, 0, 4, 4, dur, frame, b"VP8L")))
            else:
                # lossy VP8 32x32; content repeats with period 2 over the
                # odd frames (identical input -> identical stream ->
                # identical decode, so dedup is analytic)
                key = (j // 2) % 2
                rgb = bytes(
                    _hl.md5(f"anim{i}L{key}p{k // 16}".encode()).digest()[k % 16]
                    for k in range(32 * 32 * 3)
                )
                enc = libwebp_encode_rgb(rgb, 32, 32, 75.0)
                _, _, yr, ur, vr = libwebp_decode_yuv(enc)
                refs.append((i, j, _hl.md5(
                    yr.tobytes() + ur.tobytes() + vr.tobytes()).hexdigest()))
                chunks.append((b"ANMF", build_anmf_chunk(
                    0, 0, 32, 32, dur, image_chunk(enc, b"VP8 "), b"VP8 ")))
        rows.append((i, bytearray(build_webp_container(chunks))))

    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).repartition(4)
    ref = spark.createDataFrame(
        refs, "media_id long, frame_ix int, ref_md5 string"
    )
    frames = webp_frame_table(media)
    joined = frames.join(F.broadcast(ref), ["media_id", "frame_ix"], "left")
    return (
        joined.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_frames"),
            F.sum("duration_ms").cast("bigint").alias("total_duration_ms"),
            F.sum((F.col("codec") == "vp8").cast("int")).cast("int")
            .alias("n_vp8"),
            F.sum((F.col("codec") == "vp8l").cast("int")).cast("int")
            .alias("n_vp8l"),
            F.countDistinct("pixel_md5").cast("int")
            .alias("n_unique_frames"),
            (F.min((F.col("pixel_md5") == F.col("ref_md5")).cast("int"))
             == 1).alias("frames_match_ref"),
        )
        .orderBy("media_id")
    )


_ORACLE_WEBP_ANIM = """
WITH m AS (SELECT unnest(range(12)) AS i),
d AS (SELECT i, md5('anim' || i) AS hx FROM m),
n AS (
  SELECT i, 2 + cast(('0x' || substring(hx, 1, 2)) as int) % 4 AS n, hx
  FROM d
),
f AS (
  SELECT i, n,
    j,
    40 + cast(('0x' || substring(hx, (2 + j) * 2 + 1, 2)) as int) % 60 AS dur
  FROM n, unnest(range(n)) AS t(j)
)
SELECT i AS media_id,
  cast(count(*) as int) AS n_frames,
  cast(sum(dur) as bigint) AS total_duration_ms,
  cast(sum(CASE WHEN j % 2 = 1 THEN 1 ELSE 0 END) as int) AS n_vp8,
  cast(sum(CASE WHEN j % 2 = 0 THEN 1 ELSE 0 END) as int) AS n_vp8l,
  -- planted repeats: even (VP8L) and odd (VP8) frames each cycle
  -- through 2 contents, so uniques = min(count, 2) per codec
  cast(least(sum(CASE WHEN j % 2 = 0 THEN 1 ELSE 0 END), 2)
     + least(sum(CASE WHEN j % 2 = 1 THEN 1 ELSE 0 END), 2) as int)
    AS n_unique_frames,
  TRUE AS frames_match_ref
FROM f GROUP BY i ORDER BY media_id
"""


def q_mp3_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 structural triage at crawl scale (functions/mp3.py +
    operators/multimodal.mp3_structure_table, r10): 48 deterministic
    Layer III streams — MPEG-2 LSF intact files, MPEG-1 streams cut
    mid-frame, mid-stream reservoir splices, and corrupt side info
    whose scalefactor budget overflows part2_3_length — every side-info
    field (part2_3_length, scalefac_compress, block types,
    main_data_begin) derived from md5 bytes so the frame walk,
    bit-reservoir chain verification, scalefactor bit budgets (MPEG-1
    slen pairs AND the MPEG-2 LSF partition rows), exact durations and
    integrity verdicts are all closed-form for the DuckDB oracle.
    Arrow mapInPandas, shuffle-free until the 4-group aggregate;
    side-info-sized cost (PCM is never decoded) — at 100 TB the triage
    reads ~2% of each audio payload's bytes."""
    import hashlib as _hl

    from ndr_import_spark.functions.mp3 import build_layer3_stream
    from ndr_import_spark.operators import multimodal as MM

    rows = []
    for i in range(48):
        hx = _hl.md5(f"mp3{i}".encode()).hexdigest()
        b = [int(hx[k * 2:k * 2 + 2], 16) for k in range(6)]
        c = i % 4
        nfr = 2 + b[0] % 4
        if c == 0:
            # MPEG-2 LSF mono, intact: one granule per frame, long blocks
            frames = [
                {"granules": [[{
                    "part2_3_length": 100 + (b[1] + 53 * f) % 800,
                    "scalefac_compress": b[2] % 400,
                }]]}
                for f in range(nfr)
            ]
            data = build_layer3_stream(
                frames, mpeg1=False, sr_idx=0, br_idx=8, mono=True)
        elif c == 1:
            # MPEG-1 mono, cut mid-frame
            frames = [
                {"granules": [[{
                    "part2_3_length": 100 + (b[1] + 53 * f) % 800,
                    "scalefac_compress": b[2] % 16,
                }] for _ in range(2)]}
                for f in range(nfr)
            ]
            data = build_layer3_stream(
                frames, mpeg1=True, sr_idx=0, br_idx=9, mono=True)
            data = data[:len(data) - (1 + b[5] % 100)]
        elif c == 2:
            # MPEG-1 mono, reservoir splice + mixed long/short blocks
            frames = []
            for f in range(nfr):
                grs = []
                for g in range(2):
                    if (f + g + b[4]) % 3 == 0:
                        grs.append({
                            "part2_3_length":
                                130 + (b[1] + 53 * f + 29 * g) % 700,
                            "scalefac_compress": b[2] % 8,
                            "block_type": 2,
                        })
                    else:
                        grs.append({
                            "part2_3_length":
                                130 + (b[1] + 53 * f + 29 * g) % 700,
                            "scalefac_compress": b[2] % 16,
                        })
                spec = {"granules": [[grs[0]], [grs[1]]]}
                if f == 0:
                    spec["main_data_begin"] = 10 + b[2] % 100
                frames.append(spec)
            data = build_layer3_stream(
                frames, mpeg1=True, sr_idx=0, br_idx=9, mono=True)
        else:
            # corrupt side info: budget 74 bits vs part2_3_length 5
            frames = [
                {"granules": [[{
                    "part2_3_length": 5, "scalefac_compress": 15,
                }] for _ in range(2)]}
                for _f in range(nfr)
            ]
            data = build_layer3_stream(
                frames, mpeg1=True, sr_idx=0, br_idx=9, mono=True)
        rows.append((i, bytearray(data)))
    df = spark.createDataFrame(
        rows, "media_id long, payload binary").repartition(8)
    t = MM.mp3_structure_table(df)
    return (
        t.withColumn(
            "category",
            F.when(F.col("media_id") % 4 == 0, "lsf_intact")
            .when(F.col("media_id") % 4 == 1, "truncated")
            .when(F.col("media_id") % 4 == 2, "reservoir_spliced")
            .otherwise("overflow"),
        )
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_frames").alias("total_frames"),
            F.round(F.sum("duration_ms") * 1000, 0).cast("long")
            .alias("total_duration_us"),
            F.min("verdict").alias("verdict"),
            F.sum("huffman_bits").alias("total_huffman_bits"),
            F.sum("scalefac_bits").alias("total_scalefac_bits"),
            F.sum("n_short").alias("total_short"),
            F.max("max_reservoir_bytes").alias("max_reservoir"),
        )
        .orderBy("category")
    )


_ORACLE_MP3_INTEGRITY = """
WITH files AS (SELECT unnest(range(48)) AS i),
slen(sfc, s1, s2) AS (VALUES
  (0,0,0),(1,0,1),(2,0,2),(3,0,3),(4,3,0),(5,1,1),(6,1,2),(7,1,3),
  (8,2,1),(9,2,2),(10,2,3),(11,3,1),(12,3,2),(13,3,3),(14,4,2),(15,4,3)),
p AS (
  SELECT i, i % 4 AS c,
    cast(('0x' || substring(md5('mp3' || i), 1, 2)) as int) AS b0,
    cast(('0x' || substring(md5('mp3' || i), 3, 2)) as int) AS b1,
    cast(('0x' || substring(md5('mp3' || i), 5, 2)) as int) AS b2,
    cast(('0x' || substring(md5('mp3' || i), 9, 2)) as int) AS b4,
    cast(('0x' || substring(md5('mp3' || i), 11, 2)) as int) AS b5
  FROM files
),
par AS (SELECT *, 2 + b0 % 4 AS nfr FROM p),
-- one row per (file, frame, granule); c=0 has a single granule
gr AS (
  SELECT par.*, f.f, g.g
  FROM par, unnest(range(nfr)) AS f(f), unnest(range(2)) AS g(g)
  WHERE g.g < CASE WHEN c = 0 THEN 1 ELSE 2 END
),
calc AS (
  SELECT gr.*,
    CASE WHEN c = 3 THEN 5
         WHEN c = 2 THEN 130 + (b1 + 53*f + 29*g) % 700
         ELSE 100 + (b1 + 53*f) % 800 END AS p23,
    CASE WHEN c = 2 AND (f + g + b4) % 3 = 0 THEN 1 ELSE 0 END AS is_short,
    CASE
      WHEN c = 0 THEN  -- LSF partition row 0 (sfc < 400), long blocks
        6 * (((b2 % 400) // 16) // 5) + 5 * (((b2 % 400) // 16) % 5)
        + 5 * (((b2 % 400) % 16) // 4) + 5 * ((b2 % 400) % 4)
      WHEN c = 3 THEN 74  -- sfc 15 -> slen (4,3): 11*4 + 10*3
      WHEN c = 2 AND (f + g + b4) % 3 = 0 THEN
        (SELECT 18 * (s1 + s2) FROM slen WHERE sfc = b2 % 8)
      ELSE (SELECT 11 * s1 + 10 * s2 FROM slen WHERE sfc = b2 % 16)
    END AS part2,
    -- truncated files: the cut final frame is never side-parsed
    CASE WHEN c = 1 AND f = nfr - 1 THEN 0 ELSE 1 END AS counted
  FROM gr
),
per_file AS (
  SELECT i, c, nfr,
    sum(CASE WHEN counted = 1 AND part2 <= p23
             THEN p23 - part2 ELSE 0 END) AS hb,
    sum(CASE WHEN counted = 1 THEN part2 ELSE 0 END) AS sb,
    sum(CASE WHEN counted = 1 THEN is_short ELSE 0 END) AS nshort,
    round((CASE WHEN c = 1 THEN nfr - 1 ELSE nfr END)
          * (CASE WHEN c = 0 THEN 576000.0 / 22050
                  ELSE 1152000.0 / 44100 END), 3) AS dur_ms,
    CASE WHEN c = 2 THEN 10 + max(b2) % 100 ELSE 0 END AS resv
  FROM calc GROUP BY i, c, nfr
)
SELECT
  CASE c WHEN 0 THEN 'lsf_intact' WHEN 1 THEN 'truncated'
         WHEN 2 THEN 'reservoir_spliced' ELSE 'overflow' END AS category,
  count(*) AS n_files,
  cast(sum(nfr) as bigint) AS total_frames,
  cast(round(sum(dur_ms) * 1000, 0) as bigint) AS total_duration_us,
  CASE c WHEN 0 THEN 'ok' WHEN 1 THEN 'truncated'
         WHEN 2 THEN 'reservoir_broken' ELSE 'part2_overflow' END
    AS verdict,
  cast(sum(hb) as bigint) AS total_huffman_bits,
  cast(sum(sb) as bigint) AS total_scalefac_bits,
  cast(sum(nshort) as bigint) AS total_short,
  cast(max(resv) as int) AS max_reservoir
FROM per_file GROUP BY c ORDER BY category
"""


def q_webp_anim_canvas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-WebP CANVAS COMPOSITING (functions/webp.
    composite_webp_frames + operators/multimodal.webp_canvas_table,
    r10): 24 three-frame animations — a full-canvas opaque base, a
    semi-transparent 4x4 overlay whose BLEND (alpha-composite vs
    overwrite) and DISPOSE (clear-to-transparent vs keep) flags come
    from md5 bits, then a corner patch — so every composited canvas is
    a piecewise-rectangular function of the md5-derived colors and the
    spec's blend formula in exact integer form: over an opaque base,
    C = (Sc*Sa + Dc*(255-Sa)) // 255. The per-frame canvas channel
    sums are therefore closed-form for the DuckDB oracle across all
    four (blend, dispose) regimes — the viewer-visible state, not the
    raw sub-rectangles. Frames are real VP8L streams with alpha
    literals (encode_vp8l_chunk) decoded by the clean-room VP8L path.
    Arrow mapInPandas, shuffle-free: canvases never leave their task;
    only 32-byte digests/sums shuffle."""
    import hashlib as _hl

    from ndr_import_spark.functions.webp import (
        build_anmf_chunk,
        build_vp8x_header,
        build_webp_container,
        encode_vp8l_chunk,
    )
    from ndr_import_spark.operators import multimodal as MM

    rows = []
    for i in range(24):
        hx = _hl.md5(f"canvas{i}".encode()).hexdigest()
        b = [int(hx[k * 2:k * 2 + 2], 16) for k in range(14)]
        c0 = bytes([b[0], b[1], b[2], 255])
        c1 = bytes([b[3], b[4], b[5], b[6]])
        c2 = bytes([b[7], b[8], b[9], 255])
        bl1, d1 = b[10] % 2, (b[10] // 2) % 2
        payload = build_webp_container(
            [(b"VP8X", build_vp8x_header(8, 8, animation=True)),
             (b"ANMF", build_anmf_chunk(
                 0, 0, 8, 8, 10 + b[11] % 50,
                 encode_vp8l_chunk(8, 8, c0 * 64), b"VP8L",
                 dispose=0, blend=1)),
             (b"ANMF", build_anmf_chunk(
                 2, 2, 4, 4, 10 + b[12] % 50,
                 encode_vp8l_chunk(4, 4, c1 * 16), b"VP8L",
                 dispose=d1, blend=bl1)),
             (b"ANMF", build_anmf_chunk(
                 0, 0, 2, 2, 10 + b[13] % 50,
                 encode_vp8l_chunk(2, 2, c2 * 4), b"VP8L",
                 dispose=0, blend=0))]
        )
        rows.append((i, bytearray(payload)))
    df = spark.createDataFrame(
        rows, "media_id long, payload binary").repartition(8)
    return (
        MM.webp_canvas_table(df)
        .select("media_id", "frame_ix", "duration_ms",
                "sum_r", "sum_g", "sum_b", "sum_a")
        .orderBy("media_id", "frame_ix")
    )


_ORACLE_WEBP_ANIM_CANVAS = """
WITH a AS (SELECT unnest(range(24)) AS i),
p AS (SELECT i, md5('canvas' || i) AS hx FROM a),
b AS (
  SELECT i,
    cast(('0x' || substring(hx, 1, 2)) as int) AS c0r,
    cast(('0x' || substring(hx, 3, 2)) as int) AS c0g,
    cast(('0x' || substring(hx, 5, 2)) as int) AS c0b,
    cast(('0x' || substring(hx, 7, 2)) as int) AS c1r,
    cast(('0x' || substring(hx, 9, 2)) as int) AS c1g,
    cast(('0x' || substring(hx, 11, 2)) as int) AS c1b,
    cast(('0x' || substring(hx, 13, 2)) as int) AS a1,
    cast(('0x' || substring(hx, 15, 2)) as int) AS c2r,
    cast(('0x' || substring(hx, 17, 2)) as int) AS c2g,
    cast(('0x' || substring(hx, 19, 2)) as int) AS c2b,
    cast(('0x' || substring(hx, 21, 2)) as int) AS fl,
    cast(('0x' || substring(hx, 23, 2)) as int) AS du0,
    cast(('0x' || substring(hx, 25, 2)) as int) AS du1,
    cast(('0x' || substring(hx, 27, 2)) as int) AS du2
  FROM p
),
d AS (
  SELECT *, fl % 2 AS bl1, (fl // 2) % 2 AS d1,
    -- the spec blend formula over an opaque base, exact integer form
    (c1r * a1 + c0r * (255 - a1)) // 255 AS vr,
    (c1g * a1 + c0g * (255 - a1)) // 255 AS vg,
    (c1b * a1 + c0b * (255 - a1)) // 255 AS vb,
    -- the overlay pixel as shown: overwrite keeps (c1, a1), blend
    -- resolves to (v*, 255)
    CASE WHEN fl % 2 = 1 THEN 0 ELSE 1 END AS blended
  FROM b
),
f AS (SELECT d.*, t.j FROM d, unnest(range(3)) AS t(j))
SELECT i AS media_id, cast(j as int) AS frame_ix,
  cast(CASE j WHEN 0 THEN 10 + du0 % 50 WHEN 1 THEN 10 + du1 % 50
       ELSE 10 + du2 % 50 END as int) AS duration_ms,
  cast(CASE j
    WHEN 0 THEN 64 * c0r
    WHEN 1 THEN 16 * (CASE WHEN bl1 = 1 THEN c1r ELSE vr END) + 48 * c0r
    ELSE 4 * c2r
      + (CASE WHEN d1 = 1 THEN 0
              ELSE 16 * (CASE WHEN bl1 = 1 THEN c1r ELSE vr END) END)
      + 44 * c0r
  END as bigint) AS sum_r,
  cast(CASE j
    WHEN 0 THEN 64 * c0g
    WHEN 1 THEN 16 * (CASE WHEN bl1 = 1 THEN c1g ELSE vg END) + 48 * c0g
    ELSE 4 * c2g
      + (CASE WHEN d1 = 1 THEN 0
              ELSE 16 * (CASE WHEN bl1 = 1 THEN c1g ELSE vg END) END)
      + 44 * c0g
  END as bigint) AS sum_g,
  cast(CASE j
    WHEN 0 THEN 64 * c0b
    WHEN 1 THEN 16 * (CASE WHEN bl1 = 1 THEN c1b ELSE vb END) + 48 * c0b
    ELSE 4 * c2b
      + (CASE WHEN d1 = 1 THEN 0
              ELSE 16 * (CASE WHEN bl1 = 1 THEN c1b ELSE vb END) END)
      + 44 * c0b
  END as bigint) AS sum_b,
  cast(CASE j
    WHEN 0 THEN 64 * 255
    WHEN 1 THEN 16 * (CASE WHEN bl1 = 1 THEN a1 ELSE 255 END) + 48 * 255
    ELSE 4 * 255
      + (CASE WHEN d1 = 1 THEN 0
              ELSE 16 * (CASE WHEN bl1 = 1 THEN a1 ELSE 255 END) END)
      + 44 * 255
  END as bigint) AS sum_a
FROM f ORDER BY media_id, frame_ix
"""


def q_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3 tag extraction (functions/mp3.parse_id3v2/parse_id3v1 +
    operators/multimodal.audio_tag_table, r10): 40 tagged MP3 payloads
    across four regimes — ID3v2.4 UTF-8 with comment+picture, ID3v2.3
    latin-1 with TYER/TSSE, ID3v2.4 UTF-16 (BOM decode) with an ID3v1
    trailer supplying the fields the v2 tag lacks (fallback merge), and
    ID3v1-only — every text value an md5-hex derivation so all eleven
    output columns are closed-form for the DuckDB oracle. Tag-sized
    cost: text frames decode, APIC/audio bytes are never touched.
    Arrow mapInPandas, shuffle-free except output ordering."""
    import hashlib as _hl

    from ndr_import_spark.functions.mp3 import (
        build_id3v1,
        build_id3v2,
        build_layer3_stream,
    )
    from ndr_import_spark.operators import multimodal as MM

    body = build_layer3_stream(
        [{"granules": [[{"part2_3_length": 100}], [{}]]}] * 2,
        mpeg1=True, sr_idx=0, br_idx=9, mono=True)
    rows = []
    for i in range(40):
        hx = _hl.md5(f"id3{i}".encode()).hexdigest()
        title6, yearb = hx[0:6], int(hx[6:8], 16)
        artist4, album6 = hx[8:12], hx[12:18]
        genre4, enc4, com4 = hx[18:22], hx[22:26], hx[26:30]
        c = i % 4
        if c == 0:
            tag = build_id3v2(
                {"TIT2": f"T-{title6}", "TPE1": f"A-{artist4}",
                 "TALB": f"L-{album6}", "TDRC": str(1950 + yearb % 70),
                 "TCON": f"G-{genre4}"},
                version=4, encoding=3, comment=f"c-{com4}", picture=True)
            payload = tag + body
        elif c == 1:
            tag = build_id3v2(
                {"TIT2": f"T-{title6}", "TPE1": f"A-{artist4}",
                 "TALB": f"L-{album6}", "TYER": str(1950 + yearb % 70),
                 "TCON": f"G-{genre4}", "TSSE": f"Lavf-{enc4}"},
                version=3, encoding=0)
            payload = tag + body
        elif c == 2:
            tag = build_id3v2(
                {"TIT2": f"Tï-{hx[0:4]}", "TPE1": f"A-{artist4}"},
                version=4, encoding=1)
            payload = tag + body + build_id3v1(
                title="ignored-v2-wins", album=f"L1-{hx[12:16]}",
                year=str(1980 + yearb % 40), comment=f"vc-{com4}")
        else:
            payload = body + build_id3v1(
                title=f"T1-{hx[0:4]}", artist=f"A1-{hx[8:12]}",
                album=f"L1-{hx[12:16]}", year=str(1980 + yearb % 40),
                comment=f"vc-{com4}")
        rows.append((i, bytearray(payload)))
    df = spark.createDataFrame(
        rows, "media_id long, payload binary").repartition(8)
    return MM.audio_tag_table(df).orderBy("media_id")


_ORACLE_ID3_TAGS = """
WITH a AS (SELECT unnest(range(40)) AS i),
p AS (SELECT i, i % 4 AS c, md5('id3' || i) AS hx FROM a),
d AS (
  SELECT *,
    substring(hx, 1, 6) AS t6, substring(hx, 1, 4) AS t4,
    cast(('0x' || substring(hx, 7, 2)) as int) AS yb,
    substring(hx, 9, 4) AS a4, substring(hx, 13, 6) AS l6,
    substring(hx, 13, 4) AS l4, substring(hx, 19, 4) AS g4,
    substring(hx, 23, 4) AS e4, substring(hx, 27, 4) AS c4
  FROM p
)
SELECT i AS media_id,
  CASE c WHEN 0 THEN '2.4' WHEN 1 THEN '2.3' WHEN 2 THEN '2.4'
         ELSE '1' END AS id3_version,
  CASE c WHEN 0 THEN 'T-' || t6 WHEN 1 THEN 'T-' || t6
         WHEN 2 THEN 'Tï-' || t4 ELSE 'T1-' || t4 END AS title,
  CASE c WHEN 3 THEN 'A1-' || a4 ELSE 'A-' || a4 END AS artist,
  CASE c WHEN 0 THEN 'L-' || l6 WHEN 1 THEN 'L-' || l6
         ELSE 'L1-' || l4 END AS album,
  CASE WHEN c IN (0, 1) THEN cast(1950 + yb % 70 as varchar)
       ELSE cast(1980 + yb % 40 as varchar) END AS year,
  CASE WHEN c IN (0, 1) THEN 'G-' || g4 ELSE NULL END AS genre,
  CASE WHEN c = 1 THEN 'Lavf-' || e4 ELSE NULL END AS encoder,
  CASE c WHEN 0 THEN 'c-' || c4 WHEN 1 THEN NULL
         ELSE 'vc-' || c4 END AS comment,
  (c = 0) AS has_picture,
  cast(CASE c WHEN 0 THEN 7 WHEN 1 THEN 6 WHEN 2 THEN 2
       ELSE 0 END as int) AS n_frames
FROM d ORDER BY media_id
"""


def q_audio_tags_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-container tag extraction (functions/audiotags.py +
    audio_tag_table, r10; +M4A r11): 45 REAL audio files — FLAC
    (encode_flac streams with a VORBIS_COMMENT block spliced after
    STREAMINFO and an optional PICTURE block), Ogg Vorbis and Ogg Opus
    (comment header packets behind proper page lacing), WAV (RIFF
    LIST/INFO appended with a patched RIFF size), and M4A (a build_mp4
    mp4a stream with a moov/udta/meta/ilst subtree of iTunes-style
    item atoms, optional covr art) — one unified schema across all
    five, every text value an md5-hex derivation so the DuckDB oracle
    is closed-form. Proves the container dispatch, the shared
    VorbisComment parse (incl. key-case folding and picture
    detection), the latin-1 RIFF sub-chunk walk, and the BMFF
    udta/meta fullbox walk. Tag-sized cost; Arrow mapInPandas,
    shuffle-free except output ordering."""
    import hashlib as _hl

    import numpy as np

    from ndr_import_spark.functions.audiotags import (
        build_flac_with_comments,
        build_m4a_tagged,
        build_ogg_opus_tagged,
        build_ogg_vorbis_tagged,
        build_riff_info,
    )
    from ndr_import_spark.functions.flac import encode_flac
    from ndr_import_spark.functions.wav import encode_wav
    from ndr_import_spark.operators import multimodal as MM
    from ndr_import_spark.sources.mediameta import build_mp4

    sig = np.array([0.25] * 32 + [-0.25] * 32)
    flac_base = encode_flac(8000, sig)
    wav_base = encode_wav(8000, sig, bits=16)
    m4a_base = build_mp4(44100, 44100, codec="mp4a", channels=2,
                         sample_rate=44100, n_samples=8, brand="M4A ")
    rows = []
    for i in range(45):
        hx = _hl.md5(f"atag{i}".encode()).hexdigest()
        t6, a4, l6 = hx[0:6], hx[8:12], hx[12:18]
        yearb = int(hx[6:8], 16)
        g4, e4, c4 = hx[18:22], hx[22:26], hx[26:30]
        year = str(1950 + yearb % 70)
        c = i % 5
        if c == 0:
            payload = build_flac_with_comments(
                flac_base,
                {"TITLE": f"T-{t6}", "ARTIST": f"A-{a4}",
                 "ALBUM": f"L-{l6}", "DATE": year, "GENRE": f"G-{g4}",
                 "COMMENT": f"c-{c4}"},
                vendor="ndr-spark", picture=(yearb % 2 == 0))
        elif c == 1:
            payload = build_ogg_vorbis_tagged(
                44100, 2,
                {"TITLE": f"T-{t6}", "ARTIST": f"A-{a4}",
                 "ALBUM": f"L-{l6}", "DATE": year,
                 "ENCODER": f"enc-{e4}"})
        elif c == 2:
            payload = build_ogg_opus_tagged(
                48000, 1,
                {"title": f"T-{t6}", "artist": f"A-{a4}",
                 "DESCRIPTION": f"c-{c4}"})  # lowercase keys fold up
        elif c == 3:
            payload = build_riff_info(
                wav_base,
                {"INAM": f"T-{t6}", "IART": f"A-{a4}", "IPRD": f"L-{l6}",
                 "ICRD": year, "IGNR": f"G-{g4}", "ISFT": f"enc-{e4}",
                 "ICMT": f"c-{c4}"})
        else:
            payload = build_m4a_tagged(
                m4a_base,
                {"TITLE": f"T-{t6}", "ARTIST": f"A-{a4}",
                 "ALBUM": f"L-{l6}", "DATE": year, "GENRE": f"G-{g4}",
                 "ENCODER": f"enc-{e4}", "COMMENT": f"c-{c4}"},
                cover=(b"\xff\xd8cov" if yearb % 2 == 0 else None))
        rows.append((i, bytearray(payload)))
    df = spark.createDataFrame(
        rows, "media_id long, payload binary").repartition(8)
    return MM.audio_tag_table(df).orderBy("media_id")


_ORACLE_AUDIO_TAGS_MULTI = """
WITH a AS (SELECT unnest(range(45)) AS i),
p AS (SELECT i, i % 5 AS c, md5('atag' || i) AS hx FROM a),
d AS (
  SELECT *,
    substring(hx, 1, 6) AS t6,
    cast(('0x' || substring(hx, 7, 2)) as int) AS yb,
    substring(hx, 9, 4) AS a4, substring(hx, 13, 6) AS l6,
    substring(hx, 19, 4) AS g4, substring(hx, 23, 4) AS e4,
    substring(hx, 27, 4) AS c4
  FROM p
)
SELECT i AS media_id,
  CASE c WHEN 0 THEN 'flac' WHEN 1 THEN 'vorbis' WHEN 2 THEN 'opus'
         WHEN 3 THEN 'riff' ELSE 'mp4' END AS id3_version,
  'T-' || t6 AS title,
  'A-' || a4 AS artist,
  CASE WHEN c IN (0, 1, 3, 4) THEN 'L-' || l6 ELSE NULL END AS album,
  CASE WHEN c = 2 THEN NULL
       ELSE cast(1950 + yb % 70 as varchar) END AS year,
  CASE WHEN c IN (0, 3, 4) THEN 'G-' || g4 ELSE NULL END AS genre,
  CASE WHEN c IN (1, 3, 4) THEN 'enc-' || e4 ELSE NULL END AS encoder,
  CASE WHEN c IN (0, 2, 3, 4) THEN 'c-' || c4 ELSE NULL END AS comment,
  (c IN (0, 4) AND yb % 2 = 0) AS has_picture,
  cast(CASE c WHEN 0 THEN 6 WHEN 1 THEN 5 WHEN 2 THEN 3 WHEN 3 THEN 7
       ELSE 7 + (CASE WHEN yb % 2 = 0 THEN 1 ELSE 0 END)
       END as int) AS n_frames
FROM d ORDER BY media_id
"""


def q_album_art_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Album-art routing capstone (r11, the audio twin of
    image_pipeline): APIC / FLAC PICTURE / MP4 covr payloads extracted
    from REAL audio containers (operators/multimodal.extract_album_art)
    and fed through the EXISTING image pipeline — EXIF/GPS scrub ->
    cross-container perceptual-ahash dedup — as ONE lazy plan: album
    art is how GPS-bearing JPEGs hide inside audio corpora.

    Fixture: 48 audio files = 12 distinct JPEG arts x 4 copies
    (i = g + 12k); copy k rides container k%3 (MP3 ID3v2 APIC, FLAC
    PICTURE block, M4A ilst covr; k=3 a second MP3) — so each art
    group spans all three containers. Per-copy EXIF APP1 differs
    (make/orientation md5-derived); exactly ONE copy per group
    (k == g % 4) carries GPS. The plan extracts the art, scrubs APP1
    (pixels untouched), hashes scrubbed pixels — identical art across
    MP3/FLAC/M4A collapses to ONE group — and proves gps_before=1 /
    gps_after=0 per group. Every output column is md5-analytic for the
    DuckDB oracle.

    100 TB shape: two Arrow mapInPandas passes (art-sized — audio
    codec bytes never read past the tag walk), ONE hash groupBy, a
    broadcast-sized kept-make join; shuffle carries hashes + booleans,
    never payload bytes."""
    import hashlib as _hl

    from ndr_import_spark.functions.audiotags import (
        build_flac_with_comments,
        build_m4a_tagged,
    )
    from ndr_import_spark.functions.exif import build_exif_app1
    from ndr_import_spark.functions.flac import encode_flac
    from ndr_import_spark.functions.jpeg import encode_jpeg
    from ndr_import_spark.functions.mp3 import (
        build_id3v2,
        build_layer3_stream,
    )
    from ndr_import_spark.operators import multimodal as MM
    from ndr_import_spark.sources.mediameta import build_mp4

    import numpy as np

    mp3_body = build_layer3_stream(
        [{"granules": [[{"part2_3_length": 100}], [{}]]}],
        mpeg1=True, sr_idx=0, br_idx=9, mono=True)
    flac_base = encode_flac(8000, np.array([0.25] * 32 + [-0.25] * 32))
    m4a_base = build_mp4(44100, 44100, codec="mp4a", channels=2,
                         sample_rate=44100, n_samples=8, brand="M4A ")
    rows = []
    for i in range(48):
        g, k = i % 12, i // 12
        b = _hl.md5(f"aart{g}".encode()).digest()
        w = 4 * (1 + g % 3)
        greys = (b * 4)[: w * 4]
        rgb = bytes(v for px in greys for v in (px, px, px))
        jpeg = encode_jpeg(w, 4, rgb)
        e = _hl.md5(f"aartexif{i}".encode()).digest()
        gps = None
        if k == g % 4:
            gps = (
                "S" if e[1] % 2 else "N",
                [(e[0] % 90, 1), (e[1] % 60, 1), (e[2] % 6000, 100)],
                "W" if e[2] % 2 else "E",
                [(e[1] % 180, 1), (e[2] % 60, 1), (e[0] * 37 % 6000, 100)],
                e[0] * 53 % 900000,
                100,
            )
        app1 = build_exif_app1(
            make=f"Cam{e[0] % 4}", model=f"M{e[1] % 10}",
            orientation=1 + (e[2] % 8), gps=gps)
        art = jpeg[:2] + app1 + jpeg[2:]
        if k % 3 == 0:
            payload = build_id3v2(
                {"TIT2": f"T{i}"}, version=4, picture_data=art) + mp3_body
        elif k % 3 == 1:
            payload = build_flac_with_comments(
                flac_base, {"TITLE": f"T{i}"}, picture_payload=art)
        else:
            payload = build_m4a_tagged(
                m4a_base, {"TITLE": f"T{i}"}, cover=art)
        rows.append((i, bytearray(payload)))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary").repartition(8)

    art = MM.extract_album_art(media)
    pre = MM.extract_image_metadata(art).select(
        "media_id", "has_gps", "make")
    scrubbed = MM.scrub_image_metadata(art)
    post = MM.extract_image_metadata(scrubbed).select(
        "media_id", F.col("has_gps").alias("post_has_gps"))
    hashes = MM.perceptual_hash_images(scrubbed)
    containers = art.select("media_id", "container")
    joined = (hashes.join(pre, "media_id").join(post, "media_id")
              .join(containers, "media_id"))
    groups = joined.groupBy("phash").agg(
        F.min("media_id").alias("kept_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct("container").alias("n_containers"),
        F.sum(F.col("has_gps").cast("int")).alias("gps_before"),
        F.sum(F.col("post_has_gps").cast("int")).alias("gps_after"),
        F.max("width").alias("art_w"),
        F.max("height").alias("art_h"),
    )
    kept_make = pre.select(
        F.col("media_id").alias("kept_id"),
        F.col("make").alias("kept_make"))
    return (
        groups.join(F.broadcast(kept_make), "kept_id")
        .select("kept_id", "n_copies", "n_containers", "gps_before",
                "gps_after", "art_w", "art_h", "kept_make")
        .orderBy("kept_id")
    )


_ORACLE_ALBUM_ART_PIPELINE = """
WITH a AS (SELECT unnest(range(12)) AS g),
d AS (
  SELECT g,
    cast(('0x' || substring(md5('aartexif' || g), 1, 2)) as int) AS e0
  FROM a
)
SELECT g AS kept_id,
  cast(4 as bigint) AS n_copies,
  cast(3 as bigint) AS n_containers,
  cast(1 as bigint) AS gps_before,
  cast(0 as bigint) AS gps_after,
  cast(4 * (1 + g % 3) as int) AS art_w,
  cast(4 as int) AS art_h,
  'Cam' || (e0 % 4) AS kept_make
FROM d ORDER BY kept_id
"""


def q_cross_codec_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-codec AUDIO dedup (r11, the audio twin of
    cross_codec_dedup): 16 source signals x 6 REAL codec routes — WAV
    PCM16, FLAC, IMA ADPCM, MS ADPCM, G.711 µ-law, G.711 A-law — through
    operators/multimodal.audio_fingerprint_table. The settled-window
    fingerprint collapses each source's five encodings into ONE
    candidate group (lossy transients decay inside the skipped window
    halves); the exact pcm_md5 tier distinguishes the lossless pair
    (WAV == FLAC bit-identical PCM) from the four lossy routes, so
    n_exact = 5 per group is itself the proof that both tiers work.

    Fixture analyticity: each source is 8 constant 128-sample segments
    at amplitude-bin CENTERS (L+0.5)/8-1 with levels L in [2,13] —
    inside the G.711 companding error margin (worst 0.016 vs half-bin
    0.031, measured) — and levels 0/1 derive from the source index
    (uniqueness by construction), 2..7 from md5 bytes, so the
    fingerprint VALUE is closed-form for the DuckDB oracle:
    fp = sum(L_j * 16^j).

    100 TB shape: one stateless Arrow decode pass (samples never leave
    the task; 48 bytes/row of keys shuffle), ONE combinable groupBy on
    the fingerprint. Same discipline as image cross_codec_dedup."""
    import hashlib as _hl

    import numpy as np

    from ndr_import_spark.functions.adpcm import (
        encode_ima,
        encode_ms,
        encode_wav_ima,
        encode_wav_ms,
    )
    from ndr_import_spark.functions.audiofp import g711_encode
    from ndr_import_spark.functions.flac import encode_flac
    from ndr_import_spark.functions.wav import encode_wav, encode_wav_g711
    from ndr_import_spark.operators import multimodal as MM

    rows = []
    for i in range(96):
        s, k = i % 16, i // 16
        b = _hl.md5(f"afp{s}".encode()).digest()
        levels = [2 + (s % 12), 2 + (s // 12)] + [
            2 + (b[j] % 12) for j in range(2, 8)]
        sig = np.concatenate(
            [np.full(128, (L + 0.5) / 8 - 1) for L in levels])
        if k == 0:
            payload = encode_wav(8000, sig, bits=16)
        elif k == 1:
            payload = encode_flac(8000, sig)
        elif k == 2:
            payload = encode_wav_ima(8000, encode_ima(sig, 256), 1, 256)
        elif k == 3:
            payload = encode_wav_ms(8000, encode_ms(sig, 256), 1, 256)
        elif k == 4:
            payload = encode_wav_g711(8000, g711_encode(sig, "mulaw"),
                                      "mulaw")
        else:
            payload = encode_wav_g711(8000, g711_encode(sig, "alaw"),
                                      "alaw")
        rows.append((i, bytearray(payload)))
    df = spark.createDataFrame(
        rows, "media_id long, payload binary").repartition(8)
    keys = MM.audio_fingerprint_table(df)
    return (
        keys.groupBy("fingerprint").agg(
            F.min("media_id").alias("kept_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("codec").alias("n_codecs"),
            F.countDistinct("pcm_md5").alias("n_exact"),
            F.max("sample_rate").alias("sample_rate"),
        )
        .select("kept_id", "n_copies", "n_codecs", "n_exact",
                "fingerprint", "sample_rate")
        .orderBy("kept_id")
    )


_ORACLE_CROSS_CODEC_AUDIO = """
WITH a AS (SELECT unnest(range(16)) AS s),
d AS (SELECT s, md5('afp' || s) AS hx FROM a),
lv AS (
  SELECT s,
    2 + (s % 12) AS l0,
    2 + cast(floor(s / 12) as int) AS l1,
    2 + (cast(('0x' || substring(hx, 5, 2)) as int) % 12) AS l2,
    2 + (cast(('0x' || substring(hx, 7, 2)) as int) % 12) AS l3,
    2 + (cast(('0x' || substring(hx, 9, 2)) as int) % 12) AS l4,
    2 + (cast(('0x' || substring(hx, 11, 2)) as int) % 12) AS l5,
    2 + (cast(('0x' || substring(hx, 13, 2)) as int) % 12) AS l6,
    2 + (cast(('0x' || substring(hx, 15, 2)) as int) % 12) AS l7
  FROM d
)
SELECT s AS kept_id,
  cast(6 as bigint) AS n_copies,
  cast(6 as bigint) AS n_codecs,
  cast(5 as bigint) AS n_exact,
  (cast(l0 as bigint) + l1 * 16 + l2 * 256 + l3 * 4096 + l4 * 65536
   + l5 * 1048576 + cast(l6 as bigint) * 16777216
   + cast(l7 as bigint) * 268435456) AS fingerprint,
  cast(8000 as int) AS sample_rate
FROM lv ORDER BY kept_id
"""


def q_audio_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio quality gate (r11, the audio twin of gopher_quality): 48
    REAL audio files across four planted quality classes — clean
    symmetric steps, clipped (a planted fraction of full-scale int16
    samples), near-silent (a few nonzero samples in a zero field), and
    DC-offset — alternating WAV PCM16 / FLAC containers, scored by
    operators/multimodal.audio_quality_table. Every amplitude is a
    dyadic rational (k/64 or int16 full scale) and every file is 1024
    samples, so peak / mean-square / DC / ratios are EXACT in float64
    and the DuckDB oracle replays them bit-for-bit from md5 arithmetic
    — including the verdict precedence (clipped > silent > dc_offset >
    ok). Stateless Arrow pass; stats shuffle, samples never do."""
    import hashlib as _hl

    import numpy as np

    from ndr_import_spark.functions.flac import encode_flac
    from ndr_import_spark.functions.wav import encode_wav
    from ndr_import_spark.operators import multimodal as MM

    FS = 32767.0 / 32768.0
    rows = []
    for i in range(48):
        b = _hl.md5(f"aq{i}".encode()).digest()
        c = i % 4
        va = ((b[0] % 48) + 8) / 64.0
        if c == 0:
            sig = np.concatenate([np.full(512, va), np.full(512, -va)])
        elif c == 1:
            m = 128 + (b[2] % 4) * 64  # clipped samples, even
            rest = 1024 - m
            sig = np.concatenate([
                np.full(m // 2, FS), np.full(m // 2, -FS),
                np.full(rest // 2, va), np.full(rest - rest // 2, -va),
            ])
        elif c == 2:
            k = 16 + (b[2] % 4) * 8    # nonzero samples
            sig = np.concatenate([np.full(k, va), np.zeros(1024 - k)])
        else:
            sig = np.concatenate([
                np.full(512, 0.25 + va / 8), np.full(512, 0.25 - va / 8),
            ])
        payload = (encode_wav(8000, sig, bits=16) if (i // 4) % 2 == 0
                   else encode_flac(8000, sig))
        rows.append((i, bytearray(payload)))
    df = spark.createDataFrame(
        rows, "media_id long, payload binary").repartition(8)
    return MM.audio_quality_table(df).orderBy("media_id")


_ORACLE_AUDIO_QUALITY = """
WITH a AS (SELECT unnest(range(48)) AS i),
p AS (
  SELECT i, i % 4 AS c, md5('aq' || i) AS hx,
    CASE WHEN (i // 4) % 2 = 0 THEN 'pcm16' ELSE 'flac' END AS codec
  FROM a
),
d AS (
  SELECT *,
    ((cast(('0x' || substring(hx, 1, 2)) as int) % 48) + 8) / 64.0 AS va,
    128 + (cast(('0x' || substring(hx, 5, 2)) as int) % 4) * 64 AS m,
    16 + (cast(('0x' || substring(hx, 5, 2)) as int) % 4) * 8 AS k,
    32767.0 / 32768.0 AS fs
  FROM p
)
SELECT i AS media_id, codec,
  cast(8000 as int) AS sample_rate,
  cast(1024 as bigint) AS n_samples,
  128.0 AS duration_ms,
  CASE c WHEN 0 THEN va WHEN 1 THEN fs WHEN 2 THEN va
         ELSE 0.25 + va / 8 END AS peak,
  CASE c WHEN 0 THEN va * va
         WHEN 1 THEN (m * fs * fs + (1024 - m) * va * va) / 1024
         WHEN 2 THEN k * va * va / 1024
         ELSE ((0.25 + va / 8) * (0.25 + va / 8)
               + (0.25 - va / 8) * (0.25 - va / 8)) / 2 END AS mean_square,
  CASE c WHEN 0 THEN 0.0 WHEN 1 THEN 0.0 WHEN 2 THEN k * va / 1024
         ELSE 0.25 END AS dc_offset,
  CASE c WHEN 1 THEN m / 1024.0 ELSE 0.0 END AS clip_ratio,
  CASE c WHEN 2 THEN (1024 - k) / 1024.0 ELSE 0.0 END AS silence_ratio,
  CASE c WHEN 0 THEN 'ok' WHEN 1 THEN 'clipped' WHEN 2 THEN 'silent'
         ELSE 'dc_offset' END AS verdict
FROM d ORDER BY media_id
"""


def q_audio_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUDIO capstone (r11) — the audio twin of image_pipeline:
    quality gate -> cross-codec fingerprint dedup -> linear resample
    with a real re-encode receipt, ONE lazy plan over 60 REAL audio
    files.

    Fixture: 12 sources x 4 codec routes (WAV PCM16 / FLAC / IMA ADPCM
    / G.711 µ-law; 48 good files) + 12 planted-bad files (clipped /
    silent / DC-offset, 4 each). Sources are 8 constant 128-sample
    segments at bin-center levels with the BACK HALF the exact mirror
    of the front (l[4+j] = 15 - l[j]), so every good file has dc == 0
    by construction and survives the quality gate that drops the 12
    bad ones. The fingerprint collapses each source's four codec
    routes; the kept (min-id) copy is always the WAV PCM16 route, so
    the resample receipt — the kept payload resampled 8000 -> 16000 by
    exact dyadic linear interpolation, re-encoded as WAV PCM16, then
    re-scored by audio_quality_table — has CLOSED-FORM peak and
    mean-square (255/256-weighted segment squares + the 7 boundary
    midpoints), which the DuckDB oracle replays bit-for-bit.

    100 TB shape: three stateless Arrow passes (quality, keys,
    resample — payloads never shuffle), ONE fingerprint groupBy, two
    broadcast semi-joins (ok-ids, kept-ids). Same discipline as
    image_pipeline."""
    import hashlib as _hl

    import numpy as np

    from ndr_import_spark.functions.adpcm import encode_ima, encode_wav_ima
    from ndr_import_spark.functions.audiofp import g711_encode
    from ndr_import_spark.functions.flac import encode_flac
    from ndr_import_spark.functions.wav import encode_wav, encode_wav_g711
    from ndr_import_spark.operators import multimodal as MM

    FS = 32767.0 / 32768.0
    rows = []
    for i in range(60):
        if i < 48:
            s, k = i % 12, i // 12
            b = _hl.md5(f"apipe{s}".encode()).digest()
            front = [2 + (s % 12), 2 + (b[1] % 12), 2 + (b[2] % 12),
                     2 + (b[3] % 12)]
            levels = front + [15 - L for L in front]
            sig = np.concatenate(
                [np.full(128, (L + 0.5) / 8 - 1) for L in levels])
            if k == 0:
                payload = encode_wav(8000, sig, bits=16)
            elif k == 1:
                payload = encode_flac(8000, sig)
            elif k == 2:
                payload = encode_wav_ima(8000, encode_ima(sig, 256),
                                         1, 256)
            else:
                payload = encode_wav_g711(
                    8000, g711_encode(sig, "mulaw"), "mulaw")
        else:
            b = _hl.md5(f"apbad{i}".encode()).digest()
            va = ((b[0] % 48) + 8) / 64.0
            c = (i - 48) % 3
            if c == 0:
                m = 128 + (b[2] % 4) * 64
                rest = 1024 - m
                sig = np.concatenate([
                    np.full(m // 2, FS), np.full(m // 2, -FS),
                    np.full(rest // 2, va),
                    np.full(rest - rest // 2, -va)])
            elif c == 1:
                kz = 16 + (b[2] % 4) * 8
                sig = np.concatenate(
                    [np.full(kz, va), np.zeros(1024 - kz)])
            else:
                sig = np.concatenate([
                    np.full(512, 0.25 + va / 8),
                    np.full(512, 0.25 - va / 8)])
            payload = encode_wav(8000, sig, bits=16)
        rows.append((i, bytearray(payload)))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary").repartition(8)

    quality = MM.audio_quality_table(media)
    ok_ids = quality.filter(F.col("verdict") == "ok").select("media_id")
    good = media.join(F.broadcast(ok_ids), "media_id", "left_semi")
    keys = MM.audio_fingerprint_table(good)
    groups = keys.groupBy("fingerprint").agg(
        F.min("media_id").alias("kept_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct("codec").alias("n_codecs"),
    )
    survivors = good.join(
        F.broadcast(groups.select("kept_id")),
        good.media_id == F.col("kept_id"),
    ).select("media_id", "payload")
    resampled = MM.resample_audio(survivors, 16000)
    receipt = MM.audio_quality_table(resampled).select(
        F.col("media_id").alias("kept_id"),
        F.col("sample_rate").alias("res_sr"),
        F.col("n_samples").alias("res_n"),
        F.col("duration_ms").alias("res_duration_ms"),
        F.col("peak").alias("res_peak"),
        F.col("mean_square").alias("res_mean_square"),
        F.col("verdict").alias("res_verdict"),
    )
    return (
        groups.join(receipt, "kept_id")
        .select("kept_id", "n_copies", "n_codecs", "res_sr", "res_n",
                "res_duration_ms", "res_peak", "res_mean_square",
                "res_verdict")
        .orderBy("kept_id")
    )


_ORACLE_AUDIO_PIPELINE = """
WITH a AS (SELECT unnest(range(12)) AS s),
d AS (SELECT s, md5('apipe' || s) AS hx FROM a),
lv AS (
  SELECT s,
    (2 + (s % 12) - 7.5) / 8 AS v0,
    (2 + (cast(('0x' || substring(hx, 3, 2)) as int) % 12) - 7.5) / 8 AS v1,
    (2 + (cast(('0x' || substring(hx, 5, 2)) as int) % 12) - 7.5) / 8 AS v2,
    (2 + (cast(('0x' || substring(hx, 7, 2)) as int) % 12) - 7.5) / 8 AS v3
  FROM d
),
m AS (
  SELECT s, v0, v1, v2, v3,
    (v0 + v1) / 2 AS m0, (v1 + v2) / 2 AS m1, (v2 + v3) / 2 AS m2,
    (v3 - v0) / 2 AS m3
  FROM lv
)
SELECT s AS kept_id,
  cast(4 as bigint) AS n_copies,
  cast(4 as bigint) AS n_codecs,
  cast(16000 as int) AS res_sr,
  cast(2048 as bigint) AS res_n,
  128.0 AS res_duration_ms,
  greatest(abs(v0), abs(v1), abs(v2), abs(v3)) AS res_peak,
  (255 * 2 * (v0*v0 + v1*v1 + v2*v2 + v3*v3) + v3*v3
   + 2 * (m0*m0 + m1*m1 + m2*m2) + m3*m3) / 2048 AS res_mean_square,
  'ok' AS res_verdict
FROM m ORDER BY kept_id
"""


def q_audio_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-boundary segmentation (r11, the audio twin of document
    chunking): 40 REAL audio files (WAV PCM16 / FLAC alternating),
    each three constant-amplitude voiced bursts at md5-derived offsets
    and lengths separated by >= 128-sample silence gaps (min_gap_ms=16
    at 8 kHz). Every output value is exact: segment boundaries are the
    planted sample offsets (ms = samples/8, dyadic), and a constant
    burst's mean-square is exactly its amplitude squared — so the
    DuckDB oracle replays all 6 columns bit-for-bit from cumulative
    md5 arithmetic. Stateless Arrow pass; ~50-byte segment rows
    shuffle, samples never do."""
    import hashlib as _hl

    import numpy as np

    from ndr_import_spark.functions.flac import encode_flac
    from ndr_import_spark.functions.wav import encode_wav
    from ndr_import_spark.operators import multimodal as MM

    rows = []
    for i in range(40):
        b = _hl.md5(f"aseg{i}".encode()).digest()
        parts = [np.zeros(128 + (b[0] % 64))]
        for j in range(3):
            amp = ((b[2 * j + 1] % 48) + 8) / 64.0
            if j % 2:
                amp = -amp
            n = 64 + (b[2 * j + 2] % 64)
            parts.append(np.full(n, amp))
            parts.append(np.zeros(128 + (b[2 * j + 3] % 64)))
        sig = np.concatenate(parts)
        payload = (encode_wav(8000, sig, bits=16) if i % 2 == 0
                   else encode_flac(8000, sig))
        rows.append((i, bytearray(payload)))
    df = spark.createDataFrame(
        rows, "media_id long, payload binary").repartition(8)
    return MM.segment_audio_table(df, min_gap_ms=16.0).orderBy(
        "media_id", "seg_ix")


_ORACLE_AUDIO_SEGMENTATION = """
WITH a AS (SELECT unnest(range(40)) AS i),
d AS (
  SELECT i, md5('aseg' || i) AS hx FROM a
),
p AS (
  -- byte indices mirror the fixture loop exactly: amp_j = byte 2j+1,
  -- n_j = byte 2j+2, gap_j = byte 2j+3 — so gap_j and amp_{j+1} share
  -- a byte (2j+3 == 2(j+1)+1); hex char offset of byte k is 2k+1
  SELECT i,
    128 + (cast(('0x' || substring(hx, 1, 2)) as int) % 64) AS g0,
    ((cast(('0x' || substring(hx, 3, 2)) as int) % 48) + 8) / 64.0 AS a1,
    64 + (cast(('0x' || substring(hx, 5, 2)) as int) % 64) AS n1,
    128 + (cast(('0x' || substring(hx, 7, 2)) as int) % 64) AS g1,
    ((cast(('0x' || substring(hx, 7, 2)) as int) % 48) + 8) / 64.0 AS a2,
    64 + (cast(('0x' || substring(hx, 9, 2)) as int) % 64) AS n2,
    128 + (cast(('0x' || substring(hx, 11, 2)) as int) % 64) AS g2,
    ((cast(('0x' || substring(hx, 11, 2)) as int) % 48) + 8) / 64.0 AS a3,
    64 + (cast(('0x' || substring(hx, 13, 2)) as int) % 64) AS n3
  FROM d
),
segs AS (
  SELECT i, 0 AS seg_ix, g0 AS st, n1 AS n, a1 * a1 AS ms FROM p
  UNION ALL
  SELECT i, 1, g0 + n1 + g1, n2, a2 * a2 FROM p
  UNION ALL
  SELECT i, 2, g0 + n1 + g1 + n2 + g2, n3, a3 * a3 FROM p
)
SELECT i AS media_id, cast(seg_ix as int) AS seg_ix,
  st * 1000.0 / 8000 AS start_ms,
  (st + n) * 1000.0 / 8000 AS end_ms,
  cast(n as bigint) AS n_samples,
  ms AS mean_square
FROM segs ORDER BY media_id, seg_ix
"""


def _media_router_cases():
    """The media_router fixture: one REAL payload per container family
    (repo encoders; stdlib gzip/bzip2/xz/zipfile) plus magic-prefix
    rows for the two formats the engine reads but never writes (7z,
    OLE) — honest for a PREFIX-sniffing operator. Deterministic: every
    builder is seedless and the compressors run with fixed inputs, so
    the oracle can be generated from this same list."""
    import bz2 as _bz2
    import gzip as _gzip
    import io as _io
    import lzma as _lzma
    import zipfile as _zipfile

    import numpy as np

    from ndr_import_spark.functions.audiotags import (
        build_m4a_tagged,
        build_ogg_vorbis_tagged,
    )
    from ndr_import_spark.functions.bmp import encode_bmp
    from ndr_import_spark.functions.flac import encode_flac
    from ndr_import_spark.functions.gif import encode_gif
    from ndr_import_spark.functions.jpeg import encode_jpeg
    from ndr_import_spark.functions.png import encode_png
    from ndr_import_spark.functions.tiff import encode_tiff
    from ndr_import_spark.functions.wav import encode_wav
    from ndr_import_spark.functions.webp import encode_webp
    from ndr_import_spark.sources import mediameta as MMeta

    rgb = bytes(range(48))
    sig = np.concatenate([np.full(32, 0.25), np.full(32, -0.25)])
    zbuf = _io.BytesIO()
    with _zipfile.ZipFile(zbuf, "w") as zf:
        zf.writestr("a.txt", "hello")
    return [
        ("image", "png", encode_png(4, 4, rgb)),
        ("image", "jpeg", encode_jpeg(4, 4, rgb)),
        ("image", "gif", encode_gif(4, 4, rgb)),
        ("image", "bmp", encode_bmp(4, 4, rgb)),
        ("image", "tiff", encode_tiff(4, 4, rgb)),
        ("image", "webp", encode_webp(4, 4, rgb)),
        ("audio", "wav", encode_wav(8000, sig, bits=16)),
        ("audio", "flac", encode_flac(8000, sig)),
        ("audio", "ogg", build_ogg_vorbis_tagged(44100, 2, {"TITLE": "t"})),
        ("audio", "mp3", MMeta.build_mp3(3, 3, 9, 0, 4)),
        ("audio", "aac-adts", MMeta.build_adts(4, 1, 2, 4)),
        ("audio", "m4a", build_m4a_tagged(
            MMeta.build_mp4(44100, 44100, codec="mp4a", channels=2,
                            sample_rate=44100, n_samples=4,
                            brand="M4A "), {"TITLE": "t"})),
        ("video", "mp4", MMeta.build_mp4(1000, 3000, "avc1", 640, 480)),
        ("video", "webm", MMeta.build_webm(
            "webm", 5000.0,
            [{"codec": "V_VP9", "type": "video",
              "width": 640, "height": 480}])),
        ("video", "avi", b"RIFF" + (4).to_bytes(4, "little") + b"AVI "),
        ("document", "pdf", b"%PDF-1.4\n1 0 obj<<>>endobj\n%%EOF\n"),
        ("document", "zip", zbuf.getvalue()),
        ("archive", "7z", b"7z\xbc\xaf\x27\x1c" + bytes(26)),
        ("document", "ole", b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
         + bytes(24)),
        ("archive", "gzip", _gzip.compress(b"payload", mtime=0)),
        ("archive", "bzip2", _bz2.compress(b"payload")),
        ("archive", "xz", _lzma.compress(b"payload")),
        ("text", "plain", b"plain ascii text\nwith lines\n"),
        ("unknown", "unknown", b"\x00\x01\x02\x03binary junk"),
    ]


def q_media_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Front-door corpus routing (r11): 24 payloads — one per container
    family the engine handles — through
    operators/multimodal.route_media_payloads (magic-byte sniff,
    sources/mediameta.sniff_media). family/container/n_bytes are
    construction-literal, and the oracle is GENERATED from the same
    case list the fixture uses (_media_router_cases), so the two
    cannot drift. Prefix-sized cost: the router never reads payload
    bodies — at 100 TB it is the cheap partition-by step that sends
    each payload to the right probe family (extract_image_*, audio_*,
    probe_media, archive expansion)."""
    from ndr_import_spark.operators import multimodal as MM

    rows = [(i, bytearray(p))
            for i, (_f, _c, p) in enumerate(_media_router_cases())]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary").repartition(8)
    return MM.route_media_payloads(df).orderBy("media_id")


def _oracle_media_router() -> str:
    values = ",\n  ".join(
        f"({i}, '{f}', '{c}', {len(p)})"
        for i, (f, c, p) in enumerate(_media_router_cases()))
    return (
        "SELECT media_id, family, container, cast(n_bytes as bigint) "
        "AS n_bytes FROM (VALUES\n  " + values + "\n) AS t(media_id, "
        "family, container, n_bytes) ORDER BY media_id"
    )


def q_heif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVIF/HEIC probe + GPS scrub + decode cross-check
    (functions/heif.py, r9): 20 real images — AV1 (AVIF) and HEVC
    (HEIC) alternating, encoded at fixture time by the system libheif,
    half carrying EXIF GPS items. Each task runs the CLEAN-ROOM
    ISO-BMFF probe (pitm/iinf/ipma item tables, ispe dims, av1C/hvcC
    codec, pixi depth, Exif item via iloc — no codec payload touched),
    zeroes the Exif extents in place (`scrub_heif_exif`), re-probes,
    and decodes pixels through the env-gated libheif binding:
    `decode_matches_probe` pins the clean-room ispe dims against the
    INDEPENDENT decoder's output, and `scrub_pixels_intact` pins that
    the in-place scrub never perturbs a pixel. Dims/brand/codec/GPS are
    md5-analytic for the oracle. Arrow mapInPandas, shuffle-free except
    output ordering."""
    import hashlib as _hl

    from ndr_import_spark.functions.exif import build_exif_app1
    from ndr_import_spark.functions.heif import libheif_encode_rgb

    rows = []
    for i in range(20):
        b = _hl.md5(f"heif{i}".encode()).digest()
        w = 32 + 16 * (b[0] % 3)
        h = 24 + 8 * (b[1] % 2)
        rgb = bytes(
            _hl.md5(f"heif{i}px{k // 16}".encode()).digest()[k % 16]
            for k in range(w * h * 3)
        )
        tiff = None
        if i % 2 == 0:
            e = _hl.md5(f"heifgps{i}".encode()).digest()
            gps = (
                "S" if e[1] % 2 else "N",
                [(e[0] % 90, 1), (e[1] % 60, 1), (e[2] % 6000, 100)],
                "W" if e[2] % 2 else "E",
                [(e[1] % 180, 1), (e[2] % 60, 1), (e[0] * 37 % 6000, 100)],
                e[0] * 53 % 900000,
                100,
            )
            app1 = build_exif_app1(make=f"Cam{e[0] % 4}", gps=gps)
            tiff = app1[10:]
        payload = libheif_encode_rgb(
            rgb, w, h, codec="av1" if i % 4 < 2 else "hevc",
            exif_tiff=tiff,
        )
        rows.append((i, bytearray(payload)))
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).repartition(4)

    def probe(batches):
        import pandas as pd

        from ndr_import_spark.functions.heif import (
            decode_heif,
            heif_metadata,
            scrub_heif_exif,
        )

        for pdf in batches:
            out = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(p)
                m = heif_metadata(raw)
                scrubbed = scrub_heif_exif(raw)
                post = heif_metadata(scrubbed)
                dw, dh, _ch, px = decode_heif(raw)
                _, _, _c2, px2 = decode_heif(scrubbed)
                out.append((
                    int(mid), m["brand"], m["codec"], m["width"],
                    m["height"], m["bit_depth"], m["has_exif"],
                    m["has_gps"], m["lat_micro"], m["lon_micro"],
                    post["has_gps"],
                    (dw, dh) == (m["width"], m["height"]),
                    px == px2,
                ))
            yield pd.DataFrame(out, columns=[
                "media_id", "brand", "codec", "width", "height",
                "bit_depth", "has_exif", "has_gps", "lat_micro",
                "lon_micro", "post_has_gps", "decode_matches_probe",
                "scrub_pixels_intact",
            ])

    return media.mapInPandas(
        probe,
        "media_id long, brand string, codec string, width int, "
        "height int, bit_depth int, has_exif boolean, has_gps boolean, "
        "lat_micro long, lon_micro long, post_has_gps boolean, "
        "decode_matches_probe boolean, scrub_pixels_intact boolean",
    ).orderBy("media_id")


_ORACLE_HEIF_METADATA = """
WITH m AS (SELECT unnest(range(20)) AS i),
d AS (SELECT i, md5('heif' || i) AS hx, md5('heifgps' || i) AS ex FROM m),
b AS (
  SELECT i,
    cast(('0x' || substring(hx, 1, 2)) as int) AS b0,
    cast(('0x' || substring(hx, 3, 2)) as int) AS b1,
    cast(('0x' || substring(ex, 1, 2)) as int) AS e0,
    cast(('0x' || substring(ex, 3, 2)) as int) AS e1,
    cast(('0x' || substring(ex, 5, 2)) as int) AS e2
  FROM d
)
SELECT i AS media_id,
  CASE WHEN i % 4 < 2 THEN 'avif' ELSE 'heic' END AS brand,
  CASE WHEN i % 4 < 2 THEN 'av1' ELSE 'hevc' END AS codec,
  32 + 16 * (b0 % 3) AS width,
  24 + 8 * (b1 % 2) AS height,
  8 AS bit_depth,
  (i % 2 = 0) AS has_exif,
  (i % 2 = 0) AS has_gps,
  CASE WHEN i % 2 = 0 THEN
    (CASE WHEN e1 % 2 = 1 THEN -1 ELSE 1 END) * (
      CAST(e0 % 90 AS BIGINT) * 1000000
      + (CAST(e1 % 60 AS BIGINT) * 1000000) // 60
      + (CAST(e2 % 6000 AS BIGINT) * 1000000) // 360000)
  ELSE NULL END AS lat_micro,
  CASE WHEN i % 2 = 0 THEN
    (CASE WHEN e2 % 2 = 1 THEN -1 ELSE 1 END) * (
      CAST(e1 % 180 AS BIGINT) * 1000000
      + (CAST(e2 % 60 AS BIGINT) * 1000000) // 60
      + (CAST((e0 * 37) % 6000 AS BIGINT) * 1000000) // 360000)
  ELSE NULL END AS lon_micro,
  FALSE AS post_has_gps,
  TRUE AS decode_matches_probe,
  TRUE AS scrub_pixels_intact
FROM b ORDER BY media_id
"""


_ORACLE_EXIF_METADATA = """
WITH m AS (SELECT unnest(range(120)) AS i),
d AS (SELECT i, md5('exif' || i) AS hx FROM m),
b AS (
  SELECT i,
    cast(('0x' || substring(hx, 1, 2)) as int) AS b0,
    cast(('0x' || substring(hx, 3, 2)) as int) AS b1,
    cast(('0x' || substring(hx, 5, 2)) as int) AS b2
  FROM d
)
SELECT
  i AS media_id,
  'jpeg' AS fmt,
  320 + 16 * (b0 % 16) AS width,
  240 + 16 * (b1 % 8) AS height,
  1 + (b2 % 8) AS orientation,
  'Cam' || (b0 % 4) AS make,
  'M' || (b1 % 10) AS model,
  '2021:06:' || (10 + b2 % 20) || ' ' || (10 + b0 % 14) || ':00:00'
    AS datetime_original,
  72 + b0 % 4 AS jfif_xdensity,
  CASE WHEN i % 4 = 0 THEN 'RGB' ELSE NULL END AS icc_colorspace,
  (i % 3 = 0) AS has_gps,
  CASE WHEN i % 3 = 0 THEN
    (CASE WHEN b1 % 2 = 1 THEN -1 ELSE 1 END) * (
      CAST(b0 % 90 AS BIGINT) * 1000000
      + (CAST(b1 % 60 AS BIGINT) * 1000000) // 60
      + (CAST(b2 % 6000 AS BIGINT) * 1000000) // 360000)
  ELSE NULL END AS lat_micro,
  CASE WHEN i % 3 = 0 THEN
    (CASE WHEN b2 % 2 = 1 THEN -1 ELSE 1 END) * (
      CAST(b1 % 180 AS BIGINT) * 1000000
      + (CAST(b2 % 60 AS BIGINT) * 1000000) // 60
      + (CAST((b0 * 37) % 6000 AS BIGINT) * 1000000) // 360000)
  ELSE NULL END AS lon_micro,
  CASE WHEN i % 3 = 0
    THEN CAST((b0 * 53) % 900000 AS BIGINT) * 100 // 100
  ELSE NULL END AS alt_cm,
  320 + 16 * (b0 % 16) AS post_width,
  FALSE AS post_has_gps,
  CAST(NULL AS VARCHAR) AS post_make,
  CAST(NULL AS BIGINT) AS post_icc_size
FROM b ORDER BY media_id
"""


_ORACLE_MEDIA_METADATA = """
WITH m AS (SELECT unnest(range(150)) AS i),
d AS (SELECT i, md5('media' || i) AS hx FROM m),
b AS (
  SELECT i,
    cast(('0x' || substring(hx, 1, 2)) as int) AS b0,
    cast(('0x' || substring(hx, 3, 2)) as int) AS b1,
    cast(('0x' || substring(hx, 5, 2)) as int) AS b2
  FROM d
)
SELECT
  i AS media_id,
  CASE cast(i % 3 as int) WHEN 0 THEN 'mp3' WHEN 1 THEN 'ogg'
    ELSE 'mp4' END AS container,
  CASE cast(i % 3 as int)
    WHEN 0 THEN 'mpeg1-layer3'
    WHEN 1 THEN CASE WHEN b0 % 2 = 0 THEN 'vorbis' ELSE 'opus' END
    ELSE CASE WHEN b0 % 2 = 0 THEN 'avc1' ELSE 'mp4a' END
  END AS codec,
  CASE cast(i % 3 as int)
    WHEN 0 THEN CASE cast(b1 % 3 as int) WHEN 0 THEN 44100
                  WHEN 1 THEN 48000 ELSE 32000 END
    WHEN 1 THEN CASE WHEN b0 % 2 = 0 THEN 32000 + (b1 % 4) * 4000
                  ELSE 16000 END
    ELSE CASE WHEN b0 % 2 = 0 THEN NULL ELSE 44100 END
  END AS sample_rate,
  CASE cast(i % 3 as int)
    WHEN 0 THEN CASE WHEN b0 % 2 = 0 THEN 1 ELSE 2 END
    WHEN 1 THEN CASE WHEN b0 % 2 = 0 THEN 1 + (b2 % 2) ELSE 1 END
    ELSE CASE WHEN b0 % 2 = 0 THEN NULL ELSE 1 + (b2 % 2) END
  END AS channels,
  CASE cast(i % 3 as int)
    WHEN 0 THEN ((7 + b2 % 8) * 1152 * 1000.0)
                / (CASE cast(b1 % 3 as int) WHEN 0 THEN 44100
                     WHEN 1 THEN 48000 ELSE 32000 END)
    WHEN 1 THEN CASE WHEN b0 % 2 = 0 THEN (b0 % 6) * 1000.0
                  ELSE (b1 % 4) * 1000.0 END
    ELSE CASE WHEN b0 % 2 = 0 THEN (b1 % 8) * 500.0
           ELSE (b1 % 8) * 250.0 END
  END AS duration_ms,
  CASE cast(i % 3 as int)
    WHEN 0 THEN 8 + b2 % 8
    WHEN 1 THEN 2
    ELSE CASE WHEN b0 % 2 = 0 THEN 24 * (b2 % 4) ELSE 50 + b2 % 50 END
  END AS n_frames,
  CASE WHEN cast(i % 3 as int) = 0 THEN cast(7 + b2 % 8 as bigint)
    ELSE NULL END AS declared_frames,
  CASE WHEN cast(i % 3 as int) = 2 AND b0 % 2 = 0
    THEN 320 + 16 * (b2 % 8) ELSE NULL END AS width,
  CASE WHEN cast(i % 3 as int) = 2 AND b0 % 2 = 0
    THEN 240 + 16 * (b1 % 4) ELSE NULL END AS height,
  CASE cast(i % 3 as int) WHEN 0 THEN 'LAME3.100'
    WHEN 2 THEN 'isom' ELSE NULL END AS encoder
FROM b WHERE i < 90
UNION ALL
SELECT
  i AS media_id,
  CASE WHEN i % 2 = 0 THEN 'adts' ELSE 'webm' END AS container,
  CASE WHEN i % 2 = 0 THEN
    CASE cast(b0 % 4 as int) WHEN 0 THEN 'aac-main' WHEN 1 THEN 'aac-lc'
      WHEN 2 THEN 'aac-ssr' ELSE 'aac-ltp' END
  WHEN b1 % 2 = 0 THEN
    (CASE WHEN b2 % 2 = 1 THEN 'V_VP9' ELSE 'V_VP8' END) || '+A_OPUS'
  ELSE 'A_VORBIS' END AS codec,
  CASE WHEN i % 2 = 0 THEN
    CASE cast(3 + b1 % 5 as int) WHEN 3 THEN 48000 WHEN 4 THEN 44100
      WHEN 5 THEN 32000 WHEN 6 THEN 24000 ELSE 22050 END
  WHEN b1 % 2 = 0 THEN 48000 ELSE 44100 END AS sample_rate,
  CASE WHEN i % 2 = 0 THEN 1 + (b2 % 3)
    WHEN b1 % 2 = 0 THEN 1 + (b0 % 2) ELSE 2 END AS channels,
  CASE WHEN i % 2 = 0 THEN
    ((5 + b0 % 9) * 1024 * 1000.0)
    / (CASE cast(3 + b1 % 5 as int) WHEN 3 THEN 48000 WHEN 4 THEN 44100
         WHEN 5 THEN 32000 WHEN 6 THEN 24000 ELSE 22050 END)
  WHEN b1 % 2 = 0 THEN 1000.0 * (1 + b0 % 10)
  ELSE 500.0 * (b2 % 12) END AS duration_ms,
  CASE WHEN i % 2 = 0 THEN 5 + b0 % 9 ELSE NULL END AS n_frames,
  NULL AS declared_frames,
  CASE WHEN i % 2 = 1 AND b1 % 2 = 0 THEN 320 + 16 * (b2 % 8)
    ELSE NULL END AS width,
  CASE WHEN i % 2 = 1 AND b1 % 2 = 0 THEN 240 + 16 * (b1 % 4)
    ELSE NULL END AS height,
  CASE WHEN i % 2 = 1 THEN 'ndr-fixture' ELSE NULL END AS encoder
FROM b WHERE i >= 90
ORDER BY media_id
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication report (Lee et al. 2022 style): every
    8-word window occurring verbatim elsewhere in the corpus, keep-first,
    merged into maximal per-doc spans with union word coverage. The
    codegen window pipeline + one keyed aggregate + one per-doc interval
    merge; window text never shuffles (60-bit hashes only)."""
    from ndr_import_spark.operators.corpus import duplicated_span_report
    from ndr_import_spark.operators.textstats import spread_rows

    # spread the one-row-group scan: the window-hash pipeline otherwise
    # tokenises the whole corpus in a single task (measured 1.7 s of the
    # 3.5 s steady); no-op once the source has real splits
    docs = spread_rows(_t(spark, sf_dir, "documents"))
    return duplicated_span_report(docs, window_words=8).orderBy("doc_id")


_ORACLE_SUBSTRING_DEDUP = """
WITH t AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), tw AS (
  SELECT doc_id, CAST(len(toks) AS INT) AS n_words, toks FROM t
), wins AS (
  SELECT doc_id, n_words, CAST(u.i AS BIGINT) AS i,
    CAST(('0x' || substring(md5(array_to_string(list_slice(toks, u.i, u.i + 7), ' ')), 1, 15)) AS BIGINT) AS h
  FROM tw, unnest(range(1, n_words - 8 + 2)) AS u(i)
  WHERE n_words >= 8
), ranked AS (
  SELECT doc_id, n_words, i, h,
    row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn,
    count(*) OVER (PARTITION BY h) AS c
  FROM wins
), flagged AS (
  SELECT doc_id, n_words, i FROM ranked WHERE c > 1 AND rn > 1
), sp AS (
  SELECT doc_id, n_words, i,
    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
           OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 8
         THEN 1 ELSE 0 END AS newspan
  FROM flagged
), grp AS (
  SELECT doc_id, n_words, i,
    sum(newspan) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS g
  FROM sp
), spans AS (
  SELECT doc_id, any_value(n_words) AS n_words, g,
    min(i) AS s, max(i) + 7 AS e, count(*) AS nwin
  FROM grp GROUP BY doc_id, g
)
SELECT doc_id,
  any_value(n_words) AS n_words,
  CAST(greatest(any_value(n_words) - 8 + 1, 0) AS INT) AS n_windows,
  CAST(sum(nwin) AS BIGINT) AS n_dup_windows,
  count(*) AS n_spans,
  CAST(sum(e - s + 1) AS BIGINT) AS dup_words,
  CAST(max(e - s + 1) AS INT) AS longest_span,
  round(CAST(sum(e - s + 1) AS DOUBLE) / any_value(n_words), 5) AS dup_frac
FROM spans GROUP BY doc_id ORDER BY doc_id
"""


def q_bpe_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training end-to-end (Sennrich et al. 2016): learn
    12 merges over the top-500-word vocabulary of the documents corpus
    (one corpus scan; every iterative step runs on the vocab-sized frame)
    then price the corpus with the learned tokenizer per language —
    pieces-per-word fertility via a vocab-side apply + broadcast-friendly
    keyed join (the corpus never meets Python).

    Fully hash-gated (r6): the oracle (bpe_fertility_oracle_sql) unrolls
    the trainer into run-parity merge CTEs, applies the learned merges to
    the full distinct vocabulary the same way, and reproduces the per-lang
    fertility aggregate; the pure-Python reference BPE in tests/test_bpe.py
    independently pins the merge table on this same corpus."""
    from ndr_import_spark.operators.bpe import bpe_fertility, learn_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = learn_bpe(docs, n_merges=12, max_vocab=500)
    return bpe_fertility(docs, merges).orderBy("lang")


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE merge table itself, hash-gated: 12 greedy merges over the
    top-500-word vocabulary (operators/bpe.py learn_bpe — one corpus scan,
    then vocab-sized rounds). Oracle: the full trainer unrolled into
    DuckDB CTEs via the run-parity form of greedy pair merging
    (bpe_merges_oracle_sql) — the same executable-spec pattern as
    kmeans/pagerank, closing the one rows-only gap bpe_tokenizer had."""
    from ndr_import_spark.operators.bpe import learn_bpe, merges_df

    docs = _t(spark, sf_dir, "documents")
    merges = learn_bpe(docs, n_merges=12, max_vocab=500)
    return merges_df(spark, merges).orderBy("rank")


def q_sitemap_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap frontier seeding (operators/crawl.parse_sitemaps, r8):
    eight hosts publish namespaced <urlset> sitemaps with md5-derived
    url counts/lastmods/priorities (host k=7 omits per-url lastmod and
    priority — the partial-annotation case must yield NULLs, never
    misaligned metadata), two more publish <sitemapindex> files with
    child sitemap locs. Parsing is Spark's JVM-side xpath with
    local-name() predicates — the XML never reaches Python — and the
    oracle rebuilds every row from the md5 arithmetic that built the
    fixtures."""
    import hashlib as _hl

    from ndr_import_spark.operators.crawl import parse_sitemaps

    rows = []
    for k in range(8):
        b = _hl.md5(f"sitemap{k}".encode()).digest()
        n = 3 + b[0] % 5
        entries = []
        for j in range(n):
            loc = f"https://site{k}.test/p{j}"
            if k == 7:
                entries.append(f"<url><loc>{loc}</loc></url>")
            else:
                lastmod = f"2021-06-{10 + (b[1] + j) % 18:02d}"
                prio = ((b[2] + j) % 10) / 10.0
                entries.append(
                    f"<url><loc>{loc}</loc><lastmod>{lastmod}</lastmod>"
                    f"<priority>{prio:.1f}</priority></url>"
                )
        xml = (
            '<?xml version="1.0"?><urlset '
            'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            + "".join(entries) + "</urlset>"
        )
        rows.append((f"site{k}.test", xml))
    for k in range(2):
        b = _hl.md5(f"sitemapindex{k}".encode()).digest()
        n = 2 + b[0] % 3
        xml = (
            '<sitemapindex xmlns="http://www.sitemaps.org/schemas/'
            'sitemap/0.9">'
            + "".join(
                f"<sitemap><loc>https://idx{k}.test/s{j}.xml</loc>"
                "</sitemap>" for j in range(n)
            )
            + "</sitemapindex>"
        )
        rows.append((f"idx{k}.test", xml))
    df = spark.createDataFrame(rows, "host string, sitemap_xml string")
    return parse_sitemaps(df).orderBy("host", "kind", "loc")


_ORACLE_SITEMAP = """
WITH h AS (SELECT unnest(range(8)) AS k),
d AS (
  SELECT k,
    cast(('0x' || substring(md5('sitemap' || k), 1, 2)) as int) AS b0,
    cast(('0x' || substring(md5('sitemap' || k), 3, 2)) as int) AS b1,
    cast(('0x' || substring(md5('sitemap' || k), 5, 2)) as int) AS b2
  FROM h
), urls AS (
  SELECT 'site' || k || '.test' AS host, 'url' AS kind,
    'https://site' || k || '.test/p' || j AS loc,
    CASE WHEN k = 7 THEN NULL
      ELSE '2021-06-' || lpad(cast(10 + (b1 + j) % 18 as varchar), 2, '0')
    END AS lastmod,
    CASE WHEN k = 7 THEN NULL
      ELSE ((b2 + j) % 10) / 10.0 END AS priority
  FROM d, unnest(range(0, 8)) AS t(j)
  WHERE j < 3 + b0 % 5
), ih AS (SELECT unnest(range(2)) AS k),
idx AS (
  SELECT 'idx' || k || '.test' AS host, 'index' AS kind,
    'https://idx' || k || '.test/s' || j || '.xml' AS loc,
    CAST(NULL AS VARCHAR) AS lastmod, CAST(NULL AS DOUBLE) AS priority
  FROM (
    SELECT k,
      cast(('0x' || substring(md5('sitemapindex' || k), 1, 2)) as int) AS b0
    FROM ih
  ), unnest(range(0, 5)) AS t(j)
  WHERE j < 2 + b0 % 3
)
SELECT * FROM (SELECT * FROM urls UNION ALL SELECT * FROM idx)
ORDER BY host, kind, loc
"""


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots.txt compliance filtering end-to-end (operators/crawl.py):
    six hosts publish a real robots.txt (Disallow + longest-match Allow
    override + a prefix rule), two publish none; 120 md5-derived URLs
    spread over four path classes. The Spark side PARSES the robots
    bodies (group selection, rule extraction) and decides per URL by RFC
    9309 longest-match; the oracle computes the ground-truth decision
    from the (host, path-class) arithmetic alone — parser and decision
    logic are therefore checked against an independent derivation."""
    import hashlib as _hl

    from ndr_import_spark.operators.crawl import robots_filter

    robots_rows = [
        (
            f"site{k}.test",
            f"User-agent: *\nDisallow: /d{k}/\nAllow: /d{k}/keep/\nDisallow: /x\n",
        )
        for k in range(6)
    ]
    robots = spark.createDataFrame(robots_rows, "host string, robots_txt string")
    docs_rows = []
    for g in range(120):
        b = _hl.md5(f"robot{g}".encode()).digest()
        k = b[0] % 8
        c = b[1] % 4
        if c == 0:
            path = f"/page/{g}"
        elif c == 1:
            path = f"/d{k}/sec/{g}"
        elif c == 2:
            path = f"/d{k}/keep/{g}"
        else:
            path = f"/xfile{g}"
        docs_rows.append((g, f"https://site{k}.test{path}", f"text {g}"))
    docs = spark.createDataFrame(
        docs_rows, "doc_id long, target_uri string, text string"
    ).repartition(8)
    kept = robots_filter(docs, robots)
    return (
        kept.withColumn(
            "host", F.regexp_extract("target_uri", r"https://([^/]*)", 1)
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("min_id"))
        .orderBy("host")
    )


_ORACLE_ROBOTS_FILTER = """
WITH m AS (SELECT unnest(range(120)) AS g),
d AS (
  SELECT g,
    cast(('0x' || substring(md5('robot' || g), 1, 2)) as int) % 8 AS k,
    cast(('0x' || substring(md5('robot' || g), 3, 2)) as int) % 4 AS c
  FROM m
),
f AS (
  SELECT g, 'site' || k || '.test' AS host,
    -- ground truth: hosts 6/7 have no robots (all allowed); for hosts
    -- 0-5: class 0 (/page/) allowed, class 1 (/d{k}/sec/) disallowed,
    -- class 2 (/d{k}/keep/) allowed by the LONGEST-match Allow override,
    -- class 3 (/xfile...) disallowed by the /x prefix
    (k >= 6 OR c = 0 OR c = 2) AS kept
  FROM d
)
SELECT host, count(*) AS n_kept, min(g) AS min_id
FROM f WHERE kept GROUP BY host ORDER BY host
"""


def q_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-crawl revisit/mirror detection by payload digest (r8) —
    the Common Crawl dedup pattern: two crawl snapshots of the same
    site,every record sha256-fingerprinted, grouped by digest. A digest
    seen at the SAME URI in both crawls is a `revisit` (store one copy
    + a revisit record, the WARC-Type: revisit convention); the same
    digest at DIFFERENT URIs is a `mirror`; everything else is
    `unique`. The fixture plants both: every third page is unchanged
    between crawls, and four mirror URLs republish earlier pages'
    bodies. Spark side digests the EXTRACTED text through the real WARC
    reader (container parse -> HTTP split); the oracle rebuilds the
    same sha256 from the md5-derived body strings — a digest mismatch
    anywhere in the container/HTTP chain breaks the hash."""
    import hashlib as _hl
    import os as _os
    import tempfile as _tf

    from ndr_import_spark.sources.warc import (
        http_response_bytes,
        read_warc,
        write_warc,
    )

    # r8 advice: a fixed shared dir + glob-delete lets two concurrent
    # sessions clobber or cross-read each other's fixtures. Qualify the
    # dir with a digest of (repo, sf_dir, fixture version) — the
    # _expand_compressed full-md5 pattern — and write atomically via
    # os.replace; the fixture bytes are deterministic, so concurrent
    # same-digest sessions converge instead of racing.
    _fixture_key = "\x00".join(
        (_os.path.dirname(_os.path.abspath(__file__)),
         _os.path.abspath(sf_dir), "warc_revisit_v1")
    )
    out_dir = _os.path.join(
        _tf.gettempdir(),
        "ndr_warc_revisit_" + _hl.md5(_fixture_key.encode()).hexdigest()[:16],
    )
    _os.makedirs(out_dir, exist_ok=True)

    def body(u: int, rev: int) -> bytes:
        return f"content {u} rev{rev}".encode()

    for crawl in range(2):
        recs = []
        for u in range(24):
            b = _hl.md5(f"revisit{u}".encode()).digest()
            rev = b[0] % 3 + (0 if (crawl == 0 or u % 3 == 0) else 1)
            recs.append((
                {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"https://site.test/p/{u:03d}",
                    "WARC-Date": f"2024-0{crawl + 1}-01T00:00:00Z",
                },
                http_response_bytes(
                    body(u, rev), status=200, content_type="text/plain"
                ),
            ))
        if crawl == 1:
            for m in range(4):
                src_u = m * 3
                b = _hl.md5(f"revisit{src_u}".encode()).digest()
                recs.append((
                    {
                        "WARC-Type": "response",
                        "WARC-Target-URI": f"https://mirror.test/m/{m}",
                        "WARC-Date": "2024-02-01T00:00:00Z",
                    },
                    http_response_bytes(
                        body(src_u, b[0] % 3), status=200,
                        content_type="text/plain",
                    ),
                ))
        final = f"{out_dir}/crawl{crawl}.warc.gz"
        tmp = f"{final}.{_os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            f.write(write_warc(recs))
        _os.replace(tmp, final)  # atomic: readers never see a partial file

    docs = read_warc(spark, f"{out_dir}/*.warc.gz")
    digests = docs.select(
        "target_uri",
        F.substring(F.col("source_file"), -14, 6).alias("crawl"),
        F.sha2(F.col("text"), 256).alias("digest"),
    )
    return (
        digests.groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("target_uri").alias("n_uris"),
            F.min("target_uri").alias("first_uri"),
            F.countDistinct("crawl").alias("n_crawls"),
        )
        .select(
            "digest", "n_records", "n_uris", "first_uri",
            F.when(F.col("n_uris") > 1, "mirror")
            .when(
                (F.col("n_records") > 1) & (F.col("n_crawls") > 1),
                "revisit",
            )
            .otherwise("unique")
            .alias("kind"),
        )
        .orderBy("digest")
    )


_ORACLE_WARC_REVISIT = """
WITH u AS (SELECT unnest(range(24)) AS u),
d AS (
  SELECT u, cast(('0x' || substring(md5('revisit' || u), 1, 2)) as int) % 3
    AS rev0
  FROM u
), recs AS (
  SELECT 'https://site.test/p/' || lpad(cast(u as varchar), 3, '0') AS uri,
         'crawl0' AS crawl, 'content ' || u || ' rev' || rev0 AS body
  FROM d
  UNION ALL
  SELECT 'https://site.test/p/' || lpad(cast(u as varchar), 3, '0'),
         'crawl1',
         'content ' || u || ' rev' ||
           (rev0 + CASE WHEN u % 3 = 0 THEN 0 ELSE 1 END)
  FROM d
  UNION ALL
  SELECT 'https://mirror.test/m/' || m, 'crawl1',
         'content ' || (m * 3) || ' rev' ||
           (SELECT rev0 FROM d WHERE u = m * 3)
  FROM unnest(range(4)) AS t(m)
), dig AS (
  SELECT uri, crawl, sha256(body) AS digest FROM recs
)
SELECT digest, count(*) AS n_records,
  count(DISTINCT uri) AS n_uris,
  min(uri) AS first_uri,
  CASE WHEN count(DISTINCT uri) > 1 THEN 'mirror'
       WHEN count(*) > 1 AND count(DISTINCT crawl) > 1 THEN 'revisit'
       ELSE 'unique' END AS kind
FROM dig GROUP BY digest ORDER BY digest
"""


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL distributed WARC extraction end-to-end (sources/warc.py): two
    genuine .warc.gz files (one gzip member per record, the Common Crawl
    layout) of deterministic HTTP responses — HTML pages whose title and
    fixed-width words derive from md5 bytes, plus plain-text records —
    are read through `read_warc` (binaryFile → one task per archive →
    Arrow-batched parse + HTTP split + stdlib HTML strip). The extracted
    text is reproducible CHARACTER-FOR-CHARACTER by the oracle (script
    tags dropped, single-space joins), so per-record token counts and the
    md5 of the extracted text pin the whole chain from container bytes to
    clean text."""
    import glob as _glob
    import os as _os
    import tempfile as _tf

    from ndr_import_spark.operators.textstats import token_count
    from ndr_import_spark.sources.warc import (
        http_response_bytes,
        read_warc,
        write_warc,
    )

    # portable fixture dir (works from any checkout / read-only repo);
    # stale archives from older fixture layouts are cleared so the glob
    # below reads EXACTLY this run's two files
    out_dir = _os.path.join(_tf.gettempdir(), "ndr_warc_query")
    _os.makedirs(out_dir, exist_ok=True)
    for stale in _glob.glob(f"{out_dir}/*.warc.gz"):
        _os.remove(stale)
    import hashlib as _hl

    for fno in range(2):
        recs = []
        for i in range(20):
            g = fno * 20 + i
            b = _hl.md5(f"warc{g}".encode()).digest()
            uri = f"https://crawl.test/page/{g:03d}"
            status = 404 if g % 7 == 0 else 200
            if g % 5 == 0:
                body = f"plain {g} payload".encode()
                payload = http_response_bytes(
                    body, status=status, content_type="text/plain"
                )
            else:
                k = 3 + (b[1] % 5)
                words = " ".join(f"w{b[2 + j]:03d}" for j in range(k))
                html = (
                    f"<html><head><style>p{{x}}</style></head><body>"
                    f"<h1>T{g}</h1><p>{words}</p>"
                    f"<script>var x = 1;</script></body></html>"
                )
                payload = http_response_bytes(
                    html.encode(), status=status, content_type="text/html"
                )
            recs.append(
                (
                    {
                        "WARC-Type": "response",
                        "WARC-Target-URI": uri,
                        "WARC-Date": "2024-01-01T00:00:00Z",
                    },
                    payload,
                )
            )
        with open(f"{out_dir}/part{fno}.warc.gz", "wb") as f:
            f.write(write_warc(recs))
    docs = read_warc(spark, f"{out_dir}/*.warc.gz")
    return (
        docs.select(
            "target_uri",
            "http_status",
            "content_type",
            token_count(F.col("text")).alias("n_tokens"),
            F.md5(F.col("text")).alias("text_md5"),
            "payload_bytes",
        )
        .orderBy("target_uri")
    )


_ORACLE_WARC_EXTRACT = """
WITH m AS (SELECT unnest(range(40)) AS g),
d AS (SELECT g, md5('warc' || g) AS hx FROM m),
b AS (
  SELECT g, hx,
    cast(('0x' || substring(hx, 3, 2)) as int) AS b1
  FROM d
),
f AS (
  SELECT g,
    'https://crawl.test/page/' || lpad(cast(g as varchar), 3, '0') AS target_uri,
    CAST(CASE WHEN g % 7 = 0 THEN 404 ELSE 200 END AS INT) AS http_status,
    CASE WHEN g % 5 = 0 THEN 'text/plain' ELSE 'text/html' END AS content_type,
    CASE WHEN g % 5 = 0
      THEN 'plain ' || g || ' payload'
      ELSE 'T' || g || ' ' || array_to_string(list_transform(
        range(3 + (b1 % 5)),
        j -> 'w' || lpad(cast(cast(('0x' || substring(hx, (2 + j) * 2 + 1, 2)) as int) as varchar), 3, '0')
      ), ' ') END AS text,
    CASE WHEN g % 5 = 0
      THEN length('plain ' || g || ' payload')
      ELSE length('<html><head><style>p{x}</style></head><body><h1>T' || g
        || '</h1><p>' || array_to_string(list_transform(
          range(3 + (b1 % 5)),
          j -> 'w' || lpad(cast(cast(('0x' || substring(hx, (2 + j) * 2 + 1, 2)) as int) as varchar), 3, '0')
        ), ' ') || '</p><script>var x = 1;</script></body></html>')
      END AS body_len
  FROM b
)
SELECT target_uri, http_status, content_type,
  CAST(CASE WHEN g % 5 = 0 THEN 3 ELSE 1 + 3 + (
    cast(('0x' || substring(md5('warc' || g), 3, 2)) as int) % 5
  ) END AS INT) AS n_tokens,
  md5(text) AS text_md5,
  -- payload = 'HTTP/1.1 NNN OK\\r\\nContent-Type: CT\\r\\nContent-Length: L\\r\\n\\r\\n' + body
  CAST(length('HTTP/1.1 ') + 3 + length(' OK') + 2
    + length('Content-Type: ') + length(content_type) + 2
    + length('Content-Length: ') + length(cast(body_len as varchar)) + 2
    + 2 + body_len AS INT) AS payload_bytes
FROM f ORDER BY target_uri
"""


def q_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stdlib MJPEG-AVI video decode end-to-end (functions/avi.py +
    functions/jpeg.py, no injected decoder): a deterministic video table
    of genuine RIFF/AVI containers holding 2-4 solid-gray quality-100
    MJPEG frames whose gray levels come from md5 bytes — solid q100
    frames decode EXACTLY, so every per-frame mean feature is v/255 and
    the DuckDB oracle reproduces the whole aggregate from md5 arithmetic
    alone, proving the RIFF chunk walk, frame chunk extraction, JPEG
    decode and the Arrow batch plumbing."""
    import hashlib as _hl

    from ndr_import_spark.functions.avi import encode_avi_mjpeg
    from ndr_import_spark.functions.jpeg import encode_jpeg
    from ndr_import_spark.operators import multimodal as MM

    rows = []
    for i in range(60):
        b = _hl.md5(f"video{i}".encode()).digest()
        n_frames = 2 + b[3] % 3
        w = 8 * (1 + b[4] % 3)
        uspf = 30000 + (b[5] % 10) * 1000
        frames = [
            encode_jpeg(w, 8, bytes([b[j]]) * (w * 8), channels=1, quality=100)
            for j in range(n_frames)
        ]
        payload = encode_avi_mjpeg(w, 8, frames, us_per_frame=uspf)
        rows.append(
            (i, "video", "video/avi", w, 8, None, bytearray(payload))
        )
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA).repartition(8)
    # decoder=None forces the stdlib container dispatch for this plan
    # only, without clobbering any session-registered decoder
    feats = MM.extract_video_features(media, decoder=None)
    mean_feat = F.aggregate(
        F.col("feature"), F.lit(0.0), lambda a, x: a + x
    ) / F.size(F.col("feature"))
    return (
        feats.select(
            "n_frames",
            F.col("width").cast("double").alias("w"),
            (F.col("duration_ms").cast("double")).alias("dur"),
            mean_feat.alias("mf"),
        )
        .groupBy("n_frames")
        .agg(
            F.count(F.lit(1)).alias("n_videos"),
            F.avg("w").alias("avg_w"),
            F.avg("dur").alias("avg_duration_ms"),
            (F.sum(F.col("mf").cast("decimal(18,6)")).cast("double")
             / F.count(F.lit(1))).alias("avg_feat"),
        )
        .orderBy("n_frames")
    )


_ORACLE_VIDEO_FEATURES = """
WITH m AS (SELECT unnest(range(60)) AS i),
d AS (SELECT i, md5('video' || i) AS hx FROM m),
b AS (
  SELECT i,
    cast(('0x' || substring(hx, 7, 2)) as int) AS b3,
    cast(('0x' || substring(hx, 9, 2)) as int) AS b4,
    cast(('0x' || substring(hx, 11, 2)) as int) AS b5
  FROM d
),
f AS (
  SELECT i,
    2 + (b3 % 3) AS n_frames,
    cast(8 * (1 + (b4 % 3)) as double) AS w,
    -- duration_ms = uspf*n // 1000 with uspf a multiple of 1000
    cast((30 + (b5 % 10)) * (2 + (b3 % 3)) as double) AS dur,
    -- per-frame mean of a solid q100 frame is exactly v/255; the
    -- per-video mean folds those left-to-right like the Spark aggregate
    list_sum(list_transform(range(2 + (b3 % 3)),
      j -> cast(('0x' || substring(md5('video' || i), j * 2 + 1, 2)) as int) / 255.0
    )) / (2 + (b3 % 3)) AS mf
  FROM b
)
SELECT n_frames, count(*) AS n_videos, avg(w) AS avg_w,
       avg(dur) AS avg_duration_ms,
       cast(sum(cast(mf as decimal(18,6))) as double) / count(*) AS avg_feat
FROM f GROUP BY n_frames ORDER BY n_frames
"""


def q_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantisation: nearest deterministic pseudo-centroid per
    vector (argmax of 16 dot products), per-cell occupancy stats — the
    probe-only-matching-cells ANN scale path's build side."""
    from ndr_import_spark.operators.similarity import ivf_assign

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assigned = ivf_assign(emb, n_cells=16, dim=64)
    return (
        assigned.groupBy("ivf_cell")
        .agg(F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("ivf_cell")
    )


def _oracle_ivf(n_cells: int = 16, dim: int = 64) -> str:
    from ndr_import_spark.operators.similarity import _md5_unit

    dots = ", ".join(
        "list_dot_product(v, ["
        + ",".join(repr(_md5_unit(f"ivf{c}:{i}")) for i in range(dim))
        + f"]) AS s{c}"
        for c in range(n_cells)
    )
    arr = "[" + ", ".join(f"s{c}" for c in range(n_cells)) + "]"
    return f"""
WITH e AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings),
scored AS (SELECT vec_id, {dots} FROM e),
assigned AS (
  SELECT vec_id, list_position({arr}, list_max({arr})) - 1 AS ivf_cell FROM scored
)
SELECT ivf_cell, count(*) AS n, min(vec_id) AS min_vec_id
FROM assigned GROUP BY ivf_cell ORDER BY ivf_cell
"""


def q_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF probe path: one deterministic Lloyd round (argmax-dot
    assignment → per-dimension means rounded to 6dp) refines the md5
    pseudo-seeds, then top-5 cosine neighbours are searched ONLY within
    each query's cell (nprobe=1) — the cell equi-join that replaces the
    corpus cross-join at 100 TB. Training runs as a Spark job during plan
    construction (one narrow posexplode + map-side-combined mean;
    n_cells×dim rows reach the driver)."""
    from ndr_import_spark.operators.similarity import (
        ivf_probe_topk,
        ivf_train_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    centroids = ivf_train_centroids(emb, n_cells=16, dim=64, iters=1)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_probe_topk(emb, queries, centroids, k=5).orderBy("query_id", "rank")


def _oracle_ivf_probe(n_cells: int = 16, dim: int = 64, k: int = 5) -> str:
    """DuckDB replica incl. the training round: seed assignment (literal
    seed lists), per-(cell,dim) rounded means with empty cells keeping
    their seed, relational re-assignment, cell-local cosine top-k. Means
    round to 6dp on both engines, and ranking uses the 5dp-rounded cosine
    with id tie-break, so no float last-ulp can flip the result."""
    from ndr_import_spark.operators.similarity import seed_centroids

    seeds = seed_centroids(n_cells, dim)
    dots = ", ".join(
        "list_dot_product(v, [" + ",".join(repr(w) for w in c) + f"]) AS s{ci}"
        for ci, c in enumerate(seeds)
    )
    arr = "[" + ", ".join(f"s{c}" for c in range(n_cells)) + "]"
    seed_rows = ", ".join(
        f"({ci}, {i + 1}, {w!r})" for ci, c in enumerate(seeds) for i, w in enumerate(c)
    )
    return f"""
WITH e AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings),
seeds(cell, i, w) AS (VALUES {seed_rows}),
scored0 AS (SELECT vec_id, v, {dots} FROM e),
a0 AS (
  SELECT vec_id, v, list_position({arr}, list_max({arr})) - 1 AS cell FROM scored0
),
c1 AS (
  SELECT cell, i, round(avg(v[i]), 6) AS w
  FROM a0, range(1, {dim + 1}) t(i)
  GROUP BY cell, i
),
c1f AS (
  SELECT s.cell, s.i, coalesce(c1.w, s.w) AS w
  FROM seeds s LEFT JOIN c1 ON c1.cell = s.cell AND c1.i = s.i
),
s1 AS (
  SELECT e.vec_id, c.cell, sum(e.v[c.i] * c.w) AS s
  FROM e, c1f c GROUP BY e.vec_id, c.cell
),
a1 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
    FROM s1
  ) WHERE rn = 1
),
q AS (
  SELECT a.vec_id AS query_id, e.v AS qv, a.cell
  FROM a1 a JOIN e USING (vec_id) WHERE a.vec_id < 5
),
pairs AS (
  SELECT q.query_id, a.vec_id,
         round(list_dot_product(e2.v, q.qv) /
               (sqrt(list_dot_product(e2.v, e2.v)) * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cos
  FROM a1 a JOIN e e2 USING (vec_id)
  JOIN q ON a.cell = q.cell AND a.vec_id <> q.query_id
)
SELECT query_id, vec_id, cos, rank FROM (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM pairs
) WHERE rank <= {k} ORDER BY query_id, rank
"""


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding corpus with
    per-vector scale + reconstruction error — the 4x storage/IO squeeze
    before ANN indexing. Narrow per-row arrays, no shuffle."""
    from ndr_import_spark.operators.similarity import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = quantize_embeddings(emb)
    return out.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale"),
        F.aggregate(
            F.transform(F.col("qvec"), F.abs), F.lit(0), lambda a, b: a + b
        ).alias("q_l1"),
        F.round(F.col("recon_err"), 5).alias("recon_err"),
    ).orderBy("vec_id")


_ORACLE_QUANTIZE = """
WITH e AS (
  SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings
), s AS (
  SELECT vec_id, v,
         coalesce(list_max(list_transform(v, x -> abs(x))), 0) AS amax
  FROM e
), q AS (
  SELECT vec_id, v, amax,
         list_transform(v, x -> cast(round(
             x * 127 / CASE WHEN amax > 0 THEN amax ELSE 1 END) as int)) AS qv
  FROM s
)
SELECT vec_id,
  round(amax, 6) AS scale,
  cast(list_sum(list_transform(qv, x -> abs(x))) as bigint) AS q_l1,
  round(sqrt(list_sum(list_transform(list_zip(v, qv),
        p -> pow(p[1] - p[2] * amax / 127.0, 2)))), 5) AS recon_err
FROM q ORDER BY vec_id
"""


def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norms — grouped vector aggregation via
    element-wise array folding (posexplode-free, stays vectorised)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    summed = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.aggregate(
            F.collect_list("v"),
            F.array(*[F.lit(0.0)] * 64),
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        ).alias("vsum"),
    )
    return summed.select(
        "label",
        "n",
        F.round(
            F.sqrt(F.aggregate(F.transform("vsum", lambda x: x * x), F.lit(0.0),
                               lambda a, b: a + b)) / F.col("n"),
            5,
        ).alias("centroid_norm"),
    ).orderBy("label")


def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level semantic similarity map: per-source embedding
    centroid SUMS on the integer lattice (round(v·127) — exact BIGINT
    sums, and cosine is scale-invariant so sums need no division), then
    pairwise cosine between the 20 source vectors — a sources²-sized
    join on d, never corpus². The integer dot/norms are exact; the one
    sqrt per pair rounds at 6dp. Flags sources that crawl the same
    underlying site family."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    dims = (
        emb.join(docs, "vec_id")
        .select(
            "source",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "d", "v"
            ),
        )
        .select(
            "source", "d",
            F.round(F.col("v") * F.lit(127.0)).cast("long").alias("q"),
        )
    )
    sums = dims.groupBy("source", "d").agg(F.sum("q").alias("s"))
    pairs = (
        sums.alias("a")
        .join(sums.alias("b"), "d")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(
            F.sum(F.col("a.s") * F.col("b.s")).alias("dot"),
            F.sum(F.col("a.s") * F.col("a.s")).alias("_na"),
            F.sum(F.col("b.s") * F.col("b.s")).alias("_nb"),
        )
    )
    return pairs.select(
        "src_a", "src_b", "dot",
        F.round(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("_na").cast("double"))
               * F.sqrt(F.col("_nb").cast("double"))),
            6,
        ).alias("cosine"),
    ).orderBy("src_a", "src_b")


_ORACLE_SOURCE_SIMILARITY = """
WITH j AS (
  SELECT d.source, e.embedding FROM embeddings e
  JOIN documents d ON d.doc_id = e.vec_id
), dims AS (
  SELECT source, i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 127) AS BIGINT) AS q
  FROM j, unnest(generate_series(1, 64)) AS t(i)
), sums AS MATERIALIZED (
  SELECT source, dim, CAST(sum(q) AS BIGINT) AS s
  FROM dims GROUP BY source, dim
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(sum(a.s * b.s) AS BIGINT) AS dot,
       round(CAST(sum(a.s * b.s) AS DOUBLE)
             / (sqrt(CAST(sum(a.s * a.s) AS DOUBLE))
                * sqrt(CAST(sum(b.s * b.s) AS DOUBLE))), 6) AS cosine
FROM sums a JOIN sums b ON a.dim = b.dim AND a.source < b.source
GROUP BY a.source, b.source ORDER BY src_a, src_b
"""


_ORACLE_CENTROIDS = """
WITH e AS (
  SELECT label, vec_id, cast(embedding as double[]) AS v FROM embeddings
), unnested AS (
  SELECT label, u.i AS dim, u.x
  FROM e, LATERAL (SELECT unnest(generate_series(1, 64)) AS i,
                          unnest(v) AS x) u
), sums AS (
  SELECT label, dim, sum(x) AS s FROM unnested GROUP BY label, dim
), norms AS (
  SELECT label, sqrt(sum(s * s)) AS norm FROM sums GROUP BY label
), counts AS (
  SELECT label, count(*) AS n FROM e GROUP BY label
)
SELECT c.label, c.n, round(norms.norm / c.n, 5) AS centroid_norm
FROM counts c JOIN norms ON norms.label = c.label
ORDER BY c.label
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q10-shaped: revenue lost to returned items per customer, top
    20. lineitem ⋈ orders ⋈ customer are SHUFFLE joins on purpose — all
    fact-scale tables, so at 100 TB no side broadcasts (AQE picks
    broadcast anyway when a filtered side happens to fit); only the
    bounded nation dim is hinted; the returnflag filter pushes to the
    parquet scan."""
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("decimal(28,4)")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_ORACLE_Q10 = """
SELECT c_custkey, c_name, n_name,
  cast(sum(cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4)))
      as double) AS revenue
FROM lineitem, orders, customer, nation
WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
  AND o_custkey = c_custkey AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q18-shaped: orders whose total quantity exceeds a threshold —
    the per-order aggregate is a semi-join filter (aggregate THEN join, so
    only qualifying keys re-join the fact), not a correlated subquery."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("double")).alias("total_qty"))
        .filter(F.col("total_qty") > 100)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.round("total_qty", 5).alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
    )


_ORACLE_Q18 = """
SELECT o_orderkey, o_custkey, o_orderdate, round(total_qty, 5) AS total_qty
FROM (
  SELECT l_orderkey, sum(cast(l_quantity as double)) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(cast(l_quantity as double)) > 100
) big JOIN orders ON big.l_orderkey = o_orderkey
ORDER BY total_qty DESC, o_orderkey
"""


# ---------------------------------------------------------------------------
# corpus-preparation operators (training-data pipeline stages)
# ---------------------------------------------------------------------------

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing any word 4-gram
    with the held-out eval slice (doc_id % 50 == 0). The eval side's
    distinct gram keys are broadcast; the corpus explodes its grams into a
    broadcast-hash LEFT SEMI join — the corpus is scanned once and never
    shuffles."""
    from ndr_import_spark.operators.corpus import ngram_decontaminate

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return ngram_decontaminate(corpus, eval_set, n=4).orderBy("doc_id")


_ORACLE_DECONTAMINATE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS wds
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(wds) - 2, 1)),
                               i -> array_to_string(wds[i:i+3], ' '))) AS gram
  FROM w
), ev AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0
)
SELECT DISTINCT g.doc_id
FROM g JOIN ev USING (gram)
WHERE g.doc_id % 50 <> 0
ORDER BY doc_id
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a synthesised contact-block suffix (the corpus
    text itself is clean): per-doc email/phone/digit-run counts plus an
    md5 of the redacted text. Pure regexp_replace chain — narrow, no
    shuffle."""
    from ndr_import_spark.operators.corpus import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example or +1-555-"),
            (F.col("doc_id") % 10000).cast("string"),
            F.lit(" acct "),
            (F.col("doc_id") + 900000000).cast("string"),
        ).alias("text"),
    )
    out = pii_scrub(with_pii)
    return out.select(
        "doc_id",
        F.md5(F.col("redacted")).alias("red_md5"),
        "n_emails",
        "n_phones",
        "n_numbers",
    ).orderBy("doc_id")


def _oracle_pii() -> str:
    from ndr_import_spark.operators.corpus import _PII_PATTERNS

    (email, _), (phone, _), (num, _) = _PII_PATTERNS
    email_s, phone_s, num_s = (p.replace("'", "''") for p in (email, phone, num))
    return f"""
WITH t AS (
  SELECT doc_id,
    text || ' contact user' || doc_id || '@mail.example or +1-555-' ||
    (doc_id % 10000) || ' acct ' || (doc_id + 900000000) AS s0
  FROM documents
), s1 AS (
  SELECT doc_id,
    len(regexp_extract_all(s0, '{email_s}')) AS n_emails,
    regexp_replace(s0, '{email_s}', '[EMAIL]', 'g') AS s
  FROM t
), s2 AS (
  SELECT doc_id, n_emails,
    len(regexp_extract_all(s, '{phone_s}')) AS n_phones,
    regexp_replace(s, '{phone_s}', '[PHONE]', 'g') AS s
  FROM s1
), s3 AS (
  SELECT doc_id, n_emails, n_phones,
    len(regexp_extract_all(s, '{num_s}')) AS n_numbers,
    regexp_replace(s, '{num_s}', '[NUMBER]', 'g') AS s
  FROM s2
)
SELECT doc_id, md5(s) AS red_md5, n_emails, n_phones, n_numbers
FROM s3 ORDER BY doc_id
"""


def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap: best 3 documents per source by n_chars (ties →
    ascending doc_id) — crawl-domain downsampling. One shuffle on source
    + bounded top-k window."""
    from ndr_import_spark.operators.corpus import per_source_cap

    docs = _t(spark, sf_dir, "documents")
    return (
        per_source_cap(docs, k=3, score=F.col("n_chars"))
        .select("doc_id", "source", "score")
        .orderBy("source", "doc_id")
    )


_ORACLE_PER_SOURCE_CAP = """
SELECT doc_id, source, score FROM (
  SELECT doc_id, source, n_chars AS score,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
) WHERE rk <= 3 ORDER BY source, doc_id
"""


def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (duplicate word-3-gram fraction,
    Gopher-style quality signal) — top 20 most repetitive documents.
    Narrow per-row arrays, no UDF; only the final top-k sorts."""
    from ndr_import_spark.operators.corpus import repetition_score

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.round(repetition_score(F.col("text"), 3), 5).alias("rep")
        )
        .orderBy(F.desc("rep"), "doc_id")
        .limit(20)
    )


_ORACLE_REPETITION = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS wds
  FROM documents
), g AS (
  SELECT doc_id, list_transform(range(1, greatest(len(wds) - 1, 1)),
                                i -> array_to_string(wds[i:i+2], ' ')) AS grams
  FROM w
)
SELECT doc_id,
  round(CASE WHEN len(grams) > 0
        THEN 1.0 - cast(len(list_distinct(grams)) as double) / len(grams)
        ELSE 0.0 END, 5) AS rep
FROM g ORDER BY rep DESC, doc_id LIMIT 20
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-rule bundle (Rae et al. 2021 table A1): per-doc
    word counts, alpha-word fraction, top-{2,3,4}-gram character share,
    duplicated-{5,10}-gram character share, and the pass/fail conjunction.
    One long exploded gram frame → two partial-agg groupBys → conditional
    pivot; per-row signals stay shuffle-free codegen maps."""
    from ndr_import_spark.operators.textstats import gopher_stats_frame

    docs = _t(spark, sf_dir, "documents")
    return gopher_stats_frame(docs).orderBy("doc_id")


_ORACLE_GOPHER = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS wds,
         length(regexp_replace(trim(lower(text)), '\s+', '', 'g')) AS nonspace
  FROM documents
), base AS (
  SELECT doc_id, wds, len(wds) AS nw,
         CASE WHEN len(wds) > 0
              THEN round(CAST(nonspace AS DOUBLE) / len(wds), 5)
              ELSE 0.0 END AS mwl,
         CASE WHEN len(wds) > 0
              THEN round(CAST(len(list_filter(wds,
                   t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(wds), 6)
              ELSE 0.0 END AS fa
  FROM w
), g AS (
  SELECT doc_id, n, array_to_string(wds[i:i+n-1], ' ') AS gram
  FROM base, unnest([2,3,4,5,10]) AS tn(n),
       unnest(range(1, greatest(nw - n + 2, 1))) AS ts(i)
  WHERE nw >= n
), gc AS (
  SELECT doc_id, n, count(*) AS cnt, count(*) * length(gram) AS cl
  FROM g GROUP BY doc_id, n, gram
), pn AS (
  SELECT doc_id, n,
         max(cl) / CAST(sum(cl) AS DOUBLE) AS top_frac,
         sum(CASE WHEN cnt > 1 THEN cl ELSE 0 END)
             / CAST(sum(cl) AS DOUBLE) AS dup_frac
  FROM gc GROUP BY doc_id, n
), piv AS (
  SELECT doc_id,
    round(coalesce(max(CASE WHEN n=2 THEN top_frac END), 0.0), 6) AS t2,
    round(coalesce(max(CASE WHEN n=3 THEN top_frac END), 0.0), 6) AS t3,
    round(coalesce(max(CASE WHEN n=4 THEN top_frac END), 0.0), 6) AS t4,
    round(coalesce(max(CASE WHEN n=5 THEN dup_frac END), 0.0), 6) AS d5,
    round(coalesce(max(CASE WHEN n=10 THEN dup_frac END), 0.0), 6) AS d10
  FROM pn GROUP BY doc_id
)
SELECT b.doc_id, b.nw AS n_words, b.mwl AS mean_word_len,
       b.fa AS alpha_word_frac,
       coalesce(p.t2, 0.0) AS top_2gram_frac,
       coalesce(p.t3, 0.0) AS top_3gram_frac,
       coalesce(p.t4, 0.0) AS top_4gram_frac,
       coalesce(p.d5, 0.0) AS dup_5gram_frac,
       coalesce(p.d10, 0.0) AS dup_10gram_frac,
       (b.nw >= 20 AND b.mwl >= 3.0 AND b.mwl <= 10.0 AND b.fa >= 0.80
        AND coalesce(p.t2, 0.0) <= 0.20 AND coalesce(p.t3, 0.0) <= 0.18
        AND coalesce(p.t4, 0.0) <= 0.16 AND coalesce(p.d5, 0.0) <= 0.15
        AND coalesce(p.d10, 0.0) <= 0.10) AS gopher_pass
FROM base b LEFT JOIN piv p ON b.doc_id = p.doc_id
ORDER BY b.doc_id
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank (5 synchronous rounds, d=0.85) over a
    deterministic synthetic link graph derived from the documents table;
    top 30 nodes. BIGINT arithmetic end-to-end — bit-identical across
    engines and re-runs; the edge shuffle is deduped across iterations by
    Catalyst ReusedExchange."""
    from ndr_import_spark.operators.graph import (
        pagerank_fixed_point,
        synthetic_link_graph,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_link_graph(docs)
    pr = pagerank_fixed_point(edges, iterations=5)
    return pr.orderBy(F.desc("score"), "id").limit(30)


def q_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-expansion BFS (operators/graph.bfs_hops): minimum hop
    counts from the doc_id%1000==0 seed set over the synthetic link
    graph, 4 rounds, per-hop node census. The frontier working set —
    not the node set — drives each round's join; the oracle is the
    deliberately-different unrolled relaxation form (same answers by
    induction, different plan)."""
    from ndr_import_spark.operators.graph import bfs_hops, synthetic_link_graph

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_link_graph(docs)
    seeds = docs.filter(F.col("doc_id") % 1000 == 0).select(
        F.col("doc_id").alias("id")
    )
    dist = bfs_hops(edges, seeds, max_hops=4)
    return (
        dist.groupBy("hops")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("hops")
    )


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff bigram LM (Brants et al. 2007): train counts on the
    doc_id%5!=0 split, score the held-out split — per-doc mean log10
    score + backoff-pair novelty count. Counts collapse map-side; scoring
    is two hash joins on gram keys; log10 quantised to 6dp before a
    DECIMAL sum so reduction order can't drift."""
    from ndr_import_spark.operators.lm import (
        score_stupid_backoff,
        train_bigram_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    uni, bi, total = train_bigram_counts(train)
    return score_stupid_backoff(test, uni, bi, total).orderBy("doc_id")


def q_logreg_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training (operators/classifier.py):
    distill the long-form teacher rule (n_tokens >= 55) into a linear
    student over cheap proxies (chars/8, distinct tokens, stopword hits —
    all centered). 4 full-batch GD rounds, one combinable gradient
    aggregate per round, weights on a 10^6 integer lattice with the
    sigmoid quantised to DECIMAL(8,6) — the whole weight TRAJECTORY is
    the oracle surface (logreg_oracle_sql unrolls the recurrence).
    Reaches 98.6% train accuracy at sf0.01."""
    from ndr_import_spark.operators.classifier import (
        longform_features,
        train_logreg_lattice,
        trajectory_df,
    )

    docs = _t(spark, sf_dir, "documents")
    feat = longform_features(docs)
    traj = train_logreg_lattice(feat, [f"x{j}" for j in range(4)], rounds=4)
    return trajectory_df(spark, traj).orderBy("round", "j")


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality partitioning (Wenzek et al. 2020): rank the
    held-out split by Stupid-Backoff log-prob within each language and
    ntile into head/middle/tail thirds; per (lang, bucket) size, mean
    log-prob and backoff rate (operators/lm.py perplexity_buckets).
    DECIMAL score sums keep the bucket means reduction-order-free."""
    from ndr_import_spark.operators.lm import (
        perplexity_buckets,
        train_bigram_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    uni, bi, total = train_bigram_counts(train)
    return perplexity_buckets(test, uni, bi, total).orderBy("lang", "bucket")


# Shared Stupid-Backoff scoring pipeline (train split -> counts -> held-out
# per-pair scores) — prefix for both the per-doc LM oracle and the CCNet
# bucket oracle.
_LM_SCORED_CTE = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS wds
  FROM documents
), train AS (SELECT * FROM w WHERE doc_id % 5 <> 0),
test AS (SELECT * FROM w WHERE doc_id % 5 = 0),
uni AS (
  SELECT t.w, count(*) AS c1
  FROM (SELECT unnest(wds) AS w FROM train) t GROUP BY t.w
), tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t FROM uni),
bi AS (
  SELECT wds[i] AS w1, wds[i+1] AS w2, count(*) AS c2
  FROM train, unnest(range(1, greatest(len(wds), 1))) AS ts(i)
  WHERE len(wds) >= 2 GROUP BY 1, 2
), pairs AS (
  SELECT doc_id, wds[i] AS w1, wds[i+1] AS w2
  FROM test, unnest(range(1, greatest(len(wds), 1))) AS ts(i)
  WHERE len(wds) >= 2
), sc AS (
  SELECT p.doc_id,
    CASE WHEN b.c2 IS NOT NULL THEN b.c2 / u1.c1
         ELSE 0.4 * (CASE WHEN u2.c1 IS NOT NULL THEN u2.c1 / tot.t
                          ELSE 0.4 / tot.t END)
    END AS s,
    CASE WHEN b.c2 IS NULL THEN 1 ELSE 0 END AS bo
  FROM pairs p
  LEFT JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2
  LEFT JOIN uni u1 ON p.w1 = u1.w
  LEFT JOIN uni u2 ON p.w2 = u2.w
  CROSS JOIN tot
), doc_scores AS (
  SELECT doc_id, count(*) AS n_pairs,
         CAST(sum(bo) AS BIGINT) AS backoff_pairs,
         round(CAST(sum(CAST(round(log10(s), 6) AS DECIMAL(12,6))) AS DOUBLE)
               / count(*), 6) AS avg_logprob
  FROM sc GROUP BY doc_id
)"""

_ORACLE_BIGRAM_LM = _LM_SCORED_CTE + r"""
SELECT doc_id, n_pairs, backoff_pairs, avg_logprob
FROM doc_scores ORDER BY doc_id
"""

_ORACLE_PERPLEXITY_BUCKETS = _LM_SCORED_CTE + r"""
, ranked AS (
  SELECT d.lang, s.doc_id, s.n_pairs, s.backoff_pairs,
         CAST(s.avg_logprob AS DECIMAL(12,6)) AS lp,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY CAST(s.avg_logprob AS DECIMAL(12,6)) DESC,
                                 s.doc_id ASC) AS bucket
  FROM doc_scores s JOIN documents d USING (doc_id)
)
SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_logprob,
       round(CAST(sum(backoff_pairs) AS DOUBLE) / CAST(sum(n_pairs) AS DOUBLE),
             6) AS backoff_rate
FROM ranked GROUP BY lang, bucket ORDER BY lang, bucket
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + exact dedup end-to-end: 240 synthetic URL
    variants (case, default ports, www, fragments, duplicate/trailing
    slashes, tracking params, parameter order) that must collapse to 80
    canonical URLs. The oracle derives the expected groups ANALYTICALLY
    from the variant arithmetic — an independent check of the whole
    normal form, not a re-run of the same parser."""
    from ndr_import_spark.operators.crawl import url_dedup

    rows = []
    for g in range(240):
        n, v, k = g % 40, g // 40, (g % 40) % 5
        url = [
            f"http://site{k}.test/p/{n}",
            f"HTTP://SITE{k}.TEST:80/p/{n}",
            f"http://www.site{k}.test//p//{n}#frag",
            f"http://site{k}.test/p/{n}/?utm_source=feed&fbclid=abc{n}",
            f"http://site{k}.test/p/{n}?b=2&a=1",
            f"http://site{k}.test/p/{n}?a=1&b=2",
        ][v]
        rows.append((g, url))
    df = spark.createDataFrame(rows, "doc_id long, url string").repartition(8)
    return url_dedup(df).orderBy("url_canon")


_ORACLE_URL_DEDUP = """
WITH n AS (SELECT unnest(range(40)) AS n)
SELECT * FROM (
  SELECT 'http://site' || (n % 5) || '.test/p/' || n AS url_canon,
         CAST(4 AS BIGINT) AS n_variants, CAST(n AS BIGINT) AS kept_id
  FROM n
  UNION ALL
  SELECT 'http://site' || (n % 5) || '.test/p/' || n || '?a=1&b=2',
         CAST(2 AS BIGINT), CAST(160 + n AS BIGINT)
  FROM n
) ORDER BY url_canon
"""


def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (operators/boilerplate.py): deterministic HTML
    pages built from the documents table — nav bar, heading, two article
    paragraphs (the doc's words split in half, an inline link in the
    second), a link-farm 'related' block, a link-heavy footer, plus
    script/style noise — run through the densitometric block classifier
    (Kohlschuetter et al. WSDM 2010 NumWords/LinkDensity features). The
    oracle rebuilds the same pages in SQL and runs the LITERAL same
    regex pipeline; per-doc md5 of the extracted text pins every block
    decision."""
    from ndr_import_spark.operators.boilerplate import extract_main_content
    from ndr_import_spark.operators.textstats import token_count, tokens

    docs = _t(spark, sf_dir, "documents")
    wds = tokens(F.col("text"))
    n = F.size(wds)
    half = F.floor((n + F.lit(1)) / F.lit(2)).cast("int")
    p1 = F.array_join(F.slice(wds, F.lit(1), half), " ")
    p2 = F.array_join(F.slice(wds, half + F.lit(1), n - half), " ")
    did = F.col("doc_id").cast("string")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "), did,
            F.lit("</title><style>.m{c:red}</style></head><body>"),
            F.lit('<div id="nav"><a href="/">Home</a> <a href="/tags">Tags</a>'
                  ' <a href="/p/'), did, F.lit('">Doc '), did,
            F.lit("</a></div><h1>Doc "), did, F.lit("</h1><p>"), p1,
            F.lit("</p><p>"), p2,
            F.lit(' <a href="/next">next post</a></p>'
                  '<div id="rel"><a href="/a">one</a> <a href="/b">two</a>'
                  ' <a href="/c">three</a></div>'
                  '<div id="footer"><a href="/contact">Contact</a>'
                  ' <a href="/privacy">Privacy</a> Copyright 2024 Example'
                  ' Site</div><script>var x=1;</script></body></html>'),
        ).alias("html"),
    )
    out = extract_main_content(pages)
    return out.select(
        "doc_id",
        "n_blocks",
        "n_kept",
        token_count(F.col("main_text")).alias("main_tokens"),
        F.md5(F.col("main_text")).alias("main_md5"),
    ).orderBy("doc_id")


def _oracle_main_content() -> str:
    from ndr_import_spark.operators.boilerplate import main_content_oracle_sql

    pages_cte = r"""d AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS wds
  FROM documents
), pg AS (
  SELECT doc_id, len(wds) AS n, (len(wds) + 1) // 2 AS h, wds FROM d
), pages AS (
  SELECT doc_id,
    '<html><head><title>Doc ' || doc_id
    || '</title><style>.m{c:red}</style></head><body>'
    || '<div id="nav"><a href="/">Home</a> <a href="/tags">Tags</a> <a href="/p/'
    || doc_id || '">Doc ' || doc_id || '</a></div><h1>Doc ' || doc_id
    || '</h1><p>' || array_to_string(wds[1:h], ' ')
    || '</p><p>' || array_to_string(wds[h+1:n], ' ')
    || ' <a href="/next">next post</a></p>'
    || '<div id="rel"><a href="/a">one</a> <a href="/b">two</a>'
    || ' <a href="/c">three</a></div>'
    || '<div id="footer"><a href="/contact">Contact</a>'
    || ' <a href="/privacy">Privacy</a> Copyright 2024 Example'
    || ' Site</div><script>var x=1;</script></body></html>' AS html
  FROM pg
)"""
    return main_content_oracle_sql(pages_cte) + r"""
SELECT doc_id, n_blocks, n_kept,
       CAST(CASE WHEN main_text = '' THEN 0
            ELSE len(string_split(main_text, ' ')) END AS INT) AS main_tokens,
       md5(main_text) AS main_md5
FROM perdoc ORDER BY doc_id"""


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS hubs/authorities over the deterministic link graph
    (operators/graph.py hits_fixed_point): the coupled-vector twin of
    PageRank on the same exact-integer recurrence discipline —
    non-negative lattice values, truncating max-rescale (Spark div ==
    DuckDB // on non-negatives), two keyed aggregates per round, top 30
    hubs via TakeOrdered. Oracle unrolls the identical recurrence."""
    from ndr_import_spark.operators.graph import (
        hits_fixed_point,
        synthetic_link_graph,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_link_graph(docs)
    return (
        hits_fixed_point(edges, iterations=4)
        .orderBy(F.desc("hub"), "id")
        .limit(30)
    )


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-lattice Lloyd's k-means over the embeddings table (k=8,
    3 rounds) — SemDeDup-style semantic clustering. Quantised BIGINT
    distances make every assignment bit-reproducible (no FP argmin
    flips); centroids broadcast each round (k·d integers of driver
    state, the MLlib pattern). The oracle unrolls the same recurrence."""
    from ndr_import_spark.operators.clustering import kmeans_lattice

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_lattice(emb, k=8, iterations=3).orderBy("cluster")


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embeddings table (operators/pca.py):
    one Arrow-batched QᵀQ pass builds the augmented integer gram matrix
    (sums + count ride along as a homogeneous coordinate), then exact
    integer power iteration (8 rounds, 10^6 lattice) on the
    floored-centered covariance yields the first principal direction —
    bit-reproducible on any executor count; the oracle unrolls the
    identical recurrence (pca_oracle_sql)."""
    from ndr_import_spark.operators.pca import pca_first_component

    emb = _t(spark, sf_dir, "embeddings")
    return pca_first_component(emb, dim=64).orderBy("d")


PHRASE_LIST = [
    "big data merge",
    "part filter scan",
    "row column sort",
    "slow hash batch",
    "stream table hash",
    "wholly absent phrase",
]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase scan over the corpus via a positional inverted index
    (operators/retrieval.py phrase_search): one vocabulary-pruned postings
    build, then per-phrase offset equijoins — the Manning et al. IR
    positional-index algebra, distributed. The oracle reruns the same
    algebra independently in DuckDB (lateral-unnest postings + offset
    self-joins); the absent phrase pins zero-hit behaviour on both
    sides."""
    from ndr_import_spark.operators.retrieval import phrase_search

    docs = _t(spark, sf_dir, "documents")
    return phrase_search(docs, PHRASE_LIST).orderBy("phrase")


def q_id_validity_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identifier check-digit scan: 100 synthetic NHS numbers (Modulus 11)
    + 100 synthetic 12-digit Luhn PANs, built from md5 digits with the
    check digit correct for even ids and corrupted for odd ids. Both the
    CONSTRUCTION and the VALIDATION are dual-implemented (Spark Columns
    vs generated SQL) — the oracle re-derives every check digit itself."""
    import hashlib as _hl

    from ndr_import_spark.functions.identifiers import (
        luhn_valid,
        nhs_number_valid,
    )

    rows = []
    for n in range(100):
        hx = _hl.md5(f"nhs{n}".encode()).hexdigest()
        d = [int(hx[i], 16) % 10 for i in range(9)]
        s = sum(d[i] * (11 - (i + 1)) for i in range(9))
        chk = 11 - (s % 11)
        chk = 0 if chk == 11 else chk
        if chk == 10:
            d10 = 5
        elif n % 2 == 0:
            d10 = chk
        else:
            d10 = (chk + 1) % 10
        rows.append((n, "nhs", "".join(map(str, d)) + str(d10)))
    for n in range(100):
        hx = _hl.md5(f"luhn{n}".encode()).hexdigest()
        g = [int(hx[i], 16) % 10 for i in range(11)]
        s = 0
        for j in range(1, 12):  # g_j is doubled iff j is odd (1-based)
            v = g[j - 1] * 2 if j % 2 == 1 else g[j - 1]
            s += v - 9 if v > 9 else v
        c = (10 - s % 10) % 10
        d12 = c if n % 2 == 0 else (c + 1) % 10
        rows.append((100 + n, "luhn", "".join(map(str, g)) + str(d12)))
    df = spark.createDataFrame(
        rows, "id long, kind string, cand string"
    ).repartition(8)
    valid = F.when(
        F.col("kind") == "nhs", nhs_number_valid(F.col("cand"))
    ).otherwise(luhn_valid(F.col("cand")))
    return (
        df.select("id", "kind", valid.alias("valid"))
        .groupBy("kind", "valid")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("id").alias("min_id"))
        .orderBy("kind", "valid")
    )


def _oracle_id_scan() -> str:
    """Generated DuckDB twin of q_id_validity_scan: same md5-digit
    construction, independent SQL re-implementation of both validators."""
    nhs_digits = ", ".join(
        f"CAST(('0x' || substring(hx, {i}, 1)) AS INT) % 10 AS d{i}"
        for i in range(1, 10)
    )
    nhs_sum = " + ".join(f"d{i} * {11 - i}" for i in range(1, 10))
    luhn_digits = ", ".join(
        f"CAST(('0x' || substring(hx, {i}, 1)) AS INT) % 10 AS g{i}"
        for i in range(1, 12)
    )
    luhn_terms = []
    for j in range(1, 12):
        if j % 2 == 1:
            luhn_terms.append(
                f"(CASE WHEN g{j} * 2 > 9 THEN g{j} * 2 - 9 ELSE g{j} * 2 END)"
            )
        else:
            luhn_terms.append(f"g{j}")
    luhn_sum = " + ".join(luhn_terms)
    nhs_cat = " || ".join(f"CAST(d{i} AS VARCHAR)" for i in range(1, 10))
    luhn_cat = " || ".join(f"CAST(g{i} AS VARCHAR)" for i in range(1, 12))
    # independent validators over the candidate STRING
    v_sum = " + ".join(
        f"CAST(substring(cand, {i}, 1) AS INT) * {11 - i}" for i in range(1, 10)
    )
    lv_terms = []
    for i in range(1, 20):  # right-position i over reverse(cand), guarded
        d = f"CAST(substring(reverse(cand), {i}, 1) AS INT)"
        if i % 2 == 0:
            m = f"(CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9 ELSE {d} * 2 END)"
        else:
            m = d
        lv_terms.append(f"(CASE WHEN length(cand) >= {i} THEN {m} ELSE 0 END)")
    lv_sum = " + ".join(lv_terms)
    return f"""
WITH nh AS (
  SELECT n, md5('nhs' || n) AS hx FROM (SELECT unnest(range(100)) AS n) t
), nhd AS (SELECT n, {nhs_digits} FROM nh),
nhc AS (
  SELECT n, {nhs_cat} AS head,
         CASE WHEN 11 - (({nhs_sum}) % 11) = 11 THEN 0
              ELSE 11 - (({nhs_sum}) % 11) END AS chk
  FROM nhd
), nhcand AS (
  SELECT CAST(n AS BIGINT) AS id, 'nhs' AS kind,
         head || CAST(CASE WHEN chk = 10 THEN 5
                           WHEN n % 2 = 0 THEN chk
                           ELSE (chk + 1) % 10 END AS VARCHAR) AS cand
  FROM nhc
), lh AS (
  SELECT n, md5('luhn' || n) AS hx FROM (SELECT unnest(range(100)) AS n) t
), lhd AS (SELECT n, {luhn_digits} FROM lh),
lhc AS (
  SELECT n, {luhn_cat} AS head,
         (10 - (({luhn_sum}) % 10)) % 10 AS c
  FROM lhd
), lhcand AS (
  SELECT CAST(100 + n AS BIGINT) AS id, 'luhn' AS kind,
         head || CAST(CASE WHEN n % 2 = 0 THEN c
                           ELSE (c + 1) % 10 END AS VARCHAR) AS cand
  FROM lhc
), cands AS (
  SELECT * FROM nhcand UNION ALL SELECT * FROM lhcand
), checked AS (
  SELECT id, kind,
    CASE WHEN kind = 'nhs' THEN
      regexp_matches(cand, '^[0-9]{{10}}$')
      AND (CASE WHEN 11 - (({v_sum}) % 11) = 11 THEN 0
                ELSE 11 - (({v_sum}) % 11) END) <> 10
      AND (CASE WHEN 11 - (({v_sum}) % 11) = 11 THEN 0
                ELSE 11 - (({v_sum}) % 11) END)
          = CAST(substring(cand, 10, 1) AS INT)
    ELSE
      regexp_matches(cand, '^[0-9]{{12,19}}$') AND ({lv_sum}) % 10 = 0
    END AS valid
  FROM cands
)
SELECT kind, valid, count(*) AS cnt, min(id) AS min_id
FROM checked GROUP BY kind, valid ORDER BY kind, valid
"""


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters: build a 4×256 portable-md5 CMS
    over the corpus token stream (one combinable aggregate, constant-size
    state), point-query the true top-20 tokens and report estimate vs
    exact — the one-sided CMS error is directly visible. Sketch cells
    are engine-portable, so the oracle builds the identical sketch."""
    from ndr_import_spark.operators.sketches import cms_build, cms_estimate
    from ndr_import_spark.operators.textstats import spread_rows, tokens

    # spread the scan: tokenise+explode+4xmd5 ran as one 1.6 s task
    docs = spread_rows(_t(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    sketch = cms_build(toks, "token", depth=4, width=256)
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "token")
        .limit(20)
    )
    est = cms_estimate(sketch, top.select("token"), "token", depth=4, width=256)
    return (
        top.join(est, "token")
        .select(
            "token",
            "true_cnt",
            F.col("est"),
            (F.col("est") - F.col("true_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("true_cnt"), "token")
    )


_ORACLE_CMS = r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
), cells AS (
  SELECT r,
         CAST(('0x' || substring(md5('cms' || r || ':' || token), 1, 15))
              AS BIGINT) % 256 AS col,
         CAST(count(*) AS BIGINT) AS cnt
  FROM toks, unnest([0, 1, 2, 3]) AS tr(r)
  GROUP BY 1, 2
), top AS (
  SELECT token, count(*) AS true_cnt
  FROM toks GROUP BY token ORDER BY true_cnt DESC, token LIMIT 20
), fan AS (
  SELECT t.token, tr.r,
         CAST(('0x' || substring(md5('cms' || tr.r || ':' || t.token), 1, 15))
              AS BIGINT) % 256 AS col
  FROM top t, unnest([0, 1, 2, 3]) AS tr(r)
), est AS (
  SELECT f.token, min(coalesce(c.cnt, 0)) AS est
  FROM fan f LEFT JOIN cells c ON c.r = f.r AND c.col = f.col
  GROUP BY f.token
)
SELECT t.token, t.true_cnt, e.est, e.est - t.true_cnt AS overcount
FROM top t JOIN est e ON t.token = e.token
ORDER BY t.true_cnt DESC, t.token
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting (Suri & Vassilvitskii two-join form)
    on the deterministic document link graph: wedge build + closure join,
    per-node corner counts, top 30 by (triangles desc, node)."""
    from ndr_import_spark.operators.graph import (
        synthetic_link_graph,
        triangle_count,
    )

    docs = _t(spark, sf_dir, "documents")
    tri = triangle_count(synthetic_link_graph(docs))
    return tri.orderBy(F.desc("triangles"), "node").limit(30)


_ORACLE_TRIANGLES = """
WITH dn AS (SELECT count(*) AS n FROM documents),
raw AS (
  SELECT d.doc_id AS src, (d.doc_id + j * 7919) % dn.n AS dst
  FROM documents d, dn, unnest([1, 2, 3]) AS tj(j)
  WHERE (d.doc_id + j * 7919) % dn.n <> d.doc_id
),
und AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
  FROM raw WHERE src <> dst
),
closed AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM und e1
  JOIN und e2 ON e2.lo = e1.hi
  JOIN und e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
),
corners AS (
  SELECT unnest([a, b, c]) AS node FROM closed
)
SELECT node, count(*) AS triangles
FROM corners GROUP BY node
ORDER BY triangles DESC, node LIMIT 30
"""


def q_events_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward over the event stream: 'view'
    events are treated as value-less (sensor gap) and take the most
    recent preceding real value per user. One window per user partition
    (partition-parallel, never a global sort); per-user decimal sums make
    the filled totals reduction-order-proof."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("event_type") != "view", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    locf = F.last(v, ignorenulls=True).over(w)
    rows = ev.select(
        "user_id",
        v.alias("_v"),
        locf.alias("_f"),
    )
    return (
        rows.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0)).alias("n_missing"),
            F.sum(
                F.when(F.col("_v").isNull() & F.col("_f").isNotNull(), 1).otherwise(0)
            ).alias("n_filled"),
            (
                F.sum(F.round(F.col("_f"), 6).cast("decimal(18,6)")).cast("double")
            ).alias("sum_filled"),
        )
        .orderBy("user_id")
    )


_ORACLE_FILL_FORWARD = """
WITH v AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_type <> 'view' THEN value END AS v
  FROM events
), f AS (
  SELECT user_id, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS fv
  FROM v
)
SELECT user_id, count(*) AS n_events,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
       CAST(sum(CASE WHEN v IS NULL AND fv IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_filled,
       CAST(sum(CAST(round(fv, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_filled
FROM f GROUP BY user_id ORDER BY user_id
"""


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage (the NHS-registry matching shape): every 10th
    customer name is corrupted by one deterministic character deletion,
    then linked back against the full master set via symmetric-delete
    blocking (SymSpell — exact recall at distance ≤ 1) + JVM levenshtein
    verify + combinable best-match election. The oracle runs the SAME
    two-phase pipeline in DuckDB (which also ships levenshtein) — a full
    dual implementation, not an echo."""
    from ndr_import_spark.operators.linkage import link_records

    cust = _t(spark, sf_dir, "customer")
    master = cust.select(
        F.col("c_custkey").alias("mid"), F.col("c_name").alias("mname")
    )
    pos = (F.col("c_custkey") % 16 + 2).cast("int")  # delete 2nd..17th char
    probes = (
        cust.where(F.col("c_custkey") % 10 == 0)
        .select(
            F.col("c_custkey").alias("pid"),
            F.concat(
                F.substring(F.col("c_name"), F.lit(1), pos - F.lit(1)),
                F.col("c_name").substr(pos + F.lit(1), F.length("c_name")),
            ).alias("pname"),
        )
    )
    return link_records(
        probes, master, "pid", "pname", "mid", "mname", max_distance=1
    ).orderBy("pid")


_ORACLE_RECORD_LINKAGE = """
WITH master AS (
  SELECT c_custkey AS mid, c_name AS mname FROM customer
), probes AS (
  SELECT c_custkey AS pid,
         substring(c_name, 1, CAST(c_custkey % 16 + 1 AS INT))
         || substring(c_name, CAST(c_custkey % 16 + 3 AS INT)) AS pname
  FROM customer WHERE c_custkey % 10 = 0
), pk AS (
  SELECT pid, pname,
         CASE WHEN i = 0 THEN pname
              ELSE substring(pname, 1, i - 1) || substring(pname, i + 1)
         END AS key
  FROM probes, unnest(range(0, length(pname) + 1)) AS t(i)
), mk AS (
  SELECT mid, mname,
         CASE WHEN i = 0 THEN mname
              ELSE substring(mname, 1, i - 1) || substring(mname, i + 1)
         END AS key
  FROM master, unnest(range(0, length(mname) + 1)) AS t(i)
), cands AS (
  SELECT DISTINCT pid, pname, mid, mname FROM pk JOIN mk USING (key)
), verified AS (
  SELECT pid, mid, levenshtein(pname, mname) AS distance
  FROM cands WHERE levenshtein(pname, mname) <= 1
), best AS (
  SELECT pid, mid, distance,
         row_number() OVER (PARTITION BY pid ORDER BY distance, mid) AS rn
  FROM verified
)
SELECT pid, mid, CAST(distance AS INT) AS distance
FROM best WHERE rn = 1 ORDER BY pid
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): integer-lattice k-means, then
    near-duplicate pairs ONLY within each cluster — pairwise work bounded
    to Σ m_c² instead of n². Integer cosine (dot²·10⁴ ≥ p²·|a|²·|b|²) so
    every pair decision is bit-reproducible; p = 25 to match the
    corpus's LSH near-dup threshold. max_cluster_size=None opts into
    the exact uncapped form (finite cap is the r7 default)."""
    from ndr_import_spark.operators.clustering import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(
        emb, k=8, iterations=3, threshold_pct=25, max_cluster_size=None
    ).orderBy("cluster", "a_id", "b_id")


def q_semantic_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the r6 cluster-size cap: clusters above
    max_cluster_size fall back to banded exact-match LSH on the
    quantized lattice (operators/clustering.py semantic_dedup_pairs),
    bounding pairwise work even when k-means cannot split a pathological
    mega-cluster. Exact inside small clusters; md5 band signatures
    (literal same strings) decide candidates inside capped ones."""
    from ndr_import_spark.operators.clustering import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(
        emb, k=8, iterations=3, threshold_pct=25, max_cluster_size=60,
        n_bands=4,
    ).orderBy("cluster", "a_id", "b_id")


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law vocabulary-growth fit V(n) ≈ K·n^β over the corpus in
    doc_id order: per-doc cumulative (tokens, distinct types) points,
    decimal-quantised log-log OLS (the zipf_fit recipe). β far from the
    0.4-0.6 natural-text band flags synthetic or exhausted vocabulary.
    The cumulative sums run on the chunked prefix-sum machinery
    (operators/prefix.py, the purchase_id_islands pattern): doc_id
    buckets into 2^16-wide chunks, within-chunk windows in parallel,
    one row per chunk carries the offsets — no doc-count-sized
    single-reducer window anywhere in the plan."""
    from ndr_import_spark.operators.prefix import chunked_inclusive_sums
    from ndr_import_spark.operators.textstats import token_count, tokens

    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id", token_count(F.col("text")).alias("_nt")
    )
    firsts = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("_new"))
    )
    base = (
        per_doc.join(firsts, "doc_id", "left")
        .select(
            "doc_id",
            F.col("_nt"),
            F.coalesce(F.col("_new"), F.lit(0)).alias("_newc"),
            F.lit(0).alias("_p"),
        )
        # the prefix machinery reads its input twice (local window +
        # per-chunk totals); without this checkpoint both reads would
        # re-run the token explode + two aggregates. The checkpointed
        # frame is doc-COUNT-sized (3 longs/doc), not token-sized.
        .localCheckpoint(eager=False)
    )
    pts = chunked_inclusive_sums(
        base, "_p", "doc_id", {"_cn": F.col("_nt"), "_cv": F.col("_newc")}
    ).where((F.col("_cn") > 0) & (F.col("_cv") > 0))
    x = F.round(F.log(F.col("_cn").cast("double")), 6).cast("decimal(12,6)")
    y = F.round(F.log(F.col("_cv").cast("double")), 6).cast("decimal(12,6)")
    terms = pts.select(
        x.alias("_x"), y.alias("_y"), (x * y).alias("_xy"), (x * x).alias("_xx"),
        F.col("_cn"), F.col("_cv"),
    )
    agg = terms.agg(
        F.count("*").alias("_n"),
        F.max("_cn").alias("total_tokens"),
        F.max("_cv").alias("vocab"),
        F.sum("_x").cast("double").alias("_sx"),
        F.sum("_y").cast("double").alias("_sy"),
        F.sum("_xy").cast("double").alias("_sxy"),
        F.sum("_xx").cast("double").alias("_sxx"),
    )
    n = F.col("_n").cast("double")
    denom = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    beta = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / denom
    lnk = (F.col("_sy") - beta * F.col("_sx")) / n
    return agg.select(
        F.col("_n").alias("n_points"),
        "total_tokens",
        "vocab",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.exp(lnk), 6).alias("heaps_k"),
    )


_ORACLE_HEAPS = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS wds
  FROM documents
), per_doc AS (
  SELECT doc_id, len(wds) AS nt FROM t
), firsts AS (
  SELECT doc_id, count(*) AS newt FROM (
    SELECT w, min(doc_id) AS doc_id
    FROM (SELECT doc_id, unnest(wds) AS w FROM t) GROUP BY w
  ) GROUP BY doc_id
), pts AS (
  SELECT p.doc_id,
         sum(p.nt) OVER (ORDER BY p.doc_id
                         ROWS UNBOUNDED PRECEDING) AS cn,
         sum(coalesce(f.newt, 0)) OVER (ORDER BY p.doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cv
  FROM per_doc p LEFT JOIN firsts f ON p.doc_id = f.doc_id
), terms AS (
  SELECT cn, cv,
         CAST(round(ln(CAST(cn AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
         CAST(round(ln(CAST(cv AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y
  FROM pts WHERE cn > 0 AND cv > 0
), agg AS (
  SELECT count(*) AS n, CAST(max(cn) AS BIGINT) AS total_tokens,
         CAST(max(cv) AS BIGINT) AS vocab,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(x * x) AS DOUBLE) AS sxx
  FROM terms
)
SELECT n AS n_points, total_tokens, vocab,
  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS heaps_beta,
  round(exp((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n), 6)
    AS heaps_k
FROM agg
"""


def q_source_lexical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions over the shared top-200 vocabulary
    (operators/corpus.source_lexical_divergence, r8) — the no-vectors
    lexical drift map (embedding twin: source_similarity). Add-one
    smoothing; every KL term's log2 argument is a ratio of exact int64
    products so both engines feed log2 identical doubles; 9dp-rounded
    decimal sums, 6dp output. Counts are one combinable
    groupBy(source, token) pruned by the broadcast vocabulary; the
    pairwise stage is sources^2 x V — bounded."""
    from ndr_import_spark.operators.corpus import source_lexical_divergence

    docs = _t(spark, sf_dir, "documents")
    return source_lexical_divergence(docs).orderBy("source_a", "source_b")


def _oracle_source_lexical_drift() -> str:
    return f"""
WITH toks AS (
  SELECT source AS src, unnest({_SQL_TOKS}) AS w FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM toks GROUP BY w
    ORDER BY c DESC, w ASC LIMIT 200)
), cnt AS (
  SELECT src, w, count(*) AS c FROM toks
  WHERE w IN (SELECT w FROM vocab) GROUP BY src, w
), srcs AS (SELECT DISTINCT source AS src FROM documents),
dense AS (
  SELECT s.src, v.w, COALESCE(c.c, 0) AS c
  FROM srcs s CROSS JOIN vocab v
  LEFT JOIN cnt c ON c.src = s.src AND c.w = v.w
), tot AS (SELECT src, sum(c) AS t FROM dense GROUP BY src),
d2 AS (
  SELECT dense.src, w, CAST(c + 1 AS BIGINT) AS a,
         CAST(t + 200 AS BIGINT) AS d
  FROM dense JOIN tot USING (src)
), pairs AS (
  SELECT x.src AS source_a, y.src AS source_b,
         x.a AS aa, x.d AS da, y.a AS ab, y.d AS db
  FROM d2 x JOIN d2 y ON x.w = y.w AND x.src < y.src
), terms AS (
  SELECT source_a, source_b,
    CAST(round(
      (aa / CAST(da AS DOUBLE))
        * log2(2.0 * aa * db / CAST(aa * db + ab * da AS DOUBLE))
      + (ab / CAST(db AS DOUBLE))
        * log2(2.0 * ab * da / CAST(aa * db + ab * da AS DOUBLE)),
      9) AS DECIMAL(20,9)) AS q
  FROM pairs
)
SELECT source_a, source_b,
  round(CAST(sum(q) / 2 AS DOUBLE), 6) AS js_bits
FROM terms GROUP BY source_a, source_b ORDER BY source_a, source_b
"""


def q_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language unigram Shannon entropy (bits/token): H = log2(T) −
    Σ c·log2(c) / T over the token frequency table — the corpus-diversity
    twin of zipf_fit (low entropy flags templated/machine text). log2
    quantised to 6dp before the decimal sum; one vocab-sized aggregate."""
    from ndr_import_spark.operators.textstats import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("lang"), F.explode(tokens(F.col("text"))).alias("w")
    )
    freqs = toks.groupBy("lang", "w").agg(F.count("*").alias("c"))
    qlog = F.round(F.log2(F.col("c").cast("double")), 6).cast("decimal(12,6)")
    agg = freqs.groupBy("lang").agg(
        F.count("*").alias("vocab"),
        F.sum("c").alias("total_tokens"),
        F.sum(F.col("c") * qlog).cast("double").alias("_s"),
    )
    h = F.log2(F.col("total_tokens").cast("double")) - F.col("_s") / F.col(
        "total_tokens"
    )
    return agg.select(
        "lang", "vocab", "total_tokens", F.round(h, 6).alias("entropy_bits")
    ).orderBy("lang")


_ORACLE_SOURCE_ENTROPY = r"""
WITH t AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x <> '')) AS w
  FROM documents
), freqs AS (
  SELECT lang, w, count(*) AS c FROM t GROUP BY lang, w
), agg AS (
  SELECT lang, count(*) AS vocab, CAST(sum(c) AS BIGINT) AS total_tokens,
         CAST(sum(c * CAST(round(log2(CAST(c AS DOUBLE)), 6)
                           AS DECIMAL(12,6))) AS DOUBLE) AS s
  FROM freqs GROUP BY lang
)
SELECT lang, vocab, total_tokens,
       round(log2(CAST(total_tokens AS DOUBLE)) - s / total_tokens, 6)
         AS entropy_bits
FROM agg ORDER BY lang
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf rank-frequency OLS fit over the token frequency
    table — corpus-health signal (natural text slopes near -1). Logs are
    quantised to DECIMAL(12,6) before the regression sums so reduction
    order can't drift; the only serial step is one row_number window over
    the vocabulary."""
    from ndr_import_spark.operators.textstats import zipf_fit_frame

    docs = _t(spark, sf_dir, "documents")
    return zipf_fit_frame(docs).orderBy("lang")


_ORACLE_ZIPF = r"""
WITH w AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x <> '')) AS w
  FROM documents
), freqs AS (
  SELECT lang, w, count(*) AS f FROM w GROUP BY lang, w
), ranked AS (
  SELECT lang, f,
         row_number() OVER (PARTITION BY lang ORDER BY f DESC, w ASC) AS r
  FROM freqs
), terms AS (
  SELECT lang, f,
         CAST(round(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
         CAST(round(ln(CAST(f AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y
  FROM ranked
), agg AS (
  SELECT lang, count(*) AS vocab, CAST(sum(f) AS BIGINT) AS total_tokens,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(x * x) AS DOUBLE) AS sxx
  FROM terms GROUP BY lang
)
SELECT lang, vocab, total_tokens,
  CASE WHEN vocab * sxx - sx * sx <> 0 THEN
    round((vocab * sxy - sx * sy) / (vocab * sxx - sx * sx), 6)
  END AS zipf_slope,
  CASE WHEN vocab * sxx - sx * sx <> 0 THEN
    round((sy - ((vocab * sxy - sx * sy) / (vocab * sxx - sx * sx)) * sx)
          / vocab, 6)
  END AS zipf_intercept
FROM agg ORDER BY lang
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking (16-word windows, 4-word overlap)
    with provenance — context-window preparation. Explode of start
    positions + slice/join fused into one codegen stage; no shuffle."""
    from ndr_import_spark.operators.corpus import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_words=16, overlap=4).orderBy(
        "doc_id", "chunk_id"
    )


_ORACLE_CHUNKS = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS wds FROM documents
), n AS (
  SELECT doc_id, wds, len(wds) AS nw,
         1 + cast(ceil(greatest(len(wds) - 16, 0) / 12.0) as int) AS n_chunks
  FROM w
), c AS (
  SELECT doc_id, wds, unnest(range(0, n_chunks)) AS chunk_id FROM n
)
SELECT doc_id, chunk_id,
  len(wds[chunk_id * 12 + 1 : chunk_id * 12 + 16]) AS n_words,
  array_to_string(wds[chunk_id * 12 + 1 : chunk_id * 12 + 16], ' ') AS chunk
FROM c ORDER BY doc_id, chunk_id
"""


def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top 25 tokens by document frequency and total
    count — one explode + one map-side-combined aggregate (partial counts
    per task, tiny final shuffle on token)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_total"), "tok")
        .limit(25)
    )


def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout locality report (operators/layout.py): Morton-
    interleave (user_id, event-day) over the events table — 16-bit
    integer-exact quantisation, unrolled mask/shift codegen key — then
    bucket by the key's top byte (the files a sorted writer would cut)
    and measure each bucket's span in BOTH dimensions: the pruning win
    `OPTIMIZE ZORDER BY`-style layouts buy for either filter column.
    Oracle reruns the identical bit arithmetic."""
    from ndr_import_spark.operators.layout import zorder_locality_report

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.expr("datediff(to_date(ts), date'1970-01-01')").alias("day"),
    )
    return zorder_locality_report(ev, "user_id", "day").orderBy("bucket")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data profiler over the orders table
    (operators/profile.py): per-column nulls / EXACT distincts / min-max /
    top value in one melt + two keyed aggregates (one data shuffle bounded
    by per-column cardinality). Canonical string casts (doubles via
    round->DECIMAL, timestamps via a fixed format) keep both engines
    bit-identical; top-value argmax is a combinable min(struct(-n, v)),
    not a window."""
    from ndr_import_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "orders")).orderBy("column_name")


_FD_PAIRS = [
    ("o_orderkey", "int", "o_custkey", "int"),
    ("o_orderkey", "int", "o_orderstatus", "str"),
    ("o_orderkey", "int", "o_totalprice", "double"),
    ("o_orderkey", "int", "o_orderdate", "ts"),
    ("o_orderkey", "int", "o_orderpriority", "str"),
    ("o_custkey", "int", "o_orderstatus", "str"),
    ("o_orderdate", "ts", "o_orderpriority", "str"),
    ("o_orderstatus", "str", "o_orderpriority", "str"),
]


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal stratified-sample allocation over event types
    (operators/corpus.py neyman_allocation): n_h ∝ N_h·S_h from exact
    decimal power sums, largest-remainder integer rounding summing
    exactly to the 10,000 budget; remainder ties break by stratum."""
    from ndr_import_spark.operators.corpus import neyman_allocation

    return neyman_allocation(
        _events(spark, sf_dir), "event_type", "value", budget=10_000
    ).orderBy("stratum")


_ORACLE_NEYMAN = """
WITH sums AS (
  SELECT event_type AS stratum, count(*) AS n_pop,
    sum(CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6))) AS s1,
    sum(CAST(CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6))
             * CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6))
             AS DECIMAL(38,12))) AS s2
  FROM events GROUP BY event_type
), stats AS (
  SELECT stratum, n_pop,
    round(sqrt(greatest((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_pop)
                        / n_pop, 0.0)), 5) AS std_value,
    CAST(round(CAST(n_pop AS DOUBLE)
               * sqrt(greatest((CAST(s2 AS DOUBLE)
                                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                  / n_pop) / n_pop, 0.0)), 6)
         AS DECIMAL(24,6)) AS w
  FROM sums
), ratio AS (
  SELECT stratum, n_pop, std_value,
    CAST(round(10000.0 * CAST(w AS DOUBLE)
               / CAST((SELECT sum(w) FROM stats) AS DOUBLE), 6)
         AS DECIMAL(18,6)) AS r
  FROM stats
), based AS (
  SELECT stratum, n_pop, std_value, r,
         CAST(floor(r) AS BIGINT) AS base, r - floor(r) AS rem
  FROM ratio
)
SELECT stratum, n_pop, std_value,
       base + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum ASC)
                        <= 10000 - (SELECT sum(base) FROM based)
                   THEN 1 ELSE 0 END AS alloc
FROM based ORDER BY stratum
"""


def q_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency / candidate-key discovery over orders
    (operators/profile.py fd_discovery): det->dep graded by counting
    det-groups with >1 distinct dep value — o_orderkey must determine
    every column (key), the cross-column pairs must fail. Single-shuffle
    melt shape shared with the profiler."""
    from ndr_import_spark.operators.profile import fd_discovery
    from ndr_import_spark.operators.textstats import spread_rows

    pairs = [(d, p) for d, _dk, p, _pk in _FD_PAIRS]
    # spread the scan: the det/dep melt explode ran as one 1.4 s task
    return fd_discovery(spread_rows(_t(spark, sf_dir, "orders")), pairs).orderBy(
        "det", "dep"
    )


def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab sizing curve (operators/corpus.py
    vocab_coverage_curve): corpus token share covered by the top-k
    vocabulary at doubling probe sizes. Global frequency ranks come from
    a histogram-offset + per-frequency window (no global sort); all probe
    coverages fold into one combinable conditional-sum aggregate."""
    from ndr_import_spark.operators.corpus import vocab_coverage_curve

    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage_curve(docs).orderBy("k")


_ORACLE_VOCAB_COVERAGE = r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
), vocab AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY word
), tot AS (SELECT CAST(sum(freq) AS BIGINT) AS t,
                  CAST(count(*) AS BIGINT) AS nv FROM vocab),
ranked AS MATERIALIZED (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, word ASC) AS r
  FROM vocab
)
SELECT k, least(CAST(k AS BIGINT), tot.nv) AS n_words,
       round(CAST(sum(CASE WHEN r <= k THEN freq ELSE 0 END) AS DOUBLE)
             / tot.t, 6) AS coverage
FROM ranked, tot, unnest([1, 4, 16, 64, 256, 1024, 4096, 16384]) AS tk(k)
GROUP BY k, tot.nv, tot.t ORDER BY k
"""


_ORACLE_VOCAB = """
WITH t AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS tok
  FROM documents
)
SELECT tok, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
FROM t GROUP BY tok ORDER BY n_total DESC, tok LIMIT 25
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: banded-MinHash STAR edges (each band
    bucket's members link to its min-id anchor — Σ(m-1) verified edges,
    not Σ m²/2; the r7 scale form after sf10 measured 122M pairwise
    candidates on a shingle-saturated corpus) → connected components
    (iterative min-label propagation, one shuffle join + one
    min-aggregate per round, rounds = graph diameter) → per-doc cluster
    assignment with member counts. Pairwise output alone cannot collapse
    an a~b~c chain; this is the operator that turns similarity into
    dedup decisions at corpus scale."""
    from ndr_import_spark.operators.dedup import (
        connected_components,
        minhash_lsh_star_edges,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_star_edges(docs, k=16, bands=4, verify_threshold=0.5)
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        comp.join(sizes, "component")
        .select(F.col("node").alias("doc_id"), "component", "n_members")
        .orderBy("doc_id")
    )


def _oracle_dedup_clusters() -> str:
    pairs_sql = _oracle_minhash(star=True).replace("ORDER BY id_a, id_b", "")
    return f"""
WITH RECURSIVE p AS ({pairs_sql}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION
  SELECT id_b, id_a FROM p
),
reach(node, m) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m
),
comp AS (SELECT node AS doc_id, min(m) AS component FROM reach GROUP BY node)
SELECT c.doc_id, c.component, s.n_members
FROM comp c
JOIN (SELECT component, count(*) AS n_members FROM comp GROUP BY component) s
  USING (component)
ORDER BY c.doc_id
"""


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact passage dedup (keep-first): 32-word windows,
    md5 keep-first decision as one min-aggregate on the hash (no corpus
    window), clean text rebuilt per doc. Reports only docs that lost at
    least one passage plus their clean-text md5."""
    from ndr_import_spark.operators.corpus import passage_dedup

    docs = _t(spark, sf_dir, "documents")
    return (
        passage_dedup(docs, passage_words=32)
        .filter(F.col("n_kept") < F.col("n_passages"))
        .orderBy("doc_id")
    )


_ORACLE_PASSAGE_DEDUP = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS wds FROM documents
), n AS (
  SELECT doc_id, wds,
         1 + cast(ceil(greatest(len(wds) - 32, 0) / 32.0) as int) AS n_chunks
  FROM w
), c AS (
  SELECT doc_id, wds, unnest(range(0, n_chunks)) AS chunk_id FROM n
), ch AS (
  SELECT doc_id, chunk_id,
         array_to_string(wds[chunk_id * 32 + 1 : chunk_id * 32 + 32], ' ') AS chunk
  FROM c
), h AS (
  SELECT doc_id, chunk_id, chunk, md5(chunk) AS hx,
         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, chunk_id) AS rk
  FROM ch
), agg AS (
  SELECT doc_id,
         count(*) AS n_passages,
         cast(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) as bigint) AS n_kept,
         md5(coalesce(string_agg(CASE WHEN rk = 1 THEN chunk END, ' ' ORDER BY chunk_id), '')) AS clean_md5
  FROM h GROUP BY doc_id
)
SELECT doc_id, n_passages, n_kept, clean_md5
FROM agg WHERE n_kept < n_passages ORDER BY doc_id
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: explode → map-side-combined
    (doc, term) counts → term document-frequency aggregate → broadcast
    corpus size → per-doc top-k window (doc-id partitions, bounded by
    per-doc vocab — no skew funnel). Ranking happens on the ROUNDED
    score so engine ulp differences cannot flip ranks."""
    from ndr_import_spark.operators.corpus import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3).orderBy("doc_id", "term")


_ORACLE_TFIDF = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         round(t.tf * ln(cast(n.n as double) / d.df), 5) AS score
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, tf, df, score FROM ranked WHERE rk <= 3
ORDER BY doc_id, term
"""


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (data-mixing stage): keep 50% of
    'en' docs, 25% of 'de', everything else — decided by a 16-bit md5
    bucket of (salt, id), so the sample is identical on any engine,
    partitioning, or cluster size, and nested across rates. Narrow
    filter, no shuffle; the summary aggregate is the only exchange."""
    from ndr_import_spark.operators.corpus import deterministic_sample

    docs = _t(spark, sf_dir, "documents")
    sampled = deterministic_sample(
        docs, {"en": 0.5, "de": 0.25}, strata_col="lang", default_fraction=1.0
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


_ORACLE_SAMPLE = """
WITH h AS (
  SELECT *, md5('sample:' || doc_id) AS hx FROM documents
), nib AS (
  SELECT *,
    (CASE WHEN ascii(substring(hx, 1, 1)) >= 97 THEN ascii(substring(hx, 1, 1)) - 87 ELSE ascii(substring(hx, 1, 1)) - 48 END) * 4096 +
    (CASE WHEN ascii(substring(hx, 2, 1)) >= 97 THEN ascii(substring(hx, 2, 1)) - 87 ELSE ascii(substring(hx, 2, 1)) - 48 END) * 256 +
    (CASE WHEN ascii(substring(hx, 3, 1)) >= 97 THEN ascii(substring(hx, 3, 1)) - 87 ELSE ascii(substring(hx, 3, 1)) - 48 END) * 16 +
    (CASE WHEN ascii(substring(hx, 4, 1)) >= 97 THEN ascii(substring(hx, 4, 1)) - 87 ELSE ascii(substring(hx, 4, 1)) - 48 END) AS bucket
  FROM h
), kept AS (
  SELECT * FROM nib
  WHERE bucket < (CASE lang WHEN 'en' THEN 32768 WHEN 'de' THEN 16384 ELSE 65536 END)
)
SELECT lang, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id,
       cast(sum(n_chars) as bigint) AS sum_chars
FROM kept GROUP BY lang ORDER BY lang
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (12 h gap) over the event stream via the
    reusable operators/sessions.py module: one shuffle on user, lag +
    running-sum windows share a single sort. Emits PER-SESSION stats
    (vs `events_sessionize`, the inline per-user session-count rollup);
    batch twin of the streaming session-window pipeline."""
    from ndr_import_spark.operators.sessions import session_stats

    events = _t(spark, sf_dir, "events")
    return session_stats(events, gap_seconds=43200).orderBy("user_id", "session_no")


_ORACLE_SESSIONS = """
WITH o AS (
  SELECT user_id, event_id, ts, floor(epoch(ts)) AS es,
         lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_es
  FROM events
), f AS (
  SELECT *, CASE WHEN prev_es IS NULL OR es - prev_es > 43200 THEN 1 ELSE 0 END AS nf
  FROM o
), s AS (
  SELECT *, cast(sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS session_no
  FROM f
)
SELECT user_id, session_no, count(*) AS n_events,
       min(ts) AS start_ts, max(ts) AS end_ts,
       cast(max(es) - min(es) as bigint) AS duration_s
FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no
"""


def q_range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: events against 50 GENUINELY overlapping
    12-hour analysis windows (8-hour stride, so every event can fall in
    two windows — the multi-interval-match case is exercised, not just
    claimed). A bare BETWEEN join plans as a nested-loop product
    (O(points × intervals)); bucketization turns it into a plain hash
    equi-join on the hour bucket + an exact refine — linear shuffle,
    output-bounded candidates. See operators/rangejoin.py."""
    from ndr_import_spark.operators.rangejoin import range_join

    events = _t(spark, sf_dir, "events")
    base = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    windows = (
        spark.range(50)
        .select(
            F.col("id").alias("window_id"),
            F.timestamp_add("HOUR", (F.col("id") * 8).cast("int"), base).alias("ws"),
            F.timestamp_add("HOUR", (F.col("id") * 8 + 12).cast("int"), base).alias("we"),
        )
    )
    joined = range_join(events, windows, "ts", "ws", "we", bucket_seconds=3600)
    return (
        joined.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("window_id")
    )


_ORACLE_RANGE_JOIN = """
WITH w AS (
  SELECT i AS window_id,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i * 8) HOUR AS ws,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i * 8 + 12) HOUR AS we
  FROM range(0, 50) t(i)
)
SELECT w.window_id, count(*) AS n_events, count(DISTINCT e.user_id) AS n_users
FROM w JOIN events e
  ON floor(epoch(e.ts)) >= epoch(w.ws) AND floor(epoch(e.ts)) < epoch(w.we)
GROUP BY w.window_id ORDER BY w.window_id
"""


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-version-wins snapshot merge over orders: every 10th order
    arrives again as a v2 status update, every 100th as a tombstone
    delete. One shuffle of base ∪ updates on the key + in-partition
    top-1 (bucketed base would shuffle only the update batch). Output is
    a per-status reconciliation summary."""
    from ndr_import_spark.operators.upsert import merge_upsert

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.lit(1).alias("version"),
        F.lit(False).alias("deleted"),
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            F.lit(2).alias("version"),
            (F.col("o_orderkey") % 100 == 0).alias("deleted"),
        )
    )
    merged = merge_upsert(
        orders, updates, ["o_orderkey"], "version", tombstone_col="deleted"
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .orderBy("o_orderstatus")
    )


_ORACLE_MERGE_UPSERT = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, 1 AS version, false AS deleted FROM orders
), upd AS (
  SELECT o_orderkey, 'U' AS o_orderstatus, 2 AS version,
         (o_orderkey % 100 = 0) AS deleted
  FROM orders WHERE o_orderkey % 10 = 0
), tagged AS (
  SELECT *, 0 AS src FROM base UNION ALL SELECT *, 1 AS src FROM upd
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
            ORDER BY version DESC, src DESC) AS rk
  FROM tagged
), merged AS (
  SELECT * FROM ranked WHERE rk = 1 AND NOT deleted
)
SELECT o_orderstatus, count(*) AS n,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       cast(sum(o_orderkey) as bigint) AS key_sum
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the full training-data preparation pipeline
    in ONE lazy plan: exact dedup (min-id representative) → MinHash-LSH
    near-dup CLUSTER drop (connected components, keep each cluster's
    representative) → benchmark decontamination (broadcast semi-join)
    → deterministic train/val/test split → per-split corpus stats.
    Every stage is the oracle-gated operator tested standalone; this
    query pins that they compose."""
    from ndr_import_spark.operators.corpus import hash_split, ngram_decontaminate
    from ndr_import_spark.operators.dedup import (
        connected_components,
        drop_exact_duplicates,
        minhash_lsh_star_edges,
    )
    from ndr_import_spark.operators.textstats import token_count

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)

    # kept feeds the shingle pipeline AND the post-cluster anti join;
    # kept2 feeds decontamination AND the final anti join. A lazy
    # localCheckpoint materialises each once (first action) and reuses
    # the stored partitions for every later consumer — unlike persist()
    # there is no cache-registry entry to leak: the blocks are released
    # by the ContextCleaner when the query's plan is garbage-collected.
    kept = drop_exact_duplicates(corpus).localCheckpoint(eager=False)
    pairs = minhash_lsh_star_edges(kept, k=16, bands=4, verify_threshold=0.5)
    comp = connected_components(pairs)
    neardup_drops = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    kept2 = kept.join(neardup_drops, "doc_id", "left_anti").localCheckpoint(eager=False)
    contaminated = ngram_decontaminate(kept2, eval_set, n=4)
    clean = kept2.join(contaminated, "doc_id", "left_anti")
    split = hash_split(clean, {"train": 8, "val": 1, "test": 1})
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text"))).alias("total_tokens"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("split")
    )


def _oracle_training_mix() -> str:
    from ndr_import_spark.operators.dedup import MINHASH_P, minhash_perm_consts

    # -- MinHash pairs over the exact-deduped corpus (mirrors
    #    _oracle_banded_jaccard with a keep1 pre-CTE) --
    norm = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    sh = (f"list_distinct(list_transform(range(1, greatest(length({norm}) - 5 + 1, 1) + 1), "
          f"i -> substring({norm}, i, 5)))")
    hs = ("list_distinct(list_transform(sh, s -> "
          "cast(('0x' || substring(md5(s), 1, 15)) as bigint) "
          f"& {(1 << 30) - 1}))")
    consts = minhash_perm_consts(16, "mh")
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in consts
    )
    band_keys = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(array_to_string(sig[{b * 4 + 1}:{(b + 1) * 4}], ',')) AS key FROM sigs"
        for b in range(4)
    )
    pairs_sql = f"""
WITH corpus AS (
  SELECT * FROM documents WHERE doc_id % 50 <> 0
), hx AS (
  SELECT *, md5({norm}) AS ch FROM corpus
), keep1x AS (
  SELECT *, min(doc_id) OVER (PARTITION BY ch) AS mn FROM hx
), t AS (
  SELECT doc_id, text FROM keep1x WHERE doc_id = mn
), shingled AS (
  SELECT doc_id, {sh} AS sh FROM t
), hashed AS (
  SELECT doc_id, sh, {hs} AS hs FROM shingled
), sigs AS (
  SELECT doc_id, [{sig_items}] AS sig FROM hashed
), banded AS ({band_keys}),
centers AS (
  SELECT band, key, min(doc_id) AS ctr FROM banded GROUP BY band, key
),
cand AS (
  SELECT DISTINCT c.ctr AS id_a, b.doc_id AS id_b
  FROM banded b JOIN centers c USING (band, key)
  WHERE b.doc_id <> c.ctr
)
SELECT p.id_a, p.id_b
FROM cand p
JOIN hashed a ON a.doc_id = p.id_a
JOIN hashed b ON b.doc_id = p.id_b
WHERE cast(len(list_intersect(a.hs, b.hs)) as double) /
      len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5
"""
    nibs = " + ".join(
        f"(CASE WHEN ascii(substring(hx, {i}, 1)) >= 97 THEN ascii(substring(hx, {i}, 1)) - 87 "
        f"ELSE ascii(substring(hx, {i}, 1)) - 48 END) * {m}"
        for i, m in ((1, 4096), (2, 256), (3, 16), (4, 1))
    )
    return f"""
WITH RECURSIVE p AS ({pairs_sql}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p
),
reach(node, m) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m
),
comp AS (SELECT node, min(m) AS component FROM reach GROUP BY node),
drops AS (SELECT node AS doc_id FROM comp WHERE node <> component),
corpus2 AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
hx2 AS (SELECT *, md5({norm}) AS ch FROM corpus2),
keep1b AS (
  SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY ch) AS mn FROM hx2)
  WHERE doc_id = mn
),
kept2 AS (
  SELECT * FROM keep1b WHERE doc_id NOT IN (SELECT doc_id FROM drops)
),
wrds AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS wds
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(wds) - 2, 1)),
                               i -> array_to_string(wds[i:i+3], ' '))) AS gram
  FROM wrds
),
ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
contaminated AS (
  SELECT DISTINCT g.doc_id FROM grams g JOIN ev USING (gram)
  WHERE g.doc_id IN (SELECT doc_id FROM kept2)
),
clean AS (
  SELECT * FROM kept2 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
labeled AS (
  SELECT *,
    CASE WHEN ({nibs.replace('hx', "md5('split:' || doc_id)")}) % 10 < 8 THEN 'train'
         WHEN ({nibs.replace('hx', "md5('split:' || doc_id)")}) % 10 < 9 THEN 'val'
         ELSE 'test' END AS split
  FROM clean
)
SELECT split, count(*) AS n_docs,
  cast(sum(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> ''))) as bigint) AS total_tokens,
  cast(sum(n_chars) as bigint) AS sum_chars,
  min(doc_id) AS min_id, max(doc_id) AS max_id
FROM labeled GROUP BY split ORDER BY split
"""


# dirty/clean unicode-artifact literals for the training_pipeline fixture:
# five exclusive classes (single mojibake, double mojibake, control char,
# NFD combining pair, zero-width space) that ALL repair to the same token
# 'café' — so identical raw texts still collide at the dedup stage no
# matter which artifact class their doc_id drew.
_TP_MOJI_SINGLE = "café".encode("utf-8").decode("cp1252")  # 'cafÃ©'
_TP_MOJI_DOUBLE = _TP_MOJI_SINGLE.encode("utf-8").decode("cp1252")
_TP_CTL = "caf\x07é"
_TP_NFD = "cafe\u0301"
_TP_ZW = "caf\u200b\u00e9"


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end training-data capstone (r6 VERDICT item 1): the
    whole crawl-to-batches pipeline in ONE lazy plan —

      HTML pages → boilerplate extraction (operators/boilerplate)
      → unicode hygiene (operators/unicode_clean: five artifact classes
        per doc_id%5, every one repairing to the token 'café')
      → C4 cleaning rules (operators/corpus.c4_clean, blocklist=())
      → exact dedup (min-id representative)
      → MinHash-LSH near-dup cluster drop (connected components)
      → benchmark decontamination (3-gram overlap vs the doc_id%50==0
        eval slice of the SAME cleaned corpus)
      → DSIR importance FILTER (corpus.dsir_log_weights > 0 against the
        curated src0 target domain — a threshold, not top-k, so the
        selected set stays corpus-proportional at any scale)
      → deterministic hash train/val/test split
      → concat-and-chunk sequence packing per (split, shard).

    Output: one row per (split, shard) with doc/pack/token counts, id
    range and a bit_xor fingerprint of the 60-bit md5 of every surviving
    document's cleaned text — so every stage's per-document decision is
    value-gated through the composition. The oracle chains the LITERAL
    per-stage SQL replicas (pages → perdoc → unicode replace → c4 → LSH
    → recursive CC → grams → llr → split → pack) into one WITH-chain.

    The WARC container step is pinned separately (warc_extract reads
    real .warc.gz archives); this chain starts at its output schema
    (doc_id, html). Scale shape: per-stage lazy localCheckpoints cut
    re-execution at every multi-consumer frame; every join is equi-key
    or broadcast (eval grams, llr table); packing windows partition by
    (split, shard) — num_shards is the parallelism knob; nothing
    corpus-sized ever sits in one task."""
    from ndr_import_spark.operators.boilerplate import extract_main_content
    from ndr_import_spark.operators.corpus import (
        c4_clean,
        dsir_log_weights,
        hash_split,
        ngram_decontaminate,
    )
    from ndr_import_spark.operators.dedup import (
        connected_components,
        drop_exact_duplicates,
        minhash_lsh_star_edges,
    )
    from ndr_import_spark.operators.packing import pack_sequences
    from ndr_import_spark.operators.textstats import (
        md5_long,
        token_count,
        tokens,
    )
    from ndr_import_spark.operators.unicode_clean import clean_unicode

    docs0 = _t(spark, sf_dir, "documents")
    # planted duplication: doc_id%74==1 re-publishes the previous doc's
    # words with '!' sentence endings (every sentence differs from the
    # original, so C4's corpus span-dedup keeps both intact, but dedup
    # normalisation strips punctuation -> EXACT duplicate); %74==38
    # re-publishes with word slices shifted one right (all sentences
    # differ -> span-dedup no-op, shingle overlap stays high -> NEAR
    # duplicate for the MinHash stage). Page-level verbatim copies are
    # deliberately absent: C4 span-dedup would annihilate them before
    # the dedup stages could see them.
    prev = docs0.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("text").alias("_src_text"),
    )
    is_exact_copy = F.col("doc_id") % 74 == 1
    is_near_copy = F.col("doc_id") % 74 == 38
    docs = docs0.join(prev, "doc_id", "left").select(
        "doc_id",
        "source",
        F.when(
            is_exact_copy | is_near_copy,
            F.coalesce(F.col("_src_text"), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
        is_exact_copy.alias("_bang"),
        is_near_copy.alias("_shift"),
    )

    wds = tokens(F.col("text"))
    off = F.when(F.col("_shift"), F.lit(1)).otherwise(F.lit(0))
    sent = []
    for start, ln in [(1, 2), (3, 5), (8, 5), (13, 4),
                      (17, 5), (22, 2), (24, 5), (29, 5)]:
        sent.append(F.array_join(F.slice(wds, off + start, F.lit(ln)), " "))
    dirty = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(" " + _TP_MOJI_SINGLE))
        .when(F.col("doc_id") % 5 == 1, F.lit(" " + _TP_MOJI_DOUBLE))
        .when(F.col("doc_id") % 5 == 2, F.lit(" " + _TP_CTL))
        .when(F.col("doc_id") % 5 == 3, F.lit(" " + _TP_NFD))
        .otherwise(F.lit(" " + _TP_ZW))
    )
    # '!' endings for the exact-copy class, '.' otherwise
    dot = F.when(F.col("_bang"), F.lit("!")).otherwise(F.lit("."))
    dotsp = F.concat(dot, F.lit(" "))
    p1 = F.concat(
        sent[0], dotsp, sent[1], dotsp,
        sent[2], dotsp, sent[3], dot,
    )
    p2 = F.concat(
        sent[4], dotsp, sent[5], dotsp,
        sent[6], dotsp, sent[7], dirty, dot,
    )
    html = F.concat(
        F.lit('<html><body><div id="nav"><a href="/">Home</a> '
              '<a href="/tags">Tags</a></div><p>'),
        p1,
        F.lit("</p><p>"),
        p2,
        F.lit(' <a href="/next">next post.</a></p>'),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.lit("<p>please enable javascript to continue viewing "
                  "all of the content.</p>"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("<p>subscribe to our newsletter today. follow us on "
                  "social media channels. all rights reserved by the "
                  "site.</p>"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("<p>lorem ipsum dolor sit amet consectetur adipiscing "
                  "elit sed do work.</p>"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 17 == 0,
            F.lit("<p>widget config uses braces { notation } for the "
                  "whole layout here.</p>"),
        ).otherwise(F.lit("")),
        F.lit('<div id="f"><a href="/c">Contact</a> '
              '<a href="/p">Privacy</a></div></body></html>'),
    )
    pages = docs.select("doc_id", html.alias("html"))
    # NO barrier here (r12): mc has exactly one consumer (uc), and
    # clean_unicode / c4_clean each consume their input once before
    # c4_clean's own internal sentence checkpoint — the former
    # localCheckpoint materialised a full main_text corpus copy and paid
    # a whole job round to protect nothing.
    mc = extract_main_content(pages)
    uc = clean_unicode(
        mc.select("doc_id", F.col("main_text").alias("text"))
    )
    c4 = c4_clean(
        uc.select("doc_id", F.col("clean_text").alias("text")),
        blocklist=(),
    )
    cleaned = (
        c4.select("doc_id", "clean_text")
        .join(docs.select("doc_id", "source"), "doc_id")
        .localCheckpoint(eager=False)
    )
    eval_set = cleaned.where(F.col("doc_id") % 50 == 0)
    corpus = cleaned.where(F.col("doc_id") % 50 != 0)
    kept = drop_exact_duplicates(
        corpus, text_col="clean_text"
    ).localCheckpoint(eager=False)
    pairs = minhash_lsh_star_edges(
        kept, text_col="clean_text", k=16, bands=4, verify_threshold=0.5
    )
    comp = connected_components(pairs)
    neardup = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    kept2 = kept.join(neardup, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    cont = ngram_decontaminate(kept2, eval_set, n=3, text_col="clean_text")
    clean = kept2.join(cont, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    pool = clean.where(F.col("source") != "src0")
    target = clean.where(F.col("source") == "src0")
    # lw feeds BOTH the pool-mean stats aggregate and the importance
    # filter below; without a barrier the whole DSIR scoring subtree
    # (featurize + bucket counts + llr join) re-executes per consumer
    # (r12: the profile showed its stages twice). Narrow (doc_id,
    # decimal) rows — corpus-row-sized at any scale, the right shape to
    # materialise once.
    lw = dsir_log_weights(
        pool, target, text_col="clean_text"
    ).localCheckpoint(eager=False)
    # importance FILTER at the pool mean: w*n > Σw is exact decimal
    # arithmetic ((20,9)x(10,0) -> (31,9) vs the (38,9) sum — no
    # division, so the threshold is bit-identical on any engine) and
    # keeps a corpus-PROPORTIONAL slice at any scale, unlike top-k
    stats = lw.agg(
        F.sum("log_weight").alias("_sum"),
        F.count(F.lit(1)).cast("decimal(10,0)").alias("_n"),
    )
    mixed = pool.join(
        lw.crossJoin(F.broadcast(stats))
        .where(
            F.col("log_weight").cast("decimal(20,9)") * F.col("_n")
            > F.col("_sum")
        )
        .select("doc_id"),
        "doc_id",
    )
    final = target.select("doc_id", "clean_text").unionByName(
        mixed.select("doc_id", "clean_text")
    )
    split = hash_split(final, {"train": 8, "val": 1, "test": 1})
    toks = split.select(
        "doc_id",
        "split",
        token_count(F.col("clean_text")).alias("n_tok"),
        md5_long(F.col("clean_text")).alias("_fp"),
    )
    packed = pack_sequences(
        toks, "n_tok", capacity=256, num_shards=4, salt="pack",
        partition_cols=("split",),
    )
    return (
        packed.groupBy("split", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("pack_id").alias("n_packs"),
            F.sum("n_tok").alias("sum_tokens"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.expr("bit_xor(_fp)").alias("text_fp"),
        )
        .orderBy("split", "shard")
    )


def _oracle_training_pipeline() -> str:
    """The chained literal-SQL replica of q_training_pipeline: every
    stage's oracle fragment (pages -> perdoc -> unicode replace -> c4 ->
    exact dedup -> banded MinHash + recursive CC -> 3-gram decont ->
    DSIR llr filter -> hash split -> packing) composed into ONE
    WITH-chain, so the driver value-gates the whole composition."""
    from ndr_import_spark.operators.boilerplate import main_content_oracle_sql
    from ndr_import_spark.operators.dedup import MINHASH_P, minhash_perm_consts

    dirty_sp = (
        "CASE CAST(doc_id % 5 AS INT)"
        f" WHEN 0 THEN ' {_TP_MOJI_SINGLE}'"
        f" WHEN 1 THEN ' {_TP_MOJI_DOUBLE}'"
        " WHEN 2 THEN ' caf' || chr(7) || 'é'"
        f" WHEN 3 THEN ' {_TP_NFD}'"
        f" ELSE ' {_TP_ZW}' END"
    )
    dirty_tok = (
        "CASE CAST(doc_id % 5 AS INT)"
        f" WHEN 0 THEN '{_TP_MOJI_SINGLE}'"
        f" WHEN 1 THEN '{_TP_MOJI_DOUBLE}'"
        " WHEN 2 THEN 'caf' || chr(7) || 'é'"
        f" WHEN 3 THEN '{_TP_NFD}'"
        f" ELSE '{_TP_ZW}' END"
    )

    def sl(start: int, ln: int) -> str:
        return (f"coalesce(array_to_string(wds[{start}+o:{start + ln - 1}+o],"
                " ' '), '')")

    pages_cte = rf"""srcpick AS (
  SELECT d.doc_id, d.source,
    CASE WHEN d.doc_id % 74 IN (1, 38) THEN coalesce(s.text, d.text)
         ELSE d.text END AS text,
    CASE WHEN d.doc_id % 74 = 38 THEN 1 ELSE 0 END AS o,
    CASE WHEN d.doc_id % 74 = 1 THEN '!' ELSE '.' END AS dt
  FROM documents d LEFT JOIN documents s ON s.doc_id = d.doc_id - 1
), dw AS (
  SELECT doc_id, source, o, dt,
    list_filter(string_split_regex(trim(lower(text)), '\s+'),
                x -> x <> '') AS wds
  FROM srcpick
), pages AS (
  SELECT doc_id,
    '<html><body><div id="nav"><a href="/">Home</a> '
    || '<a href="/tags">Tags</a></div><p>'
    || {sl(1, 2)} || dt || ' '
    || {sl(3, 5)} || dt || ' '
    || {sl(8, 5)} || dt || ' '
    || {sl(13, 4)} || dt
    || '</p><p>'
    || {sl(17, 5)} || dt || ' '
    || {sl(22, 2)} || dt || ' '
    || {sl(24, 5)} || dt || ' '
    || {sl(29, 5)} || {dirty_sp} || dt
    || ' <a href="/next">next post.</a></p>'
    || CASE WHEN doc_id % 13 = 0
         THEN '<p>please enable javascript to continue viewing all of the content.</p>'
         ELSE '' END
    || CASE WHEN doc_id % 4 = 0
         THEN '<p>subscribe to our newsletter today. follow us on social media channels. all rights reserved by the site.</p>'
         ELSE '' END
    || CASE WHEN doc_id % 11 = 0
         THEN '<p>lorem ipsum dolor sit amet consectetur adipiscing elit sed do work.</p>'
         ELSE '' END
    || CASE WHEN doc_id % 17 = 0
         THEN '<p>widget config uses braces {{ notation }} for the whole layout here.</p>'
         ELSE '' END
    || '<div id="f"><a href="/c">Contact</a> <a href="/p">Privacy</a></div></body></html>'
    AS html
  FROM dw
)"""
    mc = main_content_oracle_sql(pages_cte)
    assert mc.startswith("WITH ")
    mc = mc.replace("WITH ", "WITH RECURSIVE ", 1)

    # --- stage: unicode repair (closed form: each dirty token -> 'café'),
    #     then the c4 pipeline over the repaired text (blocklist=()) ---
    c4_part = rf""",
ucl AS (
  SELECT doc_id, replace(main_text, {dirty_tok}, 'café') AS t0
  FROM perdoc
), p2c AS (
  SELECT doc_id, lower(t0) AS t FROM ucl
  WHERE lower(t0) NOT LIKE '%lorem ipsum%'
    AND lower(t0) NOT LIKE '%{{%'
)"""
    c4_part += _c4_span_chain_sql("p2c")
    c4_part += rf""", cleaned AS MATERIALIZED (
  SELECT v.doc_id, string_agg(v.s, ' ' ORDER BY v.i) AS clean_text,
         any_value(d.source) AS source
  FROM survivors v JOIN documents d USING (doc_id)
  GROUP BY v.doc_id
), ev AS (
  SELECT * FROM cleaned WHERE doc_id % 50 = 0
), corp AS (
  SELECT * FROM cleaned WHERE doc_id % 50 <> 0
)"""

    # --- stage: exact dedup + banded MinHash + recursive CC over the
    #     cleaned corpus (the training_mix recipe retargeted) ---
    normct = "trim(regexp_replace(lower(clean_text), '[^a-z0-9]+', ' ', 'g'))"
    sh = (f"list_distinct(list_transform(range(1, greatest(length({normct})"
          f" - 5 + 1, 1) + 1), i -> substring({normct}, i, 5)))")
    hs = ("list_distinct(list_transform(sh, sg -> "
          "cast(('0x' || substring(md5(sg), 1, 15)) as bigint) "
          f"& {(1 << 30) - 1}))")
    consts = minhash_perm_consts(16, "mh")
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in consts
    )
    band_keys = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(array_to_string("
        f"sig[{b * 4 + 1}:{(b + 1) * 4}], ',')) AS key FROM sigs"
        for b in range(4)
    )
    dedup_part = rf""",
hx AS (
  SELECT *, md5({normct}) AS ch FROM corp
), keep1 AS MATERIALIZED (
  SELECT doc_id, clean_text, source FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY ch) AS mn FROM hx
  ) WHERE doc_id = mn
), shingled AS (
  SELECT doc_id, {sh} AS sh FROM keep1
), hashed AS MATERIALIZED (
  SELECT doc_id, sh, {hs} AS hs FROM shingled
), sigs AS (
  SELECT doc_id, [{sig_items}] AS sig FROM hashed
), banded AS ({band_keys}),
centers AS (
  SELECT band, key, min(doc_id) AS ctr FROM banded GROUP BY band, key
),
cand AS (
  SELECT DISTINCT c.ctr AS id_a, b.doc_id AS id_b
  FROM banded b JOIN centers c USING (band, key)
  WHERE b.doc_id <> c.ctr
), prs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN hashed ha ON ha.doc_id = c.id_a
  JOIN hashed hb ON hb.doc_id = c.id_b
  WHERE cast(len(list_intersect(ha.hs, hb.hs)) as double) /
        len(list_distinct(list_concat(ha.hs, hb.hs))) >= 0.5
), edges AS (
  SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs
), reach(node, m) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m
), comp AS (
  SELECT node, min(m) AS component FROM reach GROUP BY node
), nddrops AS (
  SELECT node AS doc_id FROM comp WHERE node <> component
), kept2 AS MATERIALIZED (
  SELECT * FROM keep1
  WHERE doc_id NOT IN (SELECT doc_id FROM nddrops)
)"""

    # --- stage: 3-gram decontamination vs the cleaned eval slice ---
    toks_ct = (r"list_filter(string_split_regex(lower(clean_text), '\s+'),"
               " x -> x <> '')")
    decont_part = rf""",
evg AS MATERIALIZED (
  SELECT DISTINCT g FROM (
    SELECT unnest(list_transform(range(1, greatest(len({toks_ct}) - 1, 1)),
           i -> array_to_string({toks_ct}[i:i+2], ' '))) AS g
    FROM ev
  )
), contaminated AS (
  SELECT DISTINCT k.doc_id FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, greatest(len({toks_ct}) - 1, 1)),
             i -> array_to_string({toks_ct}[i:i+2], ' '))) AS g
    FROM kept2
  ) k JOIN evg USING (g)
), cleanf AS MATERIALIZED (
  SELECT * FROM kept2
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)"""

    # --- stage: DSIR llr importance filter (pool mean threshold) ---
    dsir_part = rf""",
dtoks AS (
  SELECT doc_id, source, {toks_ct} AS t FROM cleanf
), duni AS (
  SELECT doc_id, source, unnest(t) AS g FROM dtoks
), dbig AS (
  SELECT doc_id, source,
         t[CAST(u.i AS INT)] || ' ' || t[CAST(u.i AS INT) + 1] AS g
  FROM dtoks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
), dgrams AS (
  SELECT * FROM duni UNION ALL SELECT * FROM dbig
), dfb AS (
  SELECT doc_id, source,
    CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 1024 AS b
  FROM dgrams
), rawf AS (SELECT * FROM dfb WHERE source <> 'src0'),
tgtf AS (SELECT * FROM dfb WHERE source = 'src0'),
dcnt AS (SELECT doc_id, b, count(*) AS c FROM rawf GROUP BY doc_id, b),
cqd AS (SELECT b, count(*) AS cq FROM rawf GROUP BY b),
cpd AS (SELECT b, count(*) AS cp FROM tgtf GROUP BY b),
nn AS (SELECT (SELECT count(*) FROM rawf) AS nq,
              (SELECT count(*) FROM tgtf) AS np),
llr AS (
  SELECT cqd.b,
    CAST(round(ln(
      CAST((coalesce(cpd.cp, 0) + 1) * (nn.nq + 1024) AS DOUBLE)
      / CAST((cqd.cq + 1) * (nn.np + 1024) AS DOUBLE)
    ), 9) AS DECIMAL(20,9)) AS llr
  FROM cqd LEFT JOIN cpd USING (b) CROSS JOIN nn
), dsc AS MATERIALIZED (
  SELECT doc_id, CAST(sum(c * llr) AS DECIMAL(28,9)) AS log_weight
  FROM dcnt JOIN llr USING (b) GROUP BY doc_id
), thr AS (
  SELECT CAST(sum(log_weight) AS DECIMAL(38,9)) AS sw,
         CAST(count(*) AS DECIMAL(10,0)) AS nw
  FROM dsc
), mixed AS (
  SELECT doc_id FROM dsc, thr
  WHERE CAST(log_weight AS DECIMAL(20,9)) * nw > sw
), final AS (
  SELECT doc_id, clean_text FROM cleanf WHERE source = 'src0'
  UNION ALL
  SELECT c.doc_id, c.clean_text FROM cleanf c JOIN mixed USING (doc_id)
)"""

    # --- stage: hash split + packing + the (split, shard) gate ---
    nibs = _sql_bucket16("split")
    pack_part = rf""",
labeled AS (
  SELECT doc_id, clean_text,
    CASE WHEN ({nibs}) % 10 < 8 THEN 'train'
         WHEN ({nibs}) % 10 < 9 THEN 'val'
         ELSE 'test' END AS split,
    CAST(({_sql_bucket16("pack")}) % 4 AS INT) AS shard,
    len({toks_ct}) AS n_tok,
    CAST(('0x' || substring(md5(clean_text), 1, 15)) AS BIGINT) AS fp
  FROM final
), packed AS (
  SELECT split, shard, doc_id, n_tok, fp,
    COALESCE(SUM(n_tok) OVER (PARTITION BY split, shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
  FROM labeled
)
SELECT split, shard, count(*) AS n_docs,
  CAST(count(DISTINCT cumb // 256) AS BIGINT) AS n_packs,
  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
  min(doc_id) AS min_id, max(doc_id) AS max_id,
  CAST(bit_xor(fp) AS BIGINT) AS text_fp
FROM packed GROUP BY split, shard ORDER BY split, shard"""

    return mc + c4_part + dedup_part + decont_part + dsir_part + pack_part



def q_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (view → click → purchase): each stage's
    timestamp is the user's earliest qualifying event AFTER the previous
    stage. Three sequential min-aggregations joined on the user key —
    every shuffle is user-keyed, no window over the whole stream, and
    each stage input is pre-filtered to one event type (predicate reaches
    the scan). Returns per-stage reach counts."""
    events = _t(spark, sf_dir, "events")

    def stage(prev: DataFrame | None, etype: str, out: str) -> DataFrame:
        # each stage emits ONLY (user_id, its own min-ts): the next stage
        # filters on prev.columns[-1] and the reach counts read nothing
        # else. The former re-join with `prev` (to carry every earlier
        # stage's timestamp forward) was 1:1 row-preserving — `joined`'s
        # user set is a subset of prev's unique user key by construction
        # — but doubled the previous stage's whole subtree per level
        # (r12: 22 events scans in the initial plan, 2^level growth).
        ev = events.filter(F.col("event_type") == etype).select(
            "user_id", F.col("ts").alias("_ts")
        )
        if prev is None:
            return ev.groupBy("user_id").agg(F.min("_ts").alias(out))
        joined = ev.join(prev, "user_id").filter(F.col("_ts") > F.col(prev.columns[-1]))
        return joined.groupBy("user_id").agg(F.min("_ts").alias(out))

    s1 = stage(None, "view", "t_view")
    s2 = stage(s1, "click", "t_click")
    s3 = stage(s2, "purchase", "t_purchase")
    n1 = s1.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(1).alias("stage"), F.lit("view").alias("event"), "n"
    )
    n2 = s2.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(2).alias("stage"), F.lit("click_after_view").alias("event"), "n"
    )
    n3 = s3.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(3).alias("stage"), F.lit("purchase_after_click").alias("event"), "n"
    )
    return n1.unionByName(n2).unionByName(n3).orderBy("stage")


_ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view'
  GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t_view
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
  GROUP BY e.user_id
)
SELECT 1 AS stage, 'view' AS event, count(*) AS n FROM s1
UNION ALL
SELECT 2, 'click_after_view', count(*) FROM s2
UNION ALL
SELECT 3, 'purchase_after_click', count(*) FROM s3
ORDER BY stage
"""


def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth over per-user daily activity: 7-row moving
    event count, cumulative events, rank of the day within the user, and
    lead/lag day deltas — one user-keyed shuffle feeding four frames over
    the same sort order (Spark evaluates them in a single Window node
    chain). Integer measures only, so the oracle hashes exactly."""
    events = _t(spark, sf_dir, "events")
    daily = (
        events.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("user_id").orderBy("day")
    return (
        daily.select(
            "user_id",
            "day",
            "n_events",
            F.sum("n_events").over(w.rowsBetween(-6, 0)).alias("mov7"),
            F.sum("n_events").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cum_events"),
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("n_events"), "day")
            ).alias("busy_rank"),
            F.datediff(
                F.coalesce(F.lead("day").over(w), F.col("day")), F.col("day")
            ).alias("days_to_next"),
        )
        .filter(F.col("busy_rank") <= 5)
        .orderBy("user_id", "day")
    )


_ORACLE_WINDOW_ANALYTICS = """
WITH daily AS (
  SELECT user_id, cast(ts AS date) AS day, count(*) AS n_events
  FROM events GROUP BY user_id, cast(ts AS date)
), win AS (
  SELECT user_id, day, n_events,
    cast(sum(n_events) OVER (PARTITION BY user_id ORDER BY day
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) as bigint) AS mov7,
    cast(sum(n_events) OVER (PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum_events,
    row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC, day) AS busy_rank,
    date_diff('day', day, coalesce(lead(day) OVER (PARTITION BY user_id ORDER BY day), day)) AS days_to_next
  FROM daily
)
SELECT user_id, day, n_events, mov7, cum_events, busy_rank,
       cast(days_to_next as int) AS days_to_next
FROM win WHERE busy_rank <= 5 ORDER BY user_id, day
"""


def q_quantile_sketch_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log2-histogram quantile sketch WITH self-evaluation
    (operators/sketches.log2_histogram / histogram_quantiles, r8): the
    sketch bins floor(value*100) by integer bit length (no float log —
    every engine bins identically), estimates p50/p90/p99 as covering-
    bin upper edges, and the SAME query computes the exact interpolated
    percentile so the output carries estimate, truth and their ratio.
    The sketch is one combinable groupBy over <= 64 bins (a KB of
    executor state at any scale — the approx path events_value_
    percentiles' docstring promises at 100 TB); the eval join is
    3 rows x 1 row. Oracle replays binning, cumulative election and
    quantile_cont literally."""
    from ndr_import_spark.operators.sketches import (
        histogram_quantiles,
        log2_histogram,
    )

    events = _t(spark, sf_dir, "events")
    hist = log2_histogram(events, "value")
    est = histogram_quantiles(hist, (0.5, 0.9, 0.99))
    exact = events.agg(
        F.round(F.expr("percentile(value, 0.5)"), 5).alias("e50"),
        F.round(F.expr("percentile(value, 0.9)"), 5).alias("e90"),
        F.round(F.expr("percentile(value, 0.99)"), 5).alias("e99"),
    )
    ex = exact.selectExpr(
        "stack(3, 0.5D, e50, 0.9D, e90, 0.99D, e99) as (q, exact_value)"
    )
    return (
        est.join(ex, "q")
        .select(
            "q", "n", "est_value", "exact_value",
            F.round(F.col("est_value") / F.col("exact_value"), 5)
            .alias("ratio"),
        )
        .orderBy("q")
    )


_ORACLE_QUANTILE_SKETCH = """
WITH u AS (
  SELECT CAST(FLOOR(value * 100) AS BIGINT) AS units FROM events
), b AS (
  -- positive-only contract (r8 advice): the engine filters units < 1
  -- before binning; mirror it so the semantics stay pinned even if a
  -- future fixture carries zeros/negatives
  SELECT length(bin(units)) AS bin, count(*) AS cnt FROM u
  WHERE units >= 1 GROUP BY 1
), c AS (
  SELECT bin, cnt,
    sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS cum,
    sum(cnt) OVER () AS n
  FROM b
), qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
est AS (
  SELECT q, n,
    (SELECT min(bin) FROM c WHERE cum >= ceil(q * c2.n)) AS pick
  FROM qs, (SELECT DISTINCT n FROM c) c2
), ex AS (
  SELECT unnest([0.5, 0.9, 0.99]) AS q,
         unnest([round(quantile_cont(value, 0.5), 5),
                 round(quantile_cont(value, 0.9), 5),
                 round(quantile_cont(value, 0.99), 5)]) AS exact_value
  FROM events
)
SELECT est.q, CAST(n AS BIGINT) AS n,
  ((2.0 ** pick) - 1) / 100 AS est_value,
  exact_value,
  round((((2.0 ** pick) - 1) / 100) / exact_value, 5) AS ratio
FROM est JOIN ex ON est.q = ex.q ORDER BY est.q
"""


def q_events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type exact value percentiles (p50/p90/p99). Spark's exact
    `percentile` interpolates identically to DuckDB's quantile_cont
    (verified bit-equal), so the oracle hashes exactly. Exact percentile
    buffers each group's values — fine for bounded groups like
    event_type; at 100 TB per-key percentiles switch to
    `approx_percentile` (t-digest, mergeable partial aggs) and trade
    determinism for bounded memory."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 5).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 5).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 5).alias("p99"),
        )
        .orderBy("event_type")
    )


_ORACLE_PERCENTILES = """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.5), 5) AS p50,
       round(quantile_cont(value, 0.9), 5) AS p90,
       round(quantile_cont(value, 0.99), 5) AS p99
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a deliberately hot group key:
    `lang` has a handful of values, so a plain groupBy funnels each
    language's partials into one reducer. Phase 1 groups by (lang, salt)
    — pmod(hash(doc_id), 16) spreads even identical rows — phase 2
    merges ≤16 partial rows per language. Results are exact integers, so
    the oracle is the plain GROUP BY (the salt changes the shuffle shape,
    never the result). See operators/skew.py; AQE cannot split a
    hash-aggregate key, which is why this exists."""
    from ndr_import_spark.operators.skew import salted_agg

    docs = _t(spark, sf_dir, "documents")
    return salted_agg(
        docs.select("lang", "n_chars", "doc_id"),
        ["lang"],
        {
            "n_docs": ("doc_id", "count"),
            "sum_chars": ("n_chars", "sum"),
            "min_chars": ("n_chars", "min"),
            "max_chars": ("n_chars", "max"),
        },
        salt_buckets=16,
        salt=F.pmod(F.hash(F.col("doc_id")), F.lit(16)),
    ).orderBy("lang")


_ORACLE_SKEW_SALTED_AGG = """
SELECT lang, count(doc_id) AS n_docs, cast(sum(n_chars) AS bigint) AS sum_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (md5-bucket mod 10,
    8/1/1): stable across engines, partitionings and corpus growth —
    unlike randomSplit. Narrow projection + tiny aggregate."""
    from ndr_import_spark.operators.corpus import hash_split

    docs = _t(spark, sf_dir, "documents")
    split = hash_split(docs, {"train": 8, "val": 1, "test": 1})
    return (
        split.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_doc_id"))
        .orderBy("split")
    )


_ORACLE_HASH_SPLIT = """
WITH h AS (
  SELECT doc_id, md5('split:' || doc_id) AS hx FROM documents
), nibs AS (
  SELECT doc_id,
    (CASE WHEN ascii(substr(hx,1,1)) >= 97 THEN ascii(substr(hx,1,1)) - 87 ELSE ascii(substr(hx,1,1)) - 48 END) * 4096 +
    (CASE WHEN ascii(substr(hx,2,1)) >= 97 THEN ascii(substr(hx,2,1)) - 87 ELSE ascii(substr(hx,2,1)) - 48 END) * 256 +
    (CASE WHEN ascii(substr(hx,3,1)) >= 97 THEN ascii(substr(hx,3,1)) - 87 ELSE ascii(substr(hx,3,1)) - 48 END) * 16 +
    (CASE WHEN ascii(substr(hx,4,1)) >= 97 THEN ascii(substr(hx,4,1)) - 87 ELSE ascii(substr(hx,4,1)) - 48 END) AS bucket
  FROM h
), lab AS (
  SELECT doc_id, CASE WHEN bucket % 10 < 8 THEN 'train'
                      WHEN bucket % 10 < 9 THEN 'val'
                      ELSE 'test' END AS split
  FROM nibs
)
SELECT split, count(*) AS n, min(doc_id) AS min_doc_id
FROM lab GROUP BY split ORDER BY split
"""


# ---------------------------------------------------------------------------
# relational breadth: the remaining TPC-H query SHAPES, adapted to the
# trimmed testdata schema (no partsupp / commitdate / shipmode columns).
# Each exercises a distinct Catalyst pattern: non-equi semi join (q4),
# double-dim self-join (q7), conditional-aggregate share (q8), outer-join
# distribution (q13), promo share (q14), scalar-subquery max (q15),
# distinct + anti join (q16), correlated-avg rewrite (q17), disjunctive
# predicate join (q19), scalar-threshold + anti join (q22).
# ---------------------------------------------------------------------------

def _dec(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


def _rev() -> F.Column:
    return (_dec("l_extendedprice")
            * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))).cast("decimal(28,4)")


def q4_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q4-shaped: orders in a quarter having at least one lineitem
    shipped after the order date, counted per priority. The EXISTS is a
    LEFT SEMI join on the equi key with the non-equi shipdate predicate
    evaluated inside the join — one shuffle, no duplication of orders
    regardless of lineitem fan-out (semi join short-circuits)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q7-shaped: bilateral trade volume between two nations by
    ship year. The nation dim joins twice under different roles — both
    broadcast (bounded dim); the symmetric nation-pair filter lands on
    the broadcast outputs, fact joins stay shuffle-plannable."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_ORACLE_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  cast(extract(year FROM l_shipdate) AS int) AS l_year,
  cast(sum(cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4)))
      as double) AS revenue
FROM lineitem, supplier, orders, customer, nation n1, nation n2
WHERE l_suppkey = s_suppkey AND l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q8-shaped: NATION_5's share of ECONOMY-part revenue sold
    into ASIA customers per order year. Share = conditional decimal sum /
    total decimal sum, both exact, divided as doubles (bit-deterministic
    across engines). part filter pushes to the scan before the join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_cust = nation.select(F.col("n_nationkey").alias("nc_key"),
                           F.col("n_regionkey").alias("nc_region"))
    n_supp = nation.select(F.col("n_nationkey").alias("ns_key"),
                           F.col("n_name").alias("supp_nation"))
    rev = _rev()
    zero = F.lit(0).cast("decimal(28,4)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(region), F.col("nc_region") == region.r_regionkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("ns_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(zero))
            .cast("double").alias("nation_rev"),
            F.sum(rev).cast("double").alias("total_rev"),
        )
        .withColumn("mkt_share", F.col("nation_rev") / F.col("total_rev"))
        .orderBy("o_year")
    )


_ORACLE_Q8 = """
WITH flat AS (
  SELECT cast(extract(year FROM o_orderdate) AS int) AS o_year,
    cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4)) AS rev,
    ns.n_name AS supp_nation
  FROM lineitem, part, supplier, orders, customer, nation nc, nation ns, region
  WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
    AND o_custkey = c_custkey AND c_nationkey = nc.n_nationkey
    AND nc.n_regionkey = r_regionkey AND s_nationkey = ns.n_nationkey
    AND r_name = 'ASIA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT o_year,
  cast(sum(CASE WHEN supp_nation = 'NATION_5' THEN rev ELSE cast(0 as decimal(28,4)) END) as double) AS nation_rev,
  cast(sum(rev) as double) AS total_rev,
  cast(sum(CASE WHEN supp_nation = 'NATION_5' THEN rev ELSE cast(0 as decimal(28,4)) END) as double)
    / cast(sum(rev) as double) AS mkt_share
FROM flat GROUP BY o_year ORDER BY o_year
"""


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q13-shaped: distribution of customers by order count, with
    the orders filter in the OUTER join condition (customers with zero
    qualifying orders must survive with c_count = 0). Two aggregations,
    both map-side-combinable; the outer join shuffles once on custkey."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_ORACLE_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q14-shaped: fraction of one month's revenue from PROMO
    parts. Single join + conditional aggregate; the shipdate filter
    prunes lineitem at the scan, part projects two columns only."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _rev()
    zero = F.lit(0).cast("decimal(28,4)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .cast("double").alias("promo_rev"),
            F.sum(rev).cast("double").alias("total_rev"),
        )
        .withColumn("promo_share",
                    F.lit(100.0) * F.col("promo_rev") / F.col("total_rev"))
    )


_ORACLE_Q14 = """
SELECT
  cast(sum(CASE WHEN p_type = 'PROMO'
    THEN cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4))
    ELSE cast(0 as decimal(28,4)) END) as double) AS promo_rev,
  cast(sum(cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4)))
      as double) AS total_rev,
  100.0 * cast(sum(CASE WHEN p_type = 'PROMO'
    THEN cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4))
    ELSE cast(0 as decimal(28,4)) END) as double)
    / cast(sum(cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4)))
      as double) AS promo_share
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q15-shaped: supplier(s) with the maximum quarterly revenue.
    The scalar subquery (max over the aggregate) becomes a 1-row
    broadcast cross join against the same aggregate — the revenue agg is
    computed once per branch on exact decimals, so the equality filter
    is deterministic. No window over an unpartitioned frame (which would
    single-task at scale)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    sup = _t(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_rev()).alias("total"))
    )
    mx = revenue.agg(F.max("total").alias("mx"))
    return (
        revenue.join(F.broadcast(mx), revenue.total == mx.mx)
        .join(sup, F.col("l_suppkey") == sup.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.col("total").cast("double").alias("total_rev"),
        )
        .orderBy("s_suppkey")
    )


_ORACLE_Q15 = """
WITH revenue AS (
  SELECT l_suppkey, sum(cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4))) AS total
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, cast(total as double) AS total_rev
FROM revenue JOIN supplier ON s_suppkey = l_suppkey
WHERE total = (SELECT max(total) FROM revenue)
ORDER BY s_suppkey
"""


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q16-shaped: distinct supplier counts per (brand, type,
    size), with lineitem's observed (part, supplier) pairs standing in
    for partsupp and negative-balance suppliers excluded via a broadcast
    ANTI join (the NOT IN). The distinct-pairs reduction happens BEFORE
    the part join, shrinking the fact side by the per-part fan-out."""
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad_sup = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        pairs.join(F.broadcast(bad_sup), pairs.l_suppkey == bad_sup.s_suppkey, "left_anti")
        .join(part, F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_ORACLE_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q17_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q17-shaped: revenue from orders below 20% of a part's
    average quantity. The correlated AVG subquery is rewritten as
    aggregate-then-join (one extra shuffle on partkey instead of a
    per-row subquery), and the `qty < 0.2 * avg` comparison is done in
    EXACT integer-scaled decimals (5*qty*cnt < sum_qty) so no float
    threshold can flip rows between engines."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    per_part = (
        li.groupBy(F.col("l_partkey").alias("ap"))
        .agg(F.sum(_dec("l_quantity")).alias("sq"), F.count(F.lit(1)).alias("cn"))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("ap"))
        .filter(_dec("l_quantity") * F.lit(5) * F.col("cn") < F.col("sq"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


_ORACLE_Q17 = """
WITH agg AS (
  SELECT l_partkey AS ap, sum(cast(l_quantity as decimal(18,2))) AS sq, count(*) AS cn
  FROM lineitem GROUP BY l_partkey
)
SELECT cast(sum(cast(l_extendedprice as decimal(18,2))) as double) / 7.0 AS avg_yearly,
       count(*) AS n_small
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN agg ON ap = l_partkey
WHERE p_brand = 'Brand#23'
  AND cast(l_quantity as decimal(18,2)) * 5 * cn < sq
"""


def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q19-shaped: revenue under three OR'd brand/size/quantity
    branches. The disjunction stays a single equi join on partkey with
    the OR residual as a post-join filter — Catalyst additionally
    extracts the common l_quantity/p_size bounds for pushdown; no
    union-of-three-joins rewrite needed."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    size = F.col("p_size")
    brand = F.col("p_brand")
    cond = (
        ((brand == "Brand#12") & size.between(1, 5) & qty.between(1, 11))
        | ((brand == "Brand#2") & size.between(1, 10) & qty.between(10, 20))
        | ((brand == "Brand#21") & size.between(1, 15) & qty.between(20, 30))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.sum(_rev()).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


_ORACLE_Q19 = """
SELECT
  cast(sum(cast(cast(l_extendedprice as decimal(18,2)) *
      (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4)))
      as double) AS revenue,
  count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q22-shaped: above-average-balance customers with no order
    since 1999, per market segment. The global-average threshold is a
    1-row broadcast cross join (sum-decimal / count, so both engines
    derive the identical double); the NOT EXISTS is a broadcast-able
    LEFT ANTI join on the pre-filtered orders projection."""
    cust = _t(spark, sf_dir, "customer")
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01"))
        .select("o_custkey")
    )
    pos = cust.filter(F.col("c_acctbal") > 0)
    thresh = pos.agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"))
        .orderBy("c_mktsegment")
    )


_ORACLE_Q22 = """
WITH thresh AS (
  SELECT cast(sum(cast(c_acctbal as decimal(18,2))) as double) / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment, count(*) AS numcust,
       cast(sum(cast(c_acctbal as decimal(18,2))) as double) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg_bal FROM thresh)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# profiling / warehouse-maintenance breadth: portable sketch, controlled
# moments, SCD2 history, explicit-values pivot
# ---------------------------------------------------------------------------

def q21_sole_latest_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q21-shaped: suppliers who were the STRICTLY latest shipper
    in multi-supplier finished orders — EXISTS (another supplier in the
    order) plus NOT EXISTS (another supplier shipping as late). Both
    correlations compile to hash joins on the orderkey with the
    supplier/shipdate predicates as residuals: a LEFT SEMI and a LEFT
    ANTI over the same shuffled key — no per-row subquery execution,
    and the three lineitem branches cost one scan each with only
    (orderkey, suppkey, shipdate) read."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    sup = _t(spark, sf_dir, "supplier")
    l1 = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2"))
    l3 = li.select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"),
                   F.col("l_shipdate").alias("d3"))
    return (
        l1.join(orders, l1.l_orderkey == orders.o_orderkey)
        .join(l2, (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
              "left_semi")
        .join(l3, (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3"))
              & (F.col("d3") >= F.col("l_shipdate")),
              "left_anti")
        .join(sup, F.col("l_suppkey") == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_ORACLE_Q21 = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate >= l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable KMV distinct sketch per event type, with the exact
    count riding the same dedup shuffle for error validation. k=32 <
    150 distinct users, so the estimator genuinely estimates."""
    from ndr_import_spark.operators.sketches import kmv_distinct

    ev = _events(spark, sf_dir)
    return kmv_distinct(ev, "user_id", ["event_type"], k=32, salt_buckets=8).orderBy("event_type")


_ORACLE_KMV = """
WITH pairs AS (
  SELECT DISTINCT event_type, user_id FROM events
), hashed AS (
  SELECT event_type,
    ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM pairs
), ranked AS (
  SELECT event_type, h,
    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed
), kmin AS (
  SELECT event_type, max(h) AS kth_min_hash,
         CAST(count(*) AS INT) AS sketch_k
  FROM ranked WHERE rn <= 32 GROUP BY event_type
), exact AS (
  SELECT event_type, count(*) AS exact_distinct FROM pairs GROUP BY event_type
)
SELECT kmin.event_type, exact_distinct, sketch_k, kth_min_hash,
  CASE WHEN sketch_k < 32 THEN CAST(sketch_k AS DOUBLE)
       ELSE (31.0 * 1152921504606846976.0) / CAST(kth_min_hash AS DOUBLE)
  END AS kmv_estimate
FROM kmin JOIN exact ON kmin.event_type = exact.event_type
ORDER BY kmin.event_type
"""


def q_grouped_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerically-controlled moment aggregates per market segment: mean,
    sample variance and stddev derived from EXACT decimal power sums
    (sum x, sum x²), collapsed to doubles only at the end — so both
    engines perform the identical final float arithmetic (sqrt is IEEE
    correctly-rounded, hence bit-stable) instead of each using its own
    streaming-variance recurrence. One map-side-combinable aggregation."""
    cust = _t(spark, sf_dir, "customer")
    d = F.col("c_acctbal").cast("decimal(18,2)")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d).alias("_s1"),
            F.sum((d * d).cast("decimal(38,4)")).alias("_s2"),
        )
        .select(
            "c_mktsegment",
            "n",
            (F.col("_s1").cast("double") / F.col("n")).alias("mean_bal"),
            (
                (F.col("_s2").cast("double")
                 - F.col("_s1").cast("double") * F.col("_s1").cast("double") / F.col("n"))
                / (F.col("n") - F.lit(1))
            ).alias("var_bal"),
            F.sqrt(
                (F.col("_s2").cast("double")
                 - F.col("_s1").cast("double") * F.col("_s1").cast("double") / F.col("n"))
                / (F.col("n") - F.lit(1))
            ).alias("std_bal"),
        )
        .orderBy("c_mktsegment")
    )


_ORACLE_MOMENTS = """
WITH sums AS (
  SELECT c_mktsegment, count(*) AS n,
    sum(cast(c_acctbal as decimal(18,2))) AS s1,
    sum(cast(cast(c_acctbal as decimal(18,2)) * cast(c_acctbal as decimal(18,2)) as decimal(38,4))) AS s2
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, n,
  cast(s1 as double) / n AS mean_bal,
  (cast(s2 as double) - cast(s1 as double) * cast(s1 as double) / n) / (n - 1) AS var_bal,
  sqrt((cast(s2 as double) - cast(s1 as double) * cast(s1 as double) / n) / (n - 1)) AS std_bal
FROM sums ORDER BY c_mktsegment
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension history from the purchase change log: each
    purchase opens a validity interval closed by the user's next
    purchase; event_id breaks timestamp ties deterministically."""
    from ndr_import_spark.operators.upsert import scd2_from_changes

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    return scd2_from_changes(
        ev, ["user_id"], "ts", "event_id", ["event_id", "value"]
    ).orderBy("user_id", "valid_from", "event_id")


_ORACLE_SCD2 = """
SELECT user_id, ts AS valid_from,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current,
  event_id, value
FROM events
WHERE event_type = 'purchase'
ORDER BY user_id, valid_from, event_id
"""


def q_pivot_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type matrix via pivot with EXPLICIT values — no
    driver-side distinct job to discover columns (which at 100 TB is a
    full extra scan), and a stable output schema for the sink."""
    ev = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    pv = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # absent (day, type) combos pivot to NULL; the contract is a dense count matrix
    return pv.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    ).orderBy("day").limit(14)


_ORACLE_PIVOT = """
SELECT CAST(ts AS DATE) AS day,
  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
FROM events
GROUP BY day ORDER BY day LIMIT 14
"""


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of the JSON
    `props` column and aggregate it per event type. `get_json_object`
    stays JVM-side (Jackson, whole-stage codegen) — no Python in the hot
    path; the alternative `from_json` with an explicit schema is the
    production choice when most keys are consumed, but for one key a
    path extraction avoids materialising the full struct."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_ORACLE_JSON = """
SELECT event_type,
  count(CAST(json_extract(props, '$.k') AS INT)) AS n_with_k,
  CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
  min(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
  max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS beyond ROLLUP: (flag, status), (flag), (status), ()
    in ONE aggregation pass with partial aggregation at every level —
    four separate groupBys would scan lineitem four times. grouping_id
    disambiguates the NULL-as-total rows from genuine NULL keys."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
               count(*) AS n_items
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                                (l_linestatus), ())
        ORDER BY gid, l_returnflag, l_linestatus
        """
    )


_ORACLE_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
  CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
  count(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                        (l_linestatus), ())
ORDER BY gid, l_returnflag, l_linestatus
"""


def q_trailing_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per event type, the trailing-7-day sum and
    row count over daily totals — a RANGE BETWEEN INTERVAL frame, which
    unlike a ROWS frame follows the calendar through gaps in the data.
    Partitioned by event_type so the window parallelises across groups
    (an unpartitioned time window would single-task at 100 TB); daily
    pre-aggregation shrinks the window input to days×types rows."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("day_value"))
    )
    daily.createOrReplaceTempView("ev_daily")
    return spark.sql(
        """
        SELECT event_type, day,
               CAST(day_value AS double) AS day_value,
               CAST(sum(day_value) OVER w AS double) AS trailing_7d_value,
               count(*) OVER w AS trailing_7d_days
        FROM ev_daily
        WINDOW w AS (PARTITION BY event_type ORDER BY CAST(day AS timestamp)
                     RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        ORDER BY event_type, day
        """
    )


_ORACLE_TRAILING = """
WITH ev_daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(CAST(value AS decimal(18,2))) AS day_value
  FROM events GROUP BY event_type, day
)
SELECT event_type, day,
       CAST(day_value AS double) AS day_value,
       CAST(sum(day_value) OVER w AS double) AS trailing_7d_value,
       count(*) OVER w AS trailing_7d_days
FROM ev_daily
WINDOW w AS (PARTITION BY event_type ORDER BY CAST(day AS timestamp)
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
ORDER BY event_type, day
"""


def q_melt_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long): part's numeric attributes melted into
    (attr, val) rows then profiled per attribute. melt is a Generate —
    purely narrow, no shuffle until the profiling aggregate."""
    part = _t(spark, sf_dir, "part")
    long = part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).melt(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="attr",
        valueColumnName="val",
    )
    return (
        long.groupBy("attr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
            F.sum(F.col("val").cast("decimal(18,2)")).cast("double").alias("sum_val"),
        )
        .orderBy("attr")
    )


_ORACLE_MELT = """
WITH long AS (
  SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
  UNION ALL
  SELECT p_partkey, 'p_retailprice' AS attr, CAST(p_retailprice AS DOUBLE) AS val FROM part
)
SELECT attr, count(*) AS n, min(val) AS min_val, max(val) AS max_val,
       CAST(sum(CAST(val AS decimal(18,2))) AS double) AS sum_val
FROM long GROUP BY attr ORDER BY attr
"""


_ERROR_MAPPING = """
klass: CustomerCheck
columns:
- column: c_name
  mappings:
  - field: name
    validates:
      presence: true
- column: c_mktsegment
  mappings:
  - field: machinery_free_segment
    replace:
      'MACHINERY': ''
    validates:
      presence: true
"""


def q_map_validation_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The validation ERROR CHANNEL through the oracle gate: a presence
    validation fires after a replace blanks MACHINERY segments, and the
    per-row `_errors` array is exploded and aggregated per message. At
    scale this is the quarantine path (`sinks.write_errors`) — errors are
    data, not exceptions, so one bad feed row cannot kill a 100 TB job.
    Reference parity: mapper validation semantics
    (lib/ndr_import/mapper.rb mapped_value/validate) with the gem's
    \"<field> can't be blank\" message."""
    from ndr_import_spark.operators.compiler import compile_records
    from ndr_import_spark.plans.yaml_loader import load_mapping

    customer = _t(spark, sf_dir, "customer")
    cells_df = customer.select(
        F.lit("customer.parquet").alias("source_file"),
        F.col("c_custkey").cast("long").alias("row_index"),
        F.array(
            F.col("c_name").cast("string"),
            F.col("c_mktsegment").cast("string"),
        ).alias("cells"),
    )
    records = compile_records(load_mapping(_ERROR_MAPPING), cells_df, strict=False)
    return (
        records.select("row_index", F.explode(F.col("_errors")).alias("error"))
        .groupBy("error")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("row_index").alias("first_row"),
        )
        .orderBy("error")
    )


_ORACLE_MAP_ERRORS = """
SELECT 'machinery_free_segment can''t be blank' AS error,
       count(*) AS n_rows, min(c_custkey) AS first_row
FROM customer
WHERE c_mktsegment = 'MACHINERY'
"""


def q_purchase_id_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: contiguous runs of event_ids within the purchase
    stream (the sequence-integrity check a feed-completeness monitor
    runs). The textbook rewrite (id − row_number constant per island)
    needs a window over the WHOLE stream in one global order — a single
    task at 100 TB. This implementation detects only the BOUNDARIES with
    two self anti joins (id−1 absent ⇒ run start; id+1 absent ⇒ run
    end — hash-partitioned shuffles, fully parallel) and ranks just the
    boundary rows to pair starts with ends: the unpartitioned window
    runs over n_islands rows, not n_events (for pathological
    alternating sequences swap the ranking for the chunked prefix-sum
    machinery in operators/prefix.py — same contract)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    ids = ev.select("event_id").distinct()
    succ = ids.select((F.col("event_id") + 1).alias("event_id"))
    pred = ids.select((F.col("event_id") - 1).alias("event_id"))
    starts = ids.join(succ, "event_id", "left_anti")  # id-1 missing
    ends = ids.join(pred, "event_id", "left_anti")    # id+1 missing
    w = Window.orderBy("event_id")
    s = starts.select(F.col("event_id").alias("run_start"),
                      F.row_number().over(w).alias("rn"))
    e = ends.select(F.col("event_id").alias("run_end"),
                    F.row_number().over(w).alias("rn"))
    runs = s.join(e, "rn").withColumn(
        "run_len", F.col("run_end") - F.col("run_start") + 1
    )
    return runs.agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("run_len").alias("longest_run"),
        F.sum(F.when(F.col("run_len") == 1, 1).otherwise(0)).alias("singletons"),
        F.min("run_start").alias("first_id"),
        F.max("run_end").alias("last_id"),
    )


_ORACLE_ISLANDS = """
WITH isl AS (
  SELECT event_id,
         event_id - row_number() OVER (ORDER BY event_id) AS grp
  FROM events WHERE event_type = 'purchase'
), runs AS (
  SELECT grp, count(*) AS run_len,
         min(event_id) AS run_start, max(event_id) AS run_end
  FROM isl GROUP BY grp
)
SELECT count(*) AS n_islands,
       max(run_len) AS longest_run,
       CAST(sum(CASE WHEN run_len = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singletons,
       min(run_start) AS first_id, max(run_end) AS last_id
FROM runs
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values — floor bucketing is a
    narrow map + one combinable aggregate (the profile primitive; at
    100 TB the same plan shape computes per-column histograms for query
    optimisation or drift monitoring in one pass)."""
    ev = _events(spark, sf_dir)
    width = 10.0
    bucket = F.floor(F.col("value") / F.lit(width)).cast("int")
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .withColumn("bucket_start", F.col("bucket") * F.lit(width))
        .orderBy("bucket")
    )


_ORACLE_HISTOGRAM = """
SELECT CAST(floor(value / 10.0) AS INT) AS bucket,
       count(*) AS n, min(value) AS lo, max(value) AS hi,
       CAST(floor(value / 10.0) AS INT) * 10.0 AS bucket_start
FROM events
GROUP BY bucket
ORDER BY bucket
"""


def q_nation_top_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group WITHOUT a window: max over an ordered struct
    (acctbal, −custkey) is ONE map-side-combinable aggregate — partial
    maxima merge associatively, so a hot nation costs nothing extra,
    versus a row_number window that must co-locate every row of the
    group before ranking. Tie-break is deterministic: highest balance,
    then lowest custkey."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    best = (
        cust.groupBy("c_nationkey")
        .agg(
            F.max(
                F.struct(
                    F.col("c_acctbal").alias("bal"),
                    (-F.col("c_custkey")).alias("neg_key"),
                )
            ).alias("top")
        )
        .select(
            "c_nationkey",
            (-F.col("top.neg_key")).cast("bigint").alias("top_custkey"),
            F.col("top.bal").alias("top_acctbal"),
        )
    )
    return (
        best.join(F.broadcast(nation), best.c_nationkey == nation.n_nationkey)
        .select("n_name", "top_custkey", "top_acctbal")
        .orderBy("n_name")
    )


_ORACLE_TOP_CUSTOMER = """
WITH ranked AS (
  SELECT c_nationkey, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
)
SELECT n_name, c_custkey AS top_custkey, c_acctbal AS top_acctbal
FROM ranked JOIN nation ON c_nationkey = n_nationkey
WHERE rn = 1
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# batch-shape / retrieval / overlap operators (operators/packing.py,
# operators/retrieval.py, operators/sketches.py)
# ---------------------------------------------------------------------------

# shared DuckDB fragment: engine-portable token list (matches
# textstats.tokens: lowercase, whitespace split, empties dropped)
_SQL_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

# shared DuckDB fragment: 16-bit md5 bucket of ('<salt>:' || doc_id) —
# identical arithmetic to packing.md5_bucket16
def _sql_bucket16(salt: str) -> str:
    nib = (
        "(CASE WHEN ascii(substr(md5('{s}:' || doc_id), {p}, 1)) >= 97 "
        "THEN ascii(substr(md5('{s}:' || doc_id), {p}, 1)) - 87 "
        "ELSE ascii(substr(md5('{s}:' || doc_id), {p}, 1)) - 48 END)"
    )
    return " + ".join(
        f"{nib.format(s=salt, p=p)} * {w}"
        for p, w in ((1, 4096), (2, 256), (3, 16), (4, 1))
    )


_ORACLE_DSIR_RESAMPLE = rf"""
WITH toks AS (
  SELECT doc_id, source, {_SQL_TOKS} AS t FROM documents
), uni AS (
  SELECT doc_id, source, unnest(t) AS g FROM toks
), big AS (
  SELECT doc_id, source,
         t[CAST(u.i AS INT)] || ' ' || t[CAST(u.i AS INT) + 1] AS g
  FROM toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
), grams AS (
  SELECT * FROM uni UNION ALL SELECT * FROM big
), fb AS (
  SELECT doc_id, source,
    CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 1024 AS b
  FROM grams
), rawf AS (SELECT * FROM fb WHERE source <> 'src0'),
tgtf AS (SELECT * FROM fb WHERE source = 'src0'),
dc AS (SELECT doc_id, b, count(*) AS c FROM rawf GROUP BY doc_id, b),
cq AS (SELECT b, count(*) AS cq FROM rawf GROUP BY b),
cp AS (SELECT b, count(*) AS cp FROM tgtf GROUP BY b),
nn AS (SELECT (SELECT count(*) FROM rawf) AS nq,
              (SELECT count(*) FROM tgtf) AS np),
llr AS (
  SELECT cq.b,
    CAST(round(ln(
      CAST((coalesce(cp.cp, 0) + 1) * (nn.nq + 1024) AS DOUBLE)
      / CAST((cq.cq + 1) * (nn.np + 1024) AS DOUBLE)
    ), 9) AS DECIMAL(20,9)) AS llr
  FROM cq LEFT JOIN cp USING (b) CROSS JOIN nn
), sc AS (
  SELECT doc_id, sum(c * llr) AS log_weight
  FROM dc JOIN llr USING (b) GROUP BY doc_id
), gk AS (
  SELECT doc_id, log_weight,
    log_weight + CAST(round(-ln(-ln(
      (({_sql_bucket16('dsir')}) + 0.5) / 65536.0
    )), 9) AS DECIMAL(20,9)) AS gumbel_key
  FROM sc
)
SELECT CAST(row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS INT)
         AS rank,
       doc_id, log_weight, gumbel_key
FROM gk ORDER BY gumbel_key DESC, doc_id LIMIT 50
"""


_ORACLE_HLL_DISTINCT = f"""
WITH keys AS (
  SELECT 'custkey' AS key_family, CAST(o_custkey AS VARCHAR) AS k
  FROM orders
  UNION ALL
  SELECT 'partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'token', t.tok FROM (
    SELECT unnest({_SQL_TOKS}) AS tok FROM documents
  ) t
), h AS (
  SELECT key_family,
    CAST(('0x' || substring(md5(k), 1, 15)) AS BIGINT) AS hv
  FROM keys
), regs AS (
  SELECT key_family, hv >> 48 AS idx,
    max(CASE WHEN (hv & 281474976710655) = 0 THEN 49
         ELSE 48 - length(bin(hv & 281474976710655)) + 1 END) AS reg
  FROM h GROUP BY key_family, idx
), agg AS (
  SELECT key_family,
    sum(power(2.0, -reg)) AS s,
    count(*) AS nz
  FROM regs GROUP BY key_family
), est AS (
  SELECT key_family,
    CAST('12098218.894406674' AS DOUBLE)
      / (s + (4096 - nz)) AS raw,
    4096 - nz AS zeros
  FROM agg
), fixed AS (
  SELECT key_family,
    CASE WHEN raw <= {2.5 * 4096} AND zeros > 0
      THEN 4096.0 * ln(4096.0 / zeros) ELSE raw END AS e,
    zeros
  FROM est
), ex AS (
  SELECT key_family, count(DISTINCT k) AS exact_distinct FROM keys
  GROUP BY key_family
)
SELECT f.key_family, ex.exact_distinct,
  round(f.e, 4) AS hll_estimate,
  CAST(f.zeros AS BIGINT) AS empty_registers,
  round(abs(round(f.e, 4) - CAST(ex.exact_distinct AS DOUBLE))
        / CAST(ex.exact_distinct AS DOUBLE), 4) AS rel_err
FROM fixed f JOIN ex USING (key_family)
ORDER BY key_family
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-pretraining batch
    assembly stage): documents ordered within md5 hash shards, token
    streams concatenated, cut every 512 tokens; each document lands in
    the pack holding its first token. Per-pack summary out. The ONLY wide
    op is a running-sum window partitioned by the uniform shard — shard
    count is the 100 TB parallelism knob, and assignment is bit-identical
    on any cluster size."""
    from ndr_import_spark.operators.packing import pack_sequences
    from ndr_import_spark.operators.textstats import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    packed = pack_sequences(
        docs, "n_tok", capacity=512, num_shards=8, salt="pack"
    )
    return (
        packed.groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("shard", "pack_id")
    )


def _oracle_pack_sequences() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, len({_SQL_TOKS}) AS n_tok,
         ({_sql_bucket16("pack")}) % 8 AS shard
  FROM documents
), cum AS (
  SELECT shard, doc_id, n_tok,
    COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
  FROM tok
)
SELECT shard, CAST(cumb // 512 AS BIGINT) AS pack_id, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens, min(doc_id) AS first_doc
FROM cum GROUP BY shard, cumb // 512 ORDER BY shard, pack_id
"""


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pad-to-power-of-two batching waste profile: per length bucket
    (smallest power of two >= token count, computed with pure integer
    bit-length arithmetic — no float log2), document count, real tokens,
    padded tokens and waste fraction. The evidence table for choosing
    packing over padding. Narrow projection + one tiny aggregate."""
    from ndr_import_spark.operators.packing import length_bucket_stats
    from ndr_import_spark.operators.textstats import token_count

    docs = _t(spark, sf_dir, "documents").select(
        token_count(F.col("text")).alias("n_tok")
    )
    return length_bucket_stats(docs, "n_tok")


_ORACLE_LENGTH_BUCKETS = f"""
WITH t AS (
  -- bucket clamps to >= 1 (a zero-token doc still pads to a 1-slot);
  -- sum_tokens must stay RAW so waste counts the empty doc's padding
  SELECT len({_SQL_TOKS}) AS n_tok,
         greatest(len({_SQL_TOKS}), 1) AS n_clamped
  FROM documents
), b AS (
  SELECT n_tok,
    CASE WHEN n_clamped = 1 THEN 1
         ELSE (1::BIGINT << length(bin(n_clamped - 1))) END AS bucket
  FROM t
), g AS (
  SELECT bucket, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS sum_tokens
  FROM b GROUP BY bucket
)
SELECT bucket, n_docs, sum_tokens,
  CAST(bucket * n_docs AS BIGINT) AS padded_tokens,
  CAST(bucket * n_docs - sum_tokens AS BIGINT) AS waste_tokens,
  round(CAST(bucket * n_docs - sum_tokens AS DOUBLE) / (bucket * n_docs), 5)
    AS waste_frac
FROM g ORDER BY bucket
"""


_BM25_TERMS = ["spark", "hash", "window"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed query over the
    corpus — targeted corpus search for curation. The corpus-side explode
    is filtered to the query terms BEFORE the (doc, term) shuffle; corpus
    scalars (N, avgdl) ride a 1-row broadcast; top-k is the bounded
    two-phase rank. Ranking key is (score rounded 6dp DESC, doc_id) so
    the cut is engine-deterministic."""
    from ndr_import_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=15)


def _oracle_bm25() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH dl AS (
  SELECT doc_id, len({_SQL_TOKS}) AS dl FROM documents
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ({terms}) GROUP BY doc_id, tok
), dft AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
), scored AS (
  SELECT t.doc_id, CAST(count(*) AS INT) AS n_terms_hit,
    round(sum(
      ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
      * t.tf * 2.2
      / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
    ), 6) AS score
  FROM tf t JOIN dft d USING (tok) JOIN dl l USING (doc_id) CROSS JOIN stats s
  GROUP BY t.doc_id
)
SELECT doc_id, n_terms_hit, score FROM scored
ORDER BY score DESC, doc_id LIMIT 15
"""


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-wise global shuffle (r8) — the data-loader
    order for multi-epoch training WITHOUT materializing a permutation:
    epoch e's order is simply sort by (md5('epoch' || e || ':' || id),
    id), a distributed sort any cluster size reproduces bit-identically.
    Per epoch the query emits the head of the permutation plus a
    position-weighted checksum sum(position * doc_id) over the WHOLE
    permutation — so the oracle pins every position of every epoch, not
    just the first page, and any two epochs' orders differ. 100 TB
    shape: one sort per epoch (what any loader must do) + one
    combinable aggregate; nothing else."""
    epochs = spark.range(4).select(F.col("id").cast("int").alias("epoch"))
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.crossJoin(F.broadcast(epochs)).withColumn(
        "_h",
        F.md5(F.concat(F.lit("epoch"), F.col("epoch"), F.lit(":"),
                       F.col("doc_id"))),
    )
    w = Window.partitionBy("epoch").orderBy("_h", "doc_id")
    pos = keyed.withColumn("position", F.row_number().over(w))
    return (
        pos.groupBy("epoch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("position").cast("long") * F.col("doc_id"))
            .alias("perm_checksum"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("position") <= 5,
                                   F.struct("position", "doc_id"))
                        )
                    ),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("head5"),
        )
        .orderBy("epoch")
    )


_ORACLE_EPOCH_SHUFFLE = """
WITH e AS (SELECT unnest(range(4)) AS epoch),
keyed AS (
  SELECT cast(e.epoch as int) AS epoch, d.doc_id,
         md5('epoch' || e.epoch || ':' || d.doc_id) AS h
  FROM documents d, e
), pos AS (
  SELECT epoch, doc_id,
    row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS position
  FROM keyed
)
SELECT epoch, count(*) AS n_docs,
  CAST(sum(position * doc_id) AS BIGINT) AS perm_checksum,
  string_agg(CASE WHEN position <= 5 THEN cast(doc_id as varchar) END,
             ',' ORDER BY position) AS head5
FROM pos GROUP BY epoch ORDER BY epoch
"""


def q_lsh_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter planner (r8): the s-curve table every
    banded-dedup deployment is tuned from. For each (bands b, rows r)
    split of a 128-hash signature and each similarity s on a 0.1 grid,
    the candidate probability 1 - (1 - s^r)^b and the threshold
    (1/b)^(1/r) where the curve crosses ~0.5 (Leskovec/Rajaraman/Ullman,
    Mining of Massive Datasets §3.4). Pure closed-form arithmetic on a
    literal grid — no data read at all — but exactly the table that
    justifies operators/dedup.py's default banding, now oracle-pinned
    so a banding change has to change this table too."""
    b_r = spark.createDataFrame(
        [(128 // r, r) for r in (2, 4, 8, 16)], "bands int, rows int"
    )
    s_grid = spark.range(1, 10).select(
        (F.col("id") / 10.0).alias("s")
    )
    grid = b_r.crossJoin(s_grid)
    p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.col("s"), F.col("rows")), F.col("bands")
    )
    thr = F.pow(F.lit(1.0) / F.col("bands"), F.lit(1.0) / F.col("rows"))
    return grid.select(
        "bands", "rows",
        F.round(F.col("s"), 1).alias("s"),
        F.round(p, 6).alias("p_candidate"),
        F.round(thr, 6).alias("threshold"),
    ).orderBy("bands", "s")


_ORACLE_LSH_PLANNER = """
WITH br AS (
  SELECT 128 // r AS bands, r AS rows
  FROM unnest([2, 4, 8, 16]) AS t(r)
), s AS (SELECT i / 10.0 AS s FROM unnest(range(1, 10)) AS t(i))
SELECT bands, rows, round(s, 1) AS s,
  round(1.0 - pow(1.0 - pow(s, rows), bands), 6) AS p_candidate,
  round(pow(1.0 / bands, 1.0 / rows), 6) AS threshold
FROM br, s ORDER BY bands, s
"""


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (operators/retrieval
    rrf_fuse, Cormack et al. 2009, r8): the BM25 lexical top-20 for the
    fixed query terms fused with the embedding-cosine top-20 for query
    vector 0 (vec_id == doc_id in the synthetic corpus), score(d) =
    1/(60+r_bm25) + 1/(60+r_cos) with missing-list terms 0, final
    (score 9dp DESC, doc_id) top-15 — the standard RAG retrieval
    combiner. Both rankers are already engine-deterministic (6dp / 5dp
    rounded scores, id tie-breaks), the fusion joins two <=20-row
    frames (sketch-sized regardless of corpus scale), and the oracle
    replays both rankers AND the fusion arithmetic literally."""
    from ndr_import_spark.operators.retrieval import bm25_topk, rrf_fuse
    from ndr_import_spark.operators.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    bm = bm25_topk(docs, _BM25_TERMS, k=20)
    wbm = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    bm_ranked = bm.select(
        "doc_id", F.row_number().over(wbm).alias("rank")
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    cos_ranked = cosine_topk(emb, q0, k=20).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return rrf_fuse(
        bm_ranked, cos_ranked, id_col="doc_id", topk=15
    ).select(
        "doc_id",
        F.col("rank_a").alias("bm_rank"),
        F.col("rank_b").alias("cos_rank"),
        "rrf_score",
        "fused_rank",
    ).orderBy("fused_rank")


def _oracle_hybrid_rrf() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH dl AS (
  SELECT doc_id, len({_SQL_TOKS}) AS dl FROM documents
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ({terms}) GROUP BY doc_id, tok
), dft AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
), bscored AS (
  SELECT t.doc_id,
    round(sum(
      ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
      * t.tf * 2.2
      / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
    ), 6) AS score
  FROM tf t JOIN dft d USING (tok) JOIN dl l USING (doc_id) CROSS JOIN stats s
  GROUP BY t.doc_id
), bm AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
    AS rank_a
  FROM bscored ORDER BY score DESC, doc_id LIMIT 20
), emb AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
cscored AS (
  SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.v, q.qv) /
               (sqrt(list_dot_product(e.v, e.v))
                * sqrt(list_dot_product(q.qv, q.qv))), 5) AS cos
  FROM emb e, q WHERE e.vec_id <> 0
), cs AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT)
    AS rank_b
  FROM cscored ORDER BY cos DESC, doc_id LIMIT 20
), fused AS (
  SELECT COALESCE(bm.doc_id, cs.doc_id) AS doc_id, rank_a, rank_b,
    round(COALESCE(1.0 / (60 + rank_a), 0.0)
          + COALESCE(1.0 / (60 + rank_b), 0.0), 9) AS rrf_score
  FROM bm FULL OUTER JOIN cs ON bm.doc_id = cs.doc_id
)
SELECT doc_id, rank_a AS bm_rank, rank_b AS cos_rank, rrf_score,
  CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
    AS fused_rank
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 15
"""


def q_retrieval_self_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Known-item retrieval eval (operators/retrieval.py
    bm25_self_retrieval): each of the first 8 docs queries the corpus
    with its own first 6 tokens through the BATCHED BM25 scorer
    (bm25_batch_scores — one corpus scan for all queries, shuffle bounded
    by query-term document frequency); the metric is the rank of the doc
    itself and its reciprocal. Deterministic (score 6dp DESC, doc_id)
    ranking; self_rank drifting from ~1 flags tokenisation/scoring bugs
    absolute scores hide."""
    from ndr_import_spark.operators.retrieval import bm25_self_retrieval

    docs = _t(spark, sf_dir, "documents")
    return bm25_self_retrieval(docs).orderBy("query_id")


_ORACLE_RETRIEVAL_SELF_EVAL = f"""
WITH dl AS (
  SELECT doc_id, len({_SQL_TOKS}) AS dl FROM documents
), stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
q AS (
  SELECT doc_id AS query_id, unnest(({_SQL_TOKS})[1:6]) AS tok
  FROM documents WHERE doc_id < 8
), toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN (SELECT DISTINCT tok FROM q) GROUP BY doc_id, tok
), dft AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
), scored AS (
  SELECT q.query_id, t.doc_id,
    round(sum(
      ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
      * t.tf * 2.2
      / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
    ), 6) AS score
  FROM q JOIN tf t USING (tok) JOIN dft d USING (tok)
  JOIN dl l ON l.doc_id = t.doc_id CROSS JOIN stats s
  GROUP BY q.query_id, t.doc_id
), ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rnk
  FROM scored
)
SELECT query_id, CAST(rnk AS INT) AS self_rank, round(1.0 / rnk, 5) AS rr
FROM ranked WHERE doc_id = query_id ORDER BY query_id
"""


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage report (operators/corpus.py
    split_leakage_report): near-dup pairs (production banded MinHash,
    verified >= 0.5) classified by the hash_split labels of their
    endpoints — cross-split rows ARE the leakage, max_jaccard sizes the
    worst offender. Composes the shipping split and shipping dedup
    definitions unchanged."""
    from ndr_import_spark.operators.corpus import split_leakage_report

    docs = _t(spark, sf_dir, "documents")
    return split_leakage_report(docs).orderBy("split_a", "split_b")


def _oracle_split_leakage() -> str:
    pairs_sql = _oracle_minhash(thr=0.5)
    return f"""
WITH pr AS MATERIALIZED (SELECT * FROM ({pairs_sql}) _p),
h AS (
  SELECT doc_id, md5('split:' || doc_id) AS hx FROM documents
), nibs AS (
  SELECT doc_id,
    (CASE WHEN ascii(substr(hx,1,1)) >= 97 THEN ascii(substr(hx,1,1)) - 87 ELSE ascii(substr(hx,1,1)) - 48 END) * 4096 +
    (CASE WHEN ascii(substr(hx,2,1)) >= 97 THEN ascii(substr(hx,2,1)) - 87 ELSE ascii(substr(hx,2,1)) - 48 END) * 256 +
    (CASE WHEN ascii(substr(hx,3,1)) >= 97 THEN ascii(substr(hx,3,1)) - 87 ELSE ascii(substr(hx,3,1)) - 48 END) * 16 +
    (CASE WHEN ascii(substr(hx,4,1)) >= 97 THEN ascii(substr(hx,4,1)) - 87 ELSE ascii(substr(hx,4,1)) - 48 END) AS bucket
  FROM h
), lab AS (
  SELECT doc_id, CASE WHEN bucket % 10 < 8 THEN 'train'
                      WHEN bucket % 10 < 9 THEN 'val'
                      ELSE 'test' END AS split
  FROM nibs
)
SELECT least(a.split, b.split) AS split_a,
       greatest(a.split, b.split) AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       max(pr.jaccard) AS max_jaccard
FROM pr JOIN lab a ON a.doc_id = pr.id_a JOIN lab b ON b.doc_id = pr.id_b
GROUP BY 1, 2 ORDER BY split_a, split_b
"""


def q_vocab_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between sources, estimated from
    portable KMV sketches (Beyer et al. 2007): per-source k-min sketch of
    the distinct-token hash set, pair Jaccard from the k smallest of the
    sketch union — plus the exact Jaccard the estimator is validated
    against. At 100 TB the raw vocabularies never meet: only k-row
    sketches are joined."""
    from ndr_import_spark.operators.sketches import kmv_jaccard
    from ndr_import_spark.operators.textstats import tokens

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1", "src2")
    )
    toks = docs.select(
        F.col("source"), F.explode(tokens(F.col("text"))).alias("tok")
    )
    return kmv_jaccard(toks, "tok", "source", k=128).orderBy(
        "split_a", "split_b"
    )


_ORACLE_VOCAB_OVERLAP = f"""
WITH pairs AS (
  SELECT DISTINCT source AS split, unnest({_SQL_TOKS}) AS tok
  FROM documents WHERE source IN ('src0', 'src1', 'src2')
), hashed AS (
  SELECT split, ('0x' || substr(md5('kmv:' || tok), 1, 15))::BIGINT AS h
  FROM pairs
), ranked AS (
  SELECT split, h, row_number() OVER (PARTITION BY split ORDER BY h) AS rn
  FROM hashed
), sketch AS (
  SELECT split, h FROM ranked WHERE rn <= 128
), names AS (
  SELECT x.split AS split_a, y.split AS split_b
  FROM (SELECT DISTINCT split FROM sketch) x,
       (SELECT DISTINCT split FROM sketch) y
  WHERE x.split < y.split
), grams AS (  -- per-pair union with membership flags
  SELECT split_a, split_b, h,
         max(in_a) AS in_a, max(in_b) AS in_b
  FROM (
    SELECT n.split_a, n.split_b, s.h, 1 AS in_a, 0 AS in_b
    FROM names n JOIN sketch s ON s.split = n.split_a
    UNION ALL
    SELECT n.split_a, n.split_b, s.h, 0 AS in_a, 1 AS in_b
    FROM names n JOIN sketch s ON s.split = n.split_b
  ) GROUP BY split_a, split_b, h
), est AS (
  SELECT split_a, split_b,
         CAST(count(*) AS INT) AS k_used,
         CAST(sum(in_a * in_b) AS INT) AS n_both
  FROM (
    SELECT *, row_number() OVER (PARTITION BY split_a, split_b ORDER BY h) AS rn
    FROM grams
  ) WHERE rn <= 128 GROUP BY split_a, split_b
), sizes AS (
  SELECT split, count(*) AS n FROM pairs GROUP BY split
), inter AS (
  SELECT a.split AS split_a, b.split AS split_b, count(*) AS n_inter
  FROM pairs a JOIN pairs b ON a.tok = b.tok AND a.split < b.split
  GROUP BY a.split, b.split
)
SELECT e.split_a, e.split_b, e.k_used, e.n_both,
  round(CAST(e.n_both AS DOUBLE) / e.k_used, 6) AS jaccard_est,
  round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
        / (sa.n + sb.n - COALESCE(i.n_inter, 0)), 6) AS exact_jaccard
FROM est e
JOIN sizes sa ON sa.split = e.split_a
JOIN sizes sb ON sb.split = e.split_b
LEFT JOIN inter i ON i.split_a = e.split_a AND i.split_b = e.split_b
ORDER BY e.split_a, e.split_b
"""


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 mixture design per source: sampling weights
    proportional to sqrt(source tokens), expected token draws from a
    fixed budget, oversample ratios. sqrt (not pow) so the weights are
    IEEE-correctly-rounded — bit-identical on every engine. One
    aggregate to source cardinality; the corpus never shuffles."""
    from ndr_import_spark.operators.corpus import temperature_mix_weights
    from ndr_import_spark.operators.textstats import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "source", token_count(F.col("text")).alias("n_tok")
    )
    return temperature_mix_weights(
        docs, "source", "n_tok", token_budget=1_000_000
    ).orderBy("source")


_ORACLE_MIX_TEMPERATURE = f"""
WITH t AS (
  SELECT source, len({_SQL_TOKS}) AS n_tok FROM documents
), sizes AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM t GROUP BY source
), z AS (
  SELECT CAST(sum(CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6)
                       AS DECIMAL(28,6))) AS DOUBLE) AS z
  FROM sizes
)
SELECT source, n_tokens,
  round(sqrt(CAST(n_tokens AS DOUBLE)) / z, 6) AS weight,
  round(sqrt(CAST(n_tokens AS DOUBLE)) / z * 1000000.0, 2) AS expected_tokens,
  round(round(sqrt(CAST(n_tokens AS DOUBLE)) / z * 1000000.0, 2) / n_tokens, 6)
    AS oversample_ratio
FROM sizes CROSS JOIN z ORDER BY source
"""


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage probe: per-source out-of-vocabulary rate
    against the corpus-global top-200 token vocabulary (frequency desc,
    token asc ties). One explode feeds both aggregates; the elected
    vocab is broadcast — the (source, token) frame never joins anything
    corpus-sized."""
    from ndr_import_spark.operators.corpus import oov_rate

    docs = _t(spark, sf_dir, "documents")
    return oov_rate(docs, vocab_size=200)


_ORACLE_OOV_RATE = f"""
WITH toks AS (
  SELECT source, unnest({_SQL_TOKS}) AS tok FROM documents
), vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ORDER BY n DESC, tok ASC LIMIT 200
  )
), per AS (
  SELECT source, tok, count(*) AS n FROM toks GROUP BY source, tok
)
SELECT source,
  CAST(sum(n) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab) THEN n ELSE 0 END)
       AS BIGINT) AS n_oov,
  round(CAST(sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab) THEN n ELSE 0 END)
             AS DOUBLE) / sum(n), 6) AS oov_rate
FROM per GROUP BY source ORDER BY source
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus maintenance: diff two simulated crawl
    snapshots (old = ids ∉ 17k+3, new = ids ∉ 19k+5, every 7th doc's
    text revised) by content hash. Both sides project to (id, md5) at
    scan — full rows never shuffle — then ONE full-outer equi-join on
    the id, co-locatable via bucketing at 100 TB. Per-status counts +
    id ranges out."""
    from ndr_import_spark.operators.snapshot import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 3)
    new = docs.filter(F.col("doc_id") % 19 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")),
    )
    d = snapshot_diff(old, new)
    return (
        d.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("status")
    )


_ORACLE_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 17 <> 3
), new AS (
  SELECT doc_id,
    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS h
  FROM documents WHERE doc_id % 19 <> 5
), j AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
    CASE WHEN o.h IS NULL THEN 'added'
         WHEN n.h IS NULL THEN 'removed'
         WHEN o.h <> n.h THEN 'changed'
         ELSE 'unchanged' END AS status
  FROM old o FULL JOIN new n ON o.doc_id = n.doc_id
)
SELECT status, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM j GROUP BY status ORDER BY status
"""


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token-ratio quality signal rolled up per language: average
    TTR (5dp), low-diversity document count (TTR < 0.5 — boilerplate
    suspects), total docs. Narrow per-doc arithmetic + one tiny
    aggregate; complements the n-gram repetition score."""
    from ndr_import_spark.operators.textstats import type_token_ratio

    docs = _t(spark, sf_dir, "documents")
    # per-doc TTR rounded then held as exact decimal so the group SUM is
    # order-independent (float sums are not); double division only at the end
    per_doc = docs.select(
        "lang",
        F.round(type_token_ratio(F.col("text")), 9)
        .cast("decimal(12,9)")
        .alias("ttr"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ttr").alias("_s"),
            F.sum(F.when(F.col("ttr") < 0.5, 1).otherwise(0)).alias("n_low_diversity"),
        )
        .select(
            "lang",
            "n_docs",
            F.round(
                F.col("_s").cast("double") / F.col("n_docs").cast("double"), 5
            ).alias("avg_ttr"),
            "n_low_diversity",
        )
        .orderBy("lang")
    )


_ORACLE_LEXICAL_DIVERSITY = f"""
WITH t AS (
  SELECT lang, {_SQL_TOKS} AS toks FROM documents
), ttr AS (
  SELECT lang,
    CAST(round(CASE WHEN len(toks) > 0
          THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
          ELSE 1.0 END, 9) AS DECIMAL(12,9)) AS ttr
  FROM t
)
SELECT lang, count(*) AS n_docs,
  round(CAST(sum(ttr) AS DOUBLE) / count(*), 5) AS avg_ttr,
  CAST(sum(CASE WHEN ttr < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_low_diversity
FROM ttr GROUP BY lang ORDER BY lang
"""


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile (n/mean/std/min/max per coordinate)
    — the normalisation-design pass before index build or quantisation.
    One posexplode into a width-keyed aggregate (64 keys, each with
    exactly n rows — skew-proof by construction); mean/std from exact
    decimal power sums collapsed to doubles at the end."""
    from ndr_import_spark.operators.similarity import embedding_dim_stats

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_dim_stats(emb)


_ORACLE_DIM_STATS = """
WITH flat AS (
  SELECT unnest(range(0, len(embedding))) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), r AS (
  SELECT dim, v, CAST(round(v, 7) AS DECIMAL(20,7)) AS rv FROM flat
), sums AS (
  SELECT dim, count(*) AS n,
    sum(rv) AS s1,
    sum(CAST(rv * rv AS DECIMAL(38,14))) AS s2,
    round(min(v), 7) AS min_v, round(max(v), 7) AS max_v
  FROM r GROUP BY dim
)
SELECT CAST(dim AS INT) AS dim, n,
  round(CAST(s1 AS DOUBLE) / n, 6) AS mean_v,
  round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
             / (n - 1)), 6) AS std_v,
  min_v, max_v
FROM sums ORDER BY dim
"""


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality signal rolled up per language: per-doc
    mean unigram surprisal under the corpus's own unigram distribution
    (CCNet-style filter stand-in), then per-lang decimal-sum average and
    both tail counts. The (doc, token) stream equi-joins the probability
    table on the token — keyed, scalable; only the 1-row token total is
    broadcast."""
    from ndr_import_spark.operators.corpus import unigram_surprisal

    docs = _t(spark, sf_dir, "documents")
    per_doc = unigram_surprisal(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    s = F.col("surprisal").cast("decimal(20,6)")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(s).cast("double") / F.count(F.lit(1)).cast("double"), 5
            ).alias("avg_surprisal"),
            F.sum(F.when(F.col("surprisal") < 4.0, 1).otherwise(0)).alias(
                "n_low"
            ),
            F.sum(F.when(F.col("surprisal") > 7.0, 1).otherwise(0)).alias(
                "n_high"
            ),
        )
        .orderBy("lang")
    )


_ORACLE_SURPRISAL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), counts AS (
  SELECT tok, count(*) AS n FROM toks GROUP BY tok
), total AS (
  SELECT sum(n) AS total FROM counts
), lnp AS (
  SELECT tok,
    CAST(round(-ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)), 9)
         AS DECIMAL(20,9)) AS nlp
  FROM counts CROSS JOIN total
), per_doc AS (
  SELECT t.doc_id, count(*) AS n_tokens,
    round(CAST(sum(l.nlp) AS DOUBLE) / count(*), 6) AS surprisal
  FROM toks t JOIN lnp l USING (tok) GROUP BY t.doc_id
), with_empty AS (
  SELECT d.doc_id, d.lang,
    COALESCE(p.surprisal, 0.0) AS surprisal
  FROM documents d LEFT JOIN per_doc p USING (doc_id)
)
SELECT lang, count(*) AS n_docs,
  round(CAST(sum(CAST(surprisal AS DECIMAL(20,6))) AS DOUBLE) / count(*), 5)
    AS avg_surprisal,
  CAST(sum(CASE WHEN surprisal < 4.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
  CAST(sum(CASE WHEN surprisal > 7.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM with_empty GROUP BY lang ORDER BY lang
"""


def q_event_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: per (event_type, hour), z-score of
    the hourly event count against the trailing-24-hour baseline
    (calendar RANGE frame EXCLUDING the current hour, so the anomaly
    cannot suppress its own baseline). Counts are integers, so the
    baseline power sums are EXACT bigints — the z collapses to double in
    one final expression, bit-stable on any engine. Hourly
    pre-aggregation shrinks the window input to hours×types rows;
    partitioned by event_type so the window parallelises."""
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    hourly.createOrReplaceTempView("ev_hourly")
    return spark.sql(
        """
        WITH base AS (
          SELECT event_type, hour, n,
                 count(*) OVER w AS base_hours,
                 sum(n) OVER w AS s1,
                 sum(n * n) OVER w AS s2
          FROM ev_hourly
          WINDOW w AS (PARTITION BY event_type ORDER BY hour
                       RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                                 AND INTERVAL 1 HOUR PRECEDING)
        ), stats AS (
          -- CASE evaluates lazily, so the divisions only run when
          -- base_hours >= 6 (hence base_hours - 1 > 0)
          SELECT event_type, hour, n, base_hours,
                 CASE WHEN base_hours >= 6
                      THEN CAST(s1 AS DOUBLE) / base_hours END AS mu,
                 CASE WHEN base_hours >= 6
                      THEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / base_hours)
                           / (base_hours - 1) END AS var
          FROM base
        )
        SELECT event_type, hour, n, base_hours,
               round(CASE WHEN var > 0 THEN (n - mu) / sqrt(var) END, 5) AS z,
               CASE WHEN var > 0 AND abs((n - mu) / sqrt(var)) > 2.0
                    THEN 1 ELSE 0 END AS is_anomaly
        FROM stats ORDER BY event_type, hour
        """
    )


_ORACLE_EVENT_ANOMALIES = """
WITH ev_hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY event_type, hour
), base AS (
  SELECT event_type, hour, n,
         count(*) OVER w AS base_hours,
         CAST(sum(n) OVER w AS BIGINT) AS s1,
         CAST(sum(n * n) OVER w AS BIGINT) AS s2
  FROM ev_hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                         AND INTERVAL 1 HOUR PRECEDING)
), stats AS (
  SELECT event_type, hour, n, base_hours,
         CASE WHEN base_hours >= 6
              THEN CAST(s1 AS DOUBLE) / base_hours END AS mu,
         CASE WHEN base_hours >= 6
              THEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / base_hours)
                   / (base_hours - 1) END AS var
  FROM base
)
SELECT event_type, hour, n, base_hours,
       round(CASE WHEN var > 0 THEN (n - mu) / sqrt(var) END, 5) AS z,
       CASE WHEN var > 0 AND abs((n - mu) / sqrt(var)) > 2.0
            THEN 1 ELSE 0 END AS is_anomaly
FROM stats ORDER BY event_type, hour
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: a simulated ingest batch (ids ≡ 7 mod 10)
    probed against the existing corpus — existing×existing pairs are
    never re-derived, and with the shared permutation salt a production
    deployment probes a STORED (band, key) index instead of re-shingling
    the corpus. Returns verified (new_id, old_id, jaccard) pairs."""
    from ndr_import_spark.operators.dedup import incremental_neardup_pairs

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    old = docs.filter(F.col("doc_id") % 10 != 7)
    return incremental_neardup_pairs(
        old, new, k=16, bands=4, verify_threshold=0.5
    ).orderBy("new_id", "old_id")


def _oracle_incremental_dedup(
    k: int = 16, bands: int = 4, shingle_n: int = 5, thr: float = 0.5
) -> str:
    from ndr_import_spark.operators.dedup import MINHASH_P, minhash_perm_consts

    norm = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    sh = (
        f"list_distinct(list_transform(range(1, greatest(length({norm}) - {shingle_n} + 1, 1) + 1), "
        f"i -> substring({norm}, i, {shingle_n})))"
    )
    rows = k // bands
    consts = minhash_perm_consts(k, "mh")
    hs = (
        "list_distinct(list_transform(sh, s -> "
        "cast(('0x' || substring(md5(s), 1, 15)) as bigint) "
        f"& {(1 << 30) - 1}))"
    )
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in consts
    )
    band_keys = " UNION ALL ".join(
        f"SELECT doc_id, is_new, {b} AS band, "
        f"md5(array_to_string(sig[{b * rows + 1}:{(b + 1) * rows}], ',')) AS key FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH shingled AS (
  SELECT doc_id, CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END AS is_new,
         {sh} AS sh
  FROM documents
), hashed AS (
  SELECT doc_id, is_new, {hs} AS hs FROM shingled
), sigs AS (
  SELECT doc_id, is_new, [{sig_items}] AS sig FROM hashed
), banded AS ({band_keys}),
okb AS (
  SELECT band, key FROM banded GROUP BY band, key HAVING count(*) <= 1024
), bandedc AS (
  SELECT b.* FROM banded b JOIN okb USING (band, key)
),
pairs AS (
  SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS old_id
  FROM bandedc l JOIN bandedc r
    ON l.band = r.band AND l.key = r.key AND l.is_new = 1 AND r.is_new = 0
)
SELECT p.new_id, p.old_id,
  round(cast(len(list_intersect(a.hs, b.hs)) as double) /
        len(list_distinct(list_concat(a.hs, b.hs))), 5) AS jaccard
FROM pairs p
JOIN hashed a ON a.doc_id = p.new_id
JOIN hashed b ON b.doc_id = p.old_id
WHERE cast(len(list_intersect(a.hs, b.hs)) as double) /
      len(list_distinct(list_concat(a.hs, b.hs))) >= {thr}
ORDER BY new_id, old_id
"""


def q_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure cascade audit: a simulated takedown list (ids ≡ 13
    mod 97) propagated across the corpus, its chunk table (provenance
    doc_id), its embedding table, and the exact-dup group table (groups
    whose canonical representative is deleted must re-elect). Each
    artifact scans once and LEFT-joins the distinct delete list — keyed,
    no forced broadcast, so a mass takedown stays shuffle-plannable."""
    from ndr_import_spark.operators.corpus import chunk_documents
    from ndr_import_spark.operators.dedup import exact_duplicate_groups
    from ndr_import_spark.operators.snapshot import delete_cascade

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    deletes = docs.filter(F.col("doc_id") % 97 == 13).select("doc_id")
    chunks = chunk_documents(docs, chunk_words=64, overlap=16)
    groups = exact_duplicate_groups(docs)
    return delete_cascade(
        deletes,
        [
            ("chunks", chunks, "doc_id"),
            ("dedup_groups", groups, "canonical_id"),
            ("documents", docs, "doc_id"),
            ("embeddings", emb, "vec_id"),
        ],
    ).orderBy("artifact")


_ORACLE_DELETE_PROPAGATION = f"""
WITH dels AS (
  SELECT doc_id FROM documents WHERE doc_id % 97 = 13
), tok AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_words
  FROM documents
), chunks AS (
  SELECT doc_id,
    1 + CAST(ceil(greatest(n_words - 64, 0) / 48.0) AS BIGINT) AS n_chunks
  FROM tok
), groups AS (
  SELECT min(doc_id) AS canonical_id
  FROM (SELECT doc_id,
          md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
        FROM documents)
  GROUP BY h HAVING count(*) > 1
), rows AS (
  SELECT 'chunks' AS artifact,
    CAST(COALESCE(sum(n_chunks), 0) AS BIGINT) AS n_before,
    CAST(COALESCE(sum(CASE WHEN doc_id IN (SELECT doc_id FROM dels)
             THEN n_chunks ELSE 0 END), 0) AS BIGINT) AS n_removed
  FROM chunks
  UNION ALL
  SELECT 'dedup_groups', count(*),
    CAST(COALESCE(sum(CASE WHEN canonical_id IN (SELECT doc_id FROM dels)
             THEN 1 ELSE 0 END), 0) AS BIGINT)
  FROM groups
  UNION ALL
  SELECT 'documents', count(*),
    CAST(COALESCE(sum(CASE WHEN doc_id % 97 = 13 THEN 1 ELSE 0 END), 0) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'embeddings', count(*),
    CAST(COALESCE(sum(CASE WHEN vec_id IN (SELECT doc_id FROM dels)
             THEN 1 ELSE 0 END), 0) AS BIGINT)
  FROM embeddings
)
SELECT artifact, n_before, n_removed, n_before - n_removed AS n_after
FROM rows ORDER BY artifact
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: each content group keeps its
    highest-quality member (rounded score, id tiebreak) instead of an
    arbitrary or min-id row — elected with a map-side-combinable
    ordered-struct MAX, no window, no skew funnel. Summary per lang."""
    from ndr_import_spark.operators.dedup import drop_exact_duplicates_by_quality
    from ndr_import_spark.operators.textstats import quality_score

    docs = _t(spark, sf_dir, "documents")
    kept = drop_exact_duplicates_by_quality(docs, quality_score(F.col("text")))
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


_ORACLE_DEDUP_KEEP_BEST = f"""
WITH t AS (
  SELECT *, {_SQL_TOKS} AS toks,
    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
  FROM documents
), scored AS (
  SELECT *, round((
      least(len(toks) / 20.0, 1.0)
    + (CASE WHEN len(toks) > 0 AND
            CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
              BETWEEN 3 AND 10
       THEN 1.0 ELSE 0.5 END)
    + (1.0 - least((CASE WHEN length(text) > 0 THEN
         CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
         / length(text) ELSE 0 END) * 4, 1.0))
    + (CASE WHEN length(text) > 0 THEN
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         / length(text) ELSE 0 END)
  ) / 4, 5) AS q
  FROM t
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY h
                               ORDER BY round(q, 9) DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT lang, count(*) AS n_kept, min(doc_id) AS min_id, max(doc_id) AS max_id,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM ranked WHERE rn = 1 GROUP BY lang ORDER BY lang
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase mining: top-50 adjacent-word collocations by PMI (min pair
    count 5) — tokenizer-vocabulary / word2phrase input. Bigrams are the
    lambda-free zip-struct explode counted by one combinable aggregate;
    unigram attach joins pair-cardinality frames; only 1-row totals
    broadcast."""
    from ndr_import_spark.operators.corpus import pmi_collocations

    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5, k=50)


_ORACLE_PMI = f"""
WITH toks AS (
  SELECT {_SQL_TOKS} AS ts FROM documents
), uni AS (
  SELECT w, count(*) AS nu FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w
), tu AS (
  SELECT CAST(sum(nu) AS BIGINT) AS tu FROM uni
), bigs AS (
  SELECT w1, w2, count(*) AS nb FROM (
    SELECT unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
    FROM toks WHERE len(ts) >= 2
  ) GROUP BY w1, w2
), tb AS (
  SELECT CAST(sum(nb) AS BIGINT) AS tb FROM bigs
)
SELECT b.w1, b.w2, b.nb AS n_pair,
  round(ln((CAST(b.nb AS DOUBLE) / tb.tb)
           / ((CAST(u1.nu AS DOUBLE) / tu.tu) * (CAST(u2.nu AS DOUBLE) / tu.tu))), 6)
    AS pmi
FROM bigs b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2
CROSS JOIN tu CROSS JOIN tb
WHERE b.nb >= 5
ORDER BY pmi DESC, b.w1 ASC, b.w2 ASC
LIMIT 50
"""


def q_decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination provenance (the audit trail behind `decontaminate`'s
    drop list): per contaminated corpus doc, how many eval docs it
    overlaps, distinct shared 4-grams, and the first matching eval id.
    Eval (gram, id) pairs broadcast; only matching grams reach the
    aggregate."""
    from ndr_import_spark.operators.corpus import decontaminate_report

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return decontaminate_report(corpus, eval_set, n=4).orderBy("doc_id")


_ORACLE_DECONTAMINATE_REPORT = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS wds
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(wds) - 2, 1)),
                               i -> array_to_string(wds[i:i+3], ' '))) AS gram
  FROM w
), ev AS (
  SELECT DISTINCT doc_id AS eid, gram FROM g WHERE doc_id % 50 = 0
), m AS (
  SELECT g.doc_id, ev.eid, g.gram
  FROM g JOIN ev USING (gram)
  WHERE g.doc_id % 50 <> 0
)
SELECT doc_id,
  count(DISTINCT eid) AS n_eval_docs,
  count(DISTINCT gram) AS n_shared_grams,
  min(eid) AS first_eval_id
FROM m GROUP BY doc_id ORDER BY doc_id
"""


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the release-note headline numbers (volume,
    cardinalities, exact-dup surplus, empties) as (metric, value) rows —
    two combinable aggregates over one narrow projection, constant-size
    output."""
    from ndr_import_spark.operators.corpus import corpus_card

    docs = _t(spark, sf_dir, "documents")
    return corpus_card(docs)


_ORACLE_CORPUS_CARD = f"""
WITH src AS (
  -- mirror the Spark side's COALESCE(text, ''): a NULL text row must
  -- count as an empty document with a real md5, not vanish from the
  -- distinct-content / char-sum aggregates (DuckDB md5(NULL) is NULL)
  SELECT doc_id, lang, source, COALESCE(text, '') AS text FROM documents
), per AS (
  SELECT doc_id, lang, source,
    len({_SQL_TOKS}) AS nt,
    length(text) AS nc,
    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h
  FROM src
), base AS (
  SELECT count(*) AS n_docs,
    CAST(sum(nt) AS BIGINT) AS n_tokens,
    CAST(sum(nc) AS BIGINT) AS n_chars,
    count(DISTINCT lang) AS n_langs,
    count(DISTINCT source) AS n_sources,
    count(DISTINCT h) AS n_unique_contents,
    CAST(COALESCE(sum(CASE WHEN nt = 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
      AS n_empty
  FROM per
)
SELECT metric, value FROM (
  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM base
  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM base
  UNION ALL SELECT 'n_chars', CAST(n_chars AS DOUBLE) FROM base
  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM base
  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM base
  UNION ALL SELECT 'n_unique_contents', CAST(n_unique_contents AS DOUBLE) FROM base
  UNION ALL SELECT 'n_empty', CAST(n_empty AS DOUBLE) FROM base
  UNION ALL SELECT 'n_exact_dup_surplus',
    CAST(n_docs - n_unique_contents AS DOUBLE) FROM base
) ORDER BY metric
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer budgeting per language: BPE-ish piece counts (word
    chunks of <=4 chars + punctuation marks) against characters and
    whitespace tokens — the fertility table that prices a corpus in
    tokens before committing a tokenizer. All counts are integers, so
    the per-lang sums are exact and every ratio is one deterministic
    final division. Narrow projection + one tiny aggregate."""
    from ndr_import_spark.operators.textstats import (
        bpe_ish_token_count,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.length("text").alias("_nc"),
        token_count(F.col("text")).alias("_nw"),
        bpe_ish_token_count(F.col("text")).alias("_nb"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nc").alias("sum_chars"),
            F.sum("_nw").alias("sum_ws_tokens"),
            F.sum("_nb").alias("sum_bpe_tokens"),
        )
        .withColumn(
            "chars_per_bpe_token",
            F.round(
                F.col("sum_chars").cast("double") / F.col("sum_bpe_tokens"), 5
            ),
        )
        .withColumn(
            "pieces_per_word",
            F.round(
                F.col("sum_bpe_tokens").cast("double") / F.col("sum_ws_tokens"),
                5,
            ),
        )
        .orderBy("lang")
    )


_ORACLE_TOKENIZER_FERTILITY = f"""
WITH per AS (
  SELECT lang, length(text) AS nc,
    len({_SQL_TOKS}) AS nw,
    COALESCE(list_sum(list_transform(
      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
      w -> CAST(ceil(length(w) / 4.0) AS INT)
    )), 0) + length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS nb
  FROM documents
)
SELECT lang, count(*) AS n_docs,
  CAST(sum(nc) AS BIGINT) AS sum_chars,
  CAST(sum(nw) AS BIGINT) AS sum_ws_tokens,
  CAST(sum(nb) AS BIGINT) AS sum_bpe_tokens,
  round(CAST(sum(nc) AS DOUBLE) / sum(nb), 5) AS chars_per_bpe_token,
  round(CAST(sum(nb) AS DOUBLE) / sum(nw), 5) AS pieces_per_word
FROM per GROUP BY lang ORDER BY lang
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling fingerprints (min 60-bit md5 hash over
    strided 16-char windows of normalised text — robust to local edits,
    unlike the whole-document hash): groups sharing a fingerprint are
    robust-duplicate candidates. Codegen explode→MIN frame
    (rolling_fingerprint_frame): the LONG hash keeps the MIN inside
    HashAggregate and map-side partial agg collapses each doc to one
    (id, int64) row before the exchange, so a 100 TB candidate pass
    shuffles 8-byte fingerprints, never text."""
    from ndr_import_spark.operators.textstats import rolling_fingerprint_frame

    docs = _t(spark, sf_dir, "documents")
    fp = rolling_fingerprint_frame(docs, ["doc_id"], "text", window=16)
    return (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("fp")
    )


_ORACLE_DOC_FINGERPRINTS = """
WITH t AS (
  SELECT doc_id,
    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), fp AS (
  SELECT doc_id,
    list_min(list_transform(
      range(1, greatest(length(norm) - 16 + 1, 1) + 1, 8),
      i -> CAST(('0x' || substring(md5(substring(norm, i, 16)), 1, 15)) AS BIGINT)
    )) AS fp
  FROM t
)
SELECT fp, count(*) AS n_docs, min(doc_id) AS min_id
FROM fp GROUP BY fp HAVING count(*) > 1 ORDER BY fp
"""


def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector hygiene before index build: flag embeddings whose L2 norm
    deviates more than 3σ from their label's mean norm. Norms are rounded
    then summed as exact decimals per label (order-independent), the
    3σ fence is one final double expression, and the flag join ships only
    the label-cardinality stats frame back — the vectors never move
    twice. Output: per-label totals + outlier counts + the worst
    offender."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    per_vec = emb.select(
        "vec_id",
        "label",
        # decimal(18,9): the squared product is decimal(37,18) which fits
        # precision 38 at full scale — (20,9) operands made Spark truncate
        # the (41,18) product to (38,15) pre-cast, so _s2 was not actually
        # engine-identical.  18,9 is the widest such precision: norms
        # < 1e9 cast exactly (any embedding's L2 norm by a huge margin).
        F.round(norm, 9).cast("decimal(18,9)").alias("_nrm"),
    )
    stats = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_nrm").alias("_s1"),
        F.sum((F.col("_nrm") * F.col("_nrm")).cast("decimal(38,18)")).alias("_s2"),
    )
    mu = F.col("_s1").cast("double") / F.col("n")
    var = (
        F.col("_s2").cast("double")
        - F.col("_s1").cast("double") * F.col("_s1").cast("double") / F.col("n")
    ) / (F.col("n") - F.lit(1))
    fenced = stats.select(
        "label", "n", mu.alias("_mu"), F.sqrt(var).alias("_sd")
    )
    # fence on 6dp roundings: a zero-variance label must produce no
    # outliers, and sub-ulp noise in the decimal->double collapse must
    # not flip the comparison on either engine
    flagged = per_vec.join(F.broadcast(fenced), "label").withColumn(
        "_dev", F.round(F.abs(F.col("_nrm").cast("double") - F.col("_mu")), 6)
    ).withColumn("_sd", F.round(F.col("_sd"), 6))
    return (
        flagged.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                F.when(
                    (F.col("_dev") > 3 * F.col("_sd")) & (F.col("_dev") > 0),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.max(
                F.when(
                    (F.col("_dev") > 3 * F.col("_sd")) & (F.col("_dev") > 0),
                    F.struct(
                        F.col("_dev").alias("dev"),
                        (-F.col("vec_id")).alias("neg_id"),
                    ),
                )
            ).alias("_worst"),
        )
        .select(
            "label",
            "n_vecs",
            "n_outliers",
            (-F.col("_worst.neg_id")).cast("bigint").alias("worst_vec_id"),
            F.col("_worst.dev").alias("worst_dev"),
        )
        .orderBy("label")
    )


_ORACLE_NORM_OUTLIERS = """
WITH per AS (
  SELECT vec_id, label,
    CAST(round(sqrt(list_sum(list_transform(embedding,
         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 9)
         AS DECIMAL(20,9)) AS nrm
  FROM embeddings
), stats AS (
  SELECT label, count(*) AS n, sum(nrm) AS s1,
         sum(CAST(nrm * nrm AS DECIMAL(38,18))) AS s2
  FROM per GROUP BY label
), fenced AS (
  SELECT label, n,
    CAST(s1 AS DOUBLE) / n AS mu,
    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
         / (n - 1)) AS sd
  FROM stats
), flagged AS (
  SELECT p.label, p.vec_id,
    round(abs(CAST(p.nrm AS DOUBLE) - f.mu), 6) AS dev, round(f.sd, 6) AS sd
  FROM per p JOIN fenced f USING (label)
)
, agg AS (
  SELECT label, count(*) AS n_vecs,
    CAST(COALESCE(sum(CASE WHEN dev > 3 * sd AND dev > 0
         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_outliers,
    max(CASE WHEN dev > 3 * sd AND dev > 0
        THEN {'dev': dev, 'neg': -vec_id} END) AS w
  FROM flagged GROUP BY label
)
SELECT label, n_vecs, n_outliers,
  CAST(-(w.neg) AS BIGINT) AS worst_vec_id,
  w.dev AS worst_dev
FROM agg ORDER BY label
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by first-purchase week,
    tracked by distinct-active-user counts at each later week offset.
    First-touch via a min-aggregate (no window), the activity join is
    keyed on user, and the (cohort, offset) matrix is one count-distinct
    aggregate — each shuffle is keyed and combinable."""
    ev = _events(spark, sf_dir)
    first = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.min(F.date_trunc("week", F.col("ts")).cast("date")).alias(
                "cohort_week"
            )
        )
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    return (
        active.join(first, "user_id")
        .filter(F.col("week") >= F.col("cohort_week"))
        .withColumn(
            "week_offset",
            F.datediff(F.col("week"), F.col("cohort_week")) / 7,
        )
        .withColumn("week_offset", F.col("week_offset").cast("int"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


_ORACLE_COHORT = """
WITH first AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT f.cohort_week,
  CAST(date_diff('day', f.cohort_week, a.week) / 7 AS INT) AS week_offset,
  count(DISTINCT a.user_id) AS n_active
FROM active a JOIN first f USING (user_id)
WHERE a.week >= f.cohort_week
GROUP BY f.cohort_week, week_offset
ORDER BY f.cohort_week, week_offset
"""


def q_parquet_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout introspection: per-table totals computed from
    parquet FOOTERS ONLY (sources/parquet_meta.py — distributed pyarrow
    footer reads, one task batch per path, zero data pages touched),
    hash-gated against the oracle's full scans. Equality is the
    integrity property min/max row-group pruning and compaction
    planning rely on at 100 TB, where the inventory is millions of
    files and footer reads are the only affordable pass."""
    from ndr_import_spark.sources.parquet_meta import (
        footer_table_summary,
        parquet_footer_inventory,
    )

    targets = [
        (f"{sf_dir}/lineitem.parquet", "l_orderkey"),
        (f"{sf_dir}/orders.parquet", "o_orderkey"),
        (f"{sf_dir}/documents.parquet", "doc_id"),
    ]
    inv = parquet_footer_inventory(spark, targets)
    return footer_table_summary(inv).orderBy("table_name")


def q_scan_prune_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group pruning planner gated footer-vs-scan (r8, the
    partition-elimination receipt): lineitem keys are rewritten into
    range buckets (l_orderkey // 1500, one parquet file per bucket via
    repartition-then-partitionBy), the per-file footers are read back
    through sources/parquet_meta.parquet_footer_inventory (key min/max
    statistics ONLY — zero data bytes), and the plan decides which
    buckets a predicate [4000, 9000] must scan. The DuckDB oracle
    recomputes every column from the RAW table, so a wrong footer stat,
    a wrong pruning inequality, or a row lost in the rewrite all break
    the hash. This is the property `spark.sql.parquet.filterPushdown`
    relies on, pinned end-to-end through this engine's own writer and
    footer reader. Bounded everywhere: the inventory is
    one-row-per-row-group, the plan is bucket-count-sized."""
    import glob as _glob
    import hashlib as _hl
    import os as _os
    import tempfile as _tf

    from ndr_import_spark.sources.parquet_meta import (
        parquet_footer_inventory,
    )

    lo, hi, step = 4000, 9000, 1500
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    # absolute fixture dir: the driver's harness may not run from the
    # repo root, and a relative path would scatter rewrites across cwds.
    # r8 advice: keying only by the sf_dir BASENAME let two repos (or
    # two concurrent sessions pointing at different roots with the same
    # sf tag) clobber each other's rewrites — qualify with a digest of
    # the full (repo, sf_dir) paths, the _expand_compressed pattern
    _fixture_key = "\x00".join(
        (_os.path.dirname(_os.path.abspath(__file__)),
         _os.path.abspath(sf_dir), "prune_plan_v1")
    )
    out_dir = _os.path.join(
        _tf.gettempdir(),
        "ndr_prune_plan_" + _hl.md5(_fixture_key.encode()).hexdigest()[:16],
    )
    (
        li.withColumn("bucket", F.floor(F.col("l_orderkey") / step))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )
    files = sorted(_glob.glob(_os.path.join(out_dir, "bucket=*", "*.parquet")))
    inv = parquet_footer_inventory(
        spark, [(f, "l_orderkey") for f in files]
    )
    plan = inv.groupBy(
        F.floor(F.col("key_min") / step).cast("bigint").alias("bucket")
    ).agg(
        F.sum("rg_rows").alias("n_rows"),
        F.min("key_min").alias("key_min"),
        F.max("key_max").alias("key_max"),
    )
    return plan.select(
        "bucket", "n_rows", "key_min", "key_max",
        ((F.col("key_max") >= lo) & (F.col("key_min") <= hi)).alias("kept"),
    ).orderBy("bucket")


_ORACLE_SCAN_PRUNE = """
SELECT CAST(l_orderkey // 1500 AS BIGINT) AS bucket,
  count(*) AS n_rows,
  cast(min(l_orderkey) as bigint) AS key_min,
  cast(max(l_orderkey) as bigint) AS key_max,
  (max(l_orderkey) >= 4000 AND min(l_orderkey) <= 9000) AS kept
FROM lineitem GROUP BY 1 ORDER BY bucket
"""


_ORACLE_PARQUET_LAYOUT = """
SELECT * FROM (
  SELECT 'documents' AS table_name, cast(count(*) as bigint) AS total_rows,
    (SELECT cast(count(*) as int) FROM pragma_table_info('documents')) AS n_columns,
    cast(min(doc_id) as bigint) AS key_min,
    cast(max(doc_id) as bigint) AS key_max
  FROM documents
  UNION ALL
  SELECT 'lineitem', cast(count(*) as bigint),
    (SELECT cast(count(*) as int) FROM pragma_table_info('lineitem')),
    cast(min(l_orderkey) as bigint), cast(max(l_orderkey) as bigint)
  FROM lineitem
  UNION ALL
  SELECT 'orders', cast(count(*) as bigint),
    (SELECT cast(count(*) as int) FROM pragma_table_info('orders')),
    cast(min(o_orderkey) as bigint), cast(max(o_orderkey) as bigint)
  FROM orders
)
ORDER BY table_name
"""


def q_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean-room zstd decode (functions/zstd.py, RFC 8878) gated
    end-to-end: every 20th document's payload is framed by the
    REFERENCE encoder (libzstd via pyarrow, level cycling 1/3/9/19 per
    doc) inside the task, decoded back by the clean-room decoder, and
    the decoded bytes' md5/length must equal the oracle's values for
    the analytically-identical string — a wrong bit anywhere in the
    FSE/Huffman/sequence machinery flips the hash. The r8 dict_md5
    column repeats the round-trip through a DICTIONARY frame (RFC 8878
    §5): libzstd compresses against a raw-content dictionary sharing
    the payload's text, the clean-room decoder replays it with the
    dictionary as history prefix — a wrong prefix-match resolution or
    repeat-offset init flips that hash independently. Arrow mapInPandas
    (opaque bytes, the FLAC/ADPCM pattern); shuffle-free except the
    output ordering; the sample keeps pure-Python decode (~10 MB/s/core
    measured) test-scale while levels exercise raw, RLE and
    FSE/Huffman block shapes."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id", "text")
    )

    def rt(batches):
        import hashlib

        import pandas as pd
        import pyarrow as pa

        from ndr_import_spark.functions.zstd import (
            decompress,
            libzstd_compress_dict,
        )

        levels = (1, 3, 9, 19)
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                payload = ((text + " #" + str(did)) * (1 + did % 7)).encode()
                codec = pa.Codec("zstd", compression_level=levels[did % 4])
                decoded = decompress(codec.compress(payload, asbytes=True))
                # dictionary frame: raw-content dict = the doc text, so
                # the compressor's matches land in the history prefix.
                # libzstd_compress_dict checks ZSTD_isError and degrades
                # to a dictionary-less pyarrow frame on hosts without
                # libzstd.so.1 (r8 advice)
                dic = text.encode()
                comp = libzstd_compress_dict(payload, dic, level=19)
                dict_decoded = decompress(comp, dictionary=dic)
                rows.append(
                    (did, len(decoded), hashlib.md5(decoded).hexdigest(),
                     hashlib.md5(dict_decoded).hexdigest())
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "orig_len", "payload_md5", "dict_md5"]
            )

    return docs.mapInPandas(
        rt, "doc_id long, orig_len bigint, payload_md5 string, dict_md5 string"
    ).orderBy("doc_id")


def q_zstd_dict_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed zstd dictionary TRAINING + round-trip through the
    clean-room dictionary decoder (r8): operators/corpus.py
    train_zstd_dictionary picks the top-64 fixed-stride shingles from
    the doc_id%5 sample (a pure DataFrame aggregation whose output a
    DuckDB oracle rebuilds bit-for-bit — no sampling-based trainer can
    say that), then every doc_id%25 document is compressed IN-TASK by
    libzstd's ZSTD_compress_usingDict against that raw-content
    dictionary and decoded back by functions/zstd.py with the
    dictionary as history prefix. roundtrip_md5 pins the decode;
    dict_md5 pins the trained dictionary itself. The broadcast join
    ships one sketch-sized row; the corpus never shuffles."""
    from ndr_import_spark.operators.corpus import train_zstd_dictionary

    docs = _t(spark, sf_dir, "documents")
    dictionary = train_zstd_dictionary(
        docs.where(F.col("doc_id") % 5 == 0)
    ).select("dictionary")
    sample = docs.where(F.col("doc_id") % 25 == 0).select("doc_id", "text")
    withdict = sample.crossJoin(F.broadcast(dictionary))

    def rt(batches):
        import hashlib

        import pandas as pd

        from ndr_import_spark.functions.zstd import (
            ZstdDict,
            decompress,
            libzstd_compress_dict,
        )

        for pdf in batches:
            rows = []
            zd = None
            for did, text, dic in zip(
                pdf["doc_id"], pdf["text"], pdf["dictionary"]
            ):
                if zd is None:
                    dic_b = dic.encode()
                    zd = ZstdDict(dic_b)
                payload = text.encode()
                # error-checked reference encoder; dictionary-less
                # pyarrow fallback on hosts without libzstd (r8 advice)
                comp = libzstd_compress_dict(payload, dic_b, level=19)
                decoded = decompress(comp, dictionary=zd)
                rows.append((
                    int(did), len(decoded),
                    hashlib.md5(decoded).hexdigest(),
                    hashlib.md5(dic_b).hexdigest(),
                ))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "orig_len", "roundtrip_md5", "dict_md5"],
            )

    return withdict.mapInPandas(
        rt,
        "doc_id long, orig_len bigint, roundtrip_md5 string, "
        "dict_md5 string",
    ).orderBy("doc_id")


_ORACLE_ZSTD_DICT_TRAIN = """
WITH sh AS (
  SELECT substr(text, cast(o * 8 + 1 as int), 16) AS s
  FROM documents, unnest(range(0, (length(text) - 16) // 8 + 1)) AS t(o)
  WHERE doc_id % 5 = 0 AND length(text) >= 16
), cnt AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
topk AS (SELECT s, c FROM cnt ORDER BY c DESC, s ASC LIMIT 64),
dict AS (SELECT string_agg(s, '' ORDER BY c ASC, s ASC) AS d FROM topk)
SELECT doc_id,
  cast(strlen(text) as bigint) AS orig_len,
  md5(text) AS roundtrip_md5,
  (SELECT md5(d) FROM dict) AS dict_md5
FROM documents WHERE doc_id % 25 = 0 ORDER BY doc_id
"""


_ORACLE_ZSTD = """
SELECT doc_id,
  cast(strlen(repeat(text || ' #' || cast(doc_id as varchar),
                     cast(1 + doc_id % 7 as int))) as bigint) AS orig_len,
  md5(repeat(text || ' #' || cast(doc_id as varchar),
             cast(1 + doc_id % 7 as int))) AS payload_md5,
  md5(repeat(text || ' #' || cast(doc_id as varchar),
             cast(1 + doc_id % 7 as int))) AS dict_md5
FROM documents
WHERE doc_id % 20 = 0
ORDER BY doc_id
"""


def q_compression_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole clean-room compression family in one gate: every 20th
    (+1) document's payload is framed by the REFERENCE encoder for the
    codec its doc_id selects — zstd (RFC 8878), LZ4 frame, or raw
    Snappy, via pyarrow/liblz4 — then decoded by the matching
    clean-room decoder (functions/zstd.py, lz4.py, snappy.py); decoded
    md5/length must equal the oracle's analytic values. One Arrow
    mapInPandas pass, shuffle-free except the output ordering."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 1)
        .select("doc_id", "text")
    )

    def rt(batches):
        import hashlib

        import pandas as pd
        import pyarrow as pa

        from ndr_import_spark.functions.lz4 import decompress_frame
        from ndr_import_spark.functions.snappy import decompress as sn_dec
        from ndr_import_spark.functions.zstd import decompress as zs_dec

        codecs = (
            ("zstd", pa.Codec("zstd", compression_level=19), zs_dec),
            ("lz4", pa.Codec("lz4"), decompress_frame),
            ("snappy", pa.Codec("snappy"), sn_dec),
        )
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                payload = ((text + " %" + str(did)) * (1 + did % 5)).encode()
                name, codec, dec = codecs[did % 3]
                decoded = dec(codec.compress(payload, asbytes=True))
                rows.append(
                    (did, name, len(decoded), hashlib.md5(decoded).hexdigest())
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "codec", "orig_len", "payload_md5"]
            )

    return docs.mapInPandas(
        rt, "doc_id long, codec string, orig_len bigint, payload_md5 string"
    ).orderBy("doc_id")


_ORACLE_COMPRESSION_MATRIX = """
SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'zstd' WHEN 1 THEN 'lz4' ELSE 'snappy' END
    AS codec,
  cast(strlen(repeat(text || ' %' || cast(doc_id as varchar),
                     cast(1 + doc_id % 5 as int))) as bigint) AS orig_len,
  md5(repeat(text || ' %' || cast(doc_id as varchar),
             cast(1 + doc_id % 5 as int))) AS payload_md5
FROM documents
WHERE doc_id % 20 = 1
ORDER BY doc_id
"""


def q_gif_animation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF decode end-to-end (functions/gif.py animation
    frames with GCE delays, through the same extract_video_features
    path as MJPEG-AVI — GIF is the second stdlib video container): a
    deterministic table of genuine GIF89a animations holding 2-5 solid
    gray frames whose levels and delays come from md5 bytes — solid
    frames decode EXACTLY, so every per-frame mean is v/255 and the
    DuckDB oracle reproduces the aggregate from md5 arithmetic alone,
    proving the LZW decode, frame composition, delay accounting and
    Arrow plumbing."""
    import hashlib as _hl

    from ndr_import_spark.functions.gif import encode_gif_animation
    from ndr_import_spark.operators import multimodal as MM

    rows = []
    for i in range(60):
        b = _hl.md5(f"gif{i}".encode()).digest()
        n_frames = 2 + b[0] % 4
        w = 4 * (1 + b[1] % 3)
        frames = [
            (1 + b[2 + j] % 9, bytes([b[2 + j]]) * (w * 4 * 3))
            for j in range(n_frames)
        ]
        payload = encode_gif_animation(w, 4, frames)
        rows.append((i, "video", "image/gif", w, 4, None, bytearray(payload)))
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA).repartition(8)
    # decoder=None forces the stdlib container dispatch for this plan
    # only, without clobbering any session-registered decoder
    feats = MM.extract_video_features(media, decoder=None)
    mean_feat = F.aggregate(
        F.col("feature"), F.lit(0.0), lambda a, x: a + x
    ) / F.size(F.col("feature"))
    return (
        feats.select(
            "n_frames",
            F.col("width").cast("double").alias("w"),
            F.col("duration_ms").cast("double").alias("dur"),
            mean_feat.alias("mf"),
        )
        .groupBy("n_frames")
        .agg(
            F.count(F.lit(1)).alias("n_gifs"),
            F.avg("w").alias("avg_w"),
            F.avg("dur").alias("avg_duration_ms"),
            (F.sum(F.col("mf").cast("decimal(18,6)")).cast("double")
             / F.count(F.lit(1))).alias("avg_feat"),
        )
        .orderBy("n_frames")
    )


_ORACLE_GIF_ANIMATION = """
WITH m AS (SELECT unnest(range(60)) AS i),
d AS (SELECT i, md5('gif' || i) AS hx FROM m),
b AS (
  SELECT i, hx,
    cast(('0x' || substring(hx, 1, 2)) as int) AS b0,
    cast(('0x' || substring(hx, 3, 2)) as int) AS b1
  FROM d
),
f AS (
  SELECT i,
    2 + (b0 % 4) AS n_frames,
    cast(4 * (1 + (b1 % 3)) as double) AS w,
    -- duration_ms = 10 * sum over frames of (1 + v_j % 9)
    cast(10 * list_sum(list_transform(range(2 + (b0 % 4)),
      j -> 1 + cast(('0x' || substring(hx, (2 + j) * 2 + 1, 2)) as int) % 9
    )) as double) AS dur,
    -- solid frames: per-frame mean is exactly v/255
    list_sum(list_transform(range(2 + (b0 % 4)),
      j -> cast(('0x' || substring(hx, (2 + j) * 2 + 1, 2)) as int) / 255.0
    )) / (2 + (b0 % 4)) AS mf
  FROM b
)
SELECT n_frames, count(*) AS n_gifs, avg(w) AS avg_w,
       avg(dur) AS avg_duration_ms,
       cast(sum(cast(mf as decimal(18,6))) as double) / count(*) AS avg_feat
FROM f GROUP BY n_frames ORDER BY n_frames
"""


def q_schema_drift_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two snapshots of the orders feed with
    drifted schemas (v1 predates o_orderpriority; v2 added it and
    dropped o_orderstatus) combined BY COLUMN NAME with missing columns
    null-filled — `unionByName(allowMissingColumns=True)`, the
    mergeSchema/UNION ALL BY NAME lake-ingest behaviour, never
    positional. The census proves the null-fill: per surviving status
    value (NULL = rows that only v2 carries), row count, non-null
    priority count, and the exact-decimal revenue sum."""
    o = _t(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    u = v1.unionByName(v2, allowMissingColumns=True)
    return (
        u.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderpriority").alias("n_priority"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_total"),
        )
        .orderBy(F.col("o_orderstatus").asc_nulls_first())
    )


_ORACLE_SCHEMA_DRIFT = """
WITH v1 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
), v2 AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
), u AS (
  SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2
)
SELECT o_orderstatus, cast(count(*) as bigint) AS n_rows,
  cast(count(o_orderpriority) as bigint) AS n_priority,
  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_total
FROM u GROUP BY o_orderstatus
ORDER BY o_orderstatus NULLS FIRST
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q2-shaped (reshaped: the corpus has no partsupp table, so the
    lineitem history is the price catalog): for ECONOMY parts of size <= 15,
    the EUROPE supplier(s) quoting the minimum l_extendedprice for that
    part. The correlated MIN subquery becomes a per-part window MIN +
    filter — ONE lineitem scan and ONE partkey exchange, where the
    textbook agg-plus-join-back shape scans lineitem twice and adds a
    sort-merge self-join (verified via explain: this form is 2 scans
    fewer). Window partitions by partkey (bounded groups — never a
    global sort); nation/region broadcast; the part filter pushes to the
    scan; top-100 is TakeOrderedAndProject. Reference parity: relational
    breadth only (ndr_import has no SQL surface)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 15)
    ).select("p_partkey")
    offers = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", _dec("l_extendedprice").alias("price"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .join(eur, F.col("l_suppkey") == eur.s_suppkey)
        .select("p_partkey", "s_name", "s_acctbal", "n_name", "price")
    )
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("min_price", F.min("price").over(w))
        .filter(F.col("price") == F.col("min_price"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            F.col("min_price").cast("double").alias("min_price"),
        )
        .distinct()
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_ORACLE_Q2 = """
WITH eur AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier, nation, region
  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    AND r_name = 'EUROPE'
), offers AS (
  SELECT p_partkey, s_name, s_acctbal, n_name,
         cast(l_extendedprice as decimal(18,2)) AS price
  FROM lineitem, part, eur
  WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
    AND p_type = 'ECONOMY' AND p_size <= 15
)
SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey,
       cast(price as double) AS min_price
FROM offers o
WHERE price = (SELECT min(price) FROM offers i WHERE i.p_partkey = o.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q9-shaped (reshaped: no ps_supplycost column exists, so cost
    is modelled as 60% of p_retailprice per unit): profit on 'widget'
    parts per supplier nation per order year. Both money sums are exact
    decimals; the 0.6 scaling happens once per GROUP in double AFTER the
    exact sums (double ops are IEEE-identical across engines, so the
    result is bit-deterministic). p_name LIKE pushes to the part scan;
    nation broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = _t(spark, sf_dir, "nation")
    cost_base = (_dec("p_retailprice") * _dec("l_quantity")).cast("decimal(38,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.sum(_rev()).cast("double").alias("sum_rev"),
            F.sum(cost_base).cast("double").alias("sum_cost_base"),
        )
        .withColumn("profit", F.col("sum_rev") - F.lit(0.6) * F.col("sum_cost_base"))
        .orderBy("nation", F.desc("o_year"))
    )


_ORACLE_Q9 = """
SELECT n_name AS nation,
  cast(extract(year FROM o_orderdate) AS int) AS o_year,
  cast(sum(cast(cast(l_extendedprice as decimal(18,2)) *
    (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4)))
    as double) AS sum_rev,
  cast(sum(cast(cast(p_retailprice as decimal(18,2)) *
    cast(l_quantity as decimal(18,2)) as decimal(38,4))) as double) AS sum_cost_base,
  cast(sum(cast(cast(l_extendedprice as decimal(18,2)) *
    (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,4)))
    as double)
  - 0.6 * cast(sum(cast(cast(p_retailprice as decimal(18,2)) *
    cast(l_quantity as decimal(18,2)) as decimal(38,4))) as double) AS profit
FROM lineitem, part, supplier, orders, nation
WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
  AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%widget%'
GROUP BY n_name, o_year
ORDER BY nation, o_year DESC
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q11-shaped (reshaped: value = shipped l_extendedprice of
    NATION_3 suppliers instead of partsupp stock value): parts whose
    value exceeds 0.01% of the nation's total. The HAVING-against-a-
    global-scalar is a 1-row broadcast cross join, never a window over
    everything; both sides of the comparison are the same exact decimal
    sum cast to double, so the threshold test is bit-deterministic."""
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey")
    )
    flat = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", _dec("l_extendedprice").alias("price"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
    )
    per_part = flat.groupBy("l_partkey").agg(
        F.sum("price").cast("double").alias("part_value")
    )
    total = flat.agg(F.sum("price").cast("double").alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("total_value") / F.lit(10000.0))
        .select(F.col("l_partkey").alias("p_partkey"), "part_value")
        .orderBy(F.desc("part_value"), "p_partkey")
    )


_ORACLE_Q11 = """
WITH flat AS (
  SELECT l_partkey, cast(l_extendedprice as decimal(18,2)) AS price
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_3'
)
SELECT l_partkey AS p_partkey, cast(sum(price) as double) AS part_value
FROM flat
GROUP BY l_partkey
HAVING cast(sum(price) as double) >
  (SELECT cast(sum(price) as double) FROM flat) / 10000.0
ORDER BY part_value DESC, p_partkey
"""


def q12_late_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q12-shaped (reshaped: the corpus has no l_shipmode /
    l_commitdate, so lateness = shipped more than 90 days after the
    order date, bucketed by l_linestatus): per status, how many late
    lines belong to high- vs low-priority orders. One equi-join with the
    interval predicate evaluated post-join (it references both sides);
    both counts are one conditional map-side-combinable aggregate."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_ORACLE_Q12 = """
SELECT l_linestatus,
  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) as bigint) AS high_line_count,
  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 0 ELSE 1 END) as bigint) AS low_line_count
FROM lineitem, orders
WHERE l_orderkey = o_orderkey
  AND l_shipdate >= o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q20_dominant_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q20-shaped (reshaped: no partsupp availqty, so the nested
    correlated aggregate compares a supplier's shipped quantity against
    the part's corpus-wide total): suppliers who shipped more than 30%
    of some 'bolt' part's total 1996 volume, i.e. EXISTS(part: dominant).
    Two partial aggregates share one (partkey) shuffle alignment; the
    supplier list is a LEFT SEMI join so fan-out never duplicates
    suppliers; the 0.3 threshold is evaluated identically in both
    engines (exact decimal sums cast to double, then one double
    multiply/compare)."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").contains("bolt")
    ).select("p_partkey")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .select("l_partkey", "l_suppkey", _dec("l_quantity").alias("qty"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
    )
    per_supp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty").cast("double").alias("supp_qty")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.sum("qty").cast("double").alias("part_qty")
    )
    dominant = (
        per_supp.join(per_part, per_supp.l_partkey == per_part.pp_key)
        .filter(F.col("supp_qty") > F.lit(0.3) * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        sup.join(dominant, sup.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .select("s_name", "n_name")
        # s_name is unique in the corpus, but the hash gate compares rows
        # in order — keep the sort total under any future data
        .orderBy("s_name", "n_name")
    )


_ORACLE_Q20 = """
WITH flat AS (
  SELECT l_partkey, l_suppkey, cast(l_quantity as decimal(18,2)) AS qty
  FROM lineitem, part
  WHERE l_partkey = p_partkey AND p_name LIKE '%bolt%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
), per_supp AS (
  SELECT l_partkey, l_suppkey, cast(sum(qty) as double) AS supp_qty
  FROM flat GROUP BY l_partkey, l_suppkey
), per_part AS (
  SELECT l_partkey, cast(sum(qty) as double) AS part_qty
  FROM flat GROUP BY l_partkey
)
SELECT s_name, n_name
FROM supplier, nation
WHERE s_nationkey = n_nationkey
  AND s_suppkey IN (
    SELECT ps.l_suppkey FROM per_supp ps JOIN per_part pp USING (l_partkey)
    WHERE ps.supp_qty > 0.3 * pp.part_qty
  )
ORDER BY s_name, n_name
"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the YAML-mapping compiler pipeline on sf0.001."""
    return q_map_clean_fields(spark, "/root/testdata/sf0.001")


# The driver's CORRECTNESS gate verifies exactly the FIRST 50 entries of
# queries() (insertion order IS the gate scope). GATED pins that window
# EXPLICITLY (r8 advice: the r8 interleave silently swapped which queries
# the gate verified; nothing recorded the change). Any reorder of the
# registry's head now shows up as a diff on this literal, and
# tests/test_gate_scope.py fails if the two drift apart. The window was
# chosen in r8 to span >= 15 operator families — keep that property when
# editing: one representative per family beats five neighbours from one.
GATED = [
    'map_clean_fields', 'map_fixed_width', 'map_validation_errors',
    'nontabular_extract', 'xml_extract', 'q1_pricing_summary',
    'q3_shipping_priority', 'dedup_exact', 'dedup_minhash',
    'lsh_planner', 'dedup_clusters', 'semantic_dedup_capped',
    'ann_lsh_pairs', 'embedding_pca', 'hard_negatives',
    'c4_clean', 'gopher_quality', 'quality_filter',
    'lang_id', 'training_pipeline', 'training_mix',
    'bm25_search', 'hybrid_search_rrf', 'tfidf_top_terms',
    'pagerank', 'bfs_reachability', 'scd2_history',
    'multimodal_mixed_codecs', 'id3_tags', 'heif_metadata',
    'image_pipeline', 'audio_tags_multi', 'webp_metadata',
    'audio_pipeline', 'zstd_roundtrip', 'cross_codec_dedup',
    'zstd_dict_train', 'parquet_layout', 'compaction_plan',
    'scan_prune_plan', 'hll_distinct', 'table_profile',
    'bloom_filter', 'mp3_integrity', 'bpe_tokenizer',
    'pack_sequences', 'hash_split', 'webp_anim_canvas',
    'decontaminate', 'split_leakage',
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "map_clean_fields": q_map_clean_fields,
        "map_fixed_width": q_map_fixed_width,
        "map_validation_errors": q_map_validation_errors,
        "nontabular_extract": q_nontabular_extract,
        "xml_extract": q_xml_extract,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "lsh_planner": q_lsh_planner,
        "dedup_clusters": q_dedup_clusters,
        "semantic_dedup_capped": q_semantic_dedup_capped,
        "ann_lsh_pairs": q_ann_lsh_pairs,
        "embedding_pca": q_embedding_pca,
        "hard_negatives": q_hard_negatives,
        "c4_clean": q_c4_clean,
        "gopher_quality": q_gopher_quality,
        "quality_filter": q_quality_filter,
        "lang_id": q_lang_id,
        "training_pipeline": q_training_pipeline,
        "training_mix": q_training_mix,
        "bm25_search": q_bm25_search,
        "hybrid_search_rrf": q_hybrid_search_rrf,
        "tfidf_top_terms": q_tfidf_top_terms,
        "pagerank": q_pagerank,
        "bfs_reachability": q_bfs_reachability,
        "scd2_history": q_scd2_history,
        "multimodal_mixed_codecs": q_multimodal_mixed_codecs,
        "id3_tags": q_id3_tags,
        "heif_metadata": q_heif_metadata,
        "image_pipeline": q_image_pipeline,
        "audio_tags_multi": q_audio_tags_multi,
        "webp_metadata": q_webp_metadata,
        "audio_pipeline": q_audio_pipeline,
        "zstd_roundtrip": q_zstd_roundtrip,
        "cross_codec_dedup": q_cross_codec_dedup,
        "zstd_dict_train": q_zstd_dict_train,
        "parquet_layout": q_parquet_layout,
        "compaction_plan": q_compaction_plan,
        "scan_prune_plan": q_scan_prune_plan,
        "hll_distinct": q_hll_distinct,
        "table_profile": q_table_profile,
        "bloom_filter": q_bloom_filter,
        "mp3_integrity": q_mp3_integrity,
        "bpe_tokenizer": q_bpe_tokenizer,
        "pack_sequences": q_pack_sequences,
        "hash_split": q_hash_split,
        "webp_anim_canvas": q_webp_anim_canvas,
        "decontaminate": q_decontaminate,
        "split_leakage": q_split_leakage,
        "ann_cosine_topk": q_ann_cosine_topk,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "triangle_count": q_triangle_count,
        "asof_join": q_asof_join,
        "window_analytics": q_window_analytics,
        "skew_salted_agg": q_skew_salted_agg,
        "logreg_distill": q_logreg_distill,
        "fd_discovery": q_fd_discovery,
        "gif_animation": q_gif_animation,
        "q5_supplier_volume": q5_supplier_volume,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q10_returned_items": q10_returned_items,
        "q18_large_orders": q18_large_orders,
        "q4_priority_semi": q4_priority_semi,
        "q7_volume_shipping": q7_volume_shipping,
        "q8_market_share": q8_market_share,
        "q13_order_distribution": q13_order_distribution,
        "q14_promo_share": q14_promo_share,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_variety": q16_supplier_variety,
        "q17_small_order_revenue": q17_small_order_revenue,
        "q19_disjunctive": q19_disjunctive,
        "q22_dormant_customers": q22_dormant_customers,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q9_product_profit": q9_product_profit,
        "q11_important_parts": q11_important_parts,
        "q12_late_line_priority": q12_late_line_priority,
        "q20_dominant_shippers": q20_dominant_shippers,
        "schema_drift_union": q_schema_drift_union,
        "kmv_distinct": q_kmv_distinct,
        "grouped_moments": q_grouped_moments,
        "pivot_daily_events": q_pivot_daily_events,
        "json_props_stats": q_json_props_stats,
        "grouping_sets_revenue": q_grouping_sets_revenue,
        "q21_sole_latest_shipper": q21_sole_latest_shipper,
        "trailing_window_revenue": q_trailing_window_revenue,
        "melt_part_attrs": q_melt_part_attrs,
        "purchase_id_islands": q_purchase_id_islands,
        "value_histogram": q_value_histogram,
        "nation_top_customer": q_nation_top_customer,
        "rollup_revenue": q_rollup_revenue,
        "setops_steady_suppliers": q_setops_steady_suppliers,
        "events_sessionize": q_events_sessionize,
        "events_daily_stats": q_events_daily_stats,
        "events_top_users": q_events_top_users,
        "passage_dedup": q_passage_dedup,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_embedding": q_dedup_embedding,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "text_stats": q_text_stats,
        "corpus_pipeline": q_corpus_pipeline,
        "ann_quantized_topk": q_ann_quantized_topk,
        "multimodal_features": q_multimodal_features,
        "adpcm_audio": q_adpcm_audio,
        "crawl_pipeline": q_crawl_pipeline,
        "crawl_frontier": q_crawl_frontier,
        "link_graph": q_link_graph,
        "dsir_resample": q_dsir_resample,
        "unicode_clean": q_unicode_clean,
        "label_propagation": q_label_propagation,
        "video_features": q_video_features,
        "substring_dedup": q_substring_dedup,
        "warc_extract": q_warc_extract,
        "warc_revisit": q_warc_revisit,
        "robots_filter": q_robots_filter,
        "sitemap_extract": q_sitemap_extract,
        "main_content": q_main_content,
        "ivf_cells": q_ivf_cells,
        "ivf_probe_topk": q_ivf_probe_topk,
        "quantize_embeddings": q_quantize_embeddings,
        "embedding_label_centroids": q_embedding_label_centroids,
        "pii_scrub": q_pii_scrub,
        "per_source_cap": q_per_source_cap,
        "funnel_analysis": q_funnel_analysis,
        "events_value_percentiles": q_events_value_percentiles,
        "deterministic_sample": q_deterministic_sample,
        "sessionize_events": q_sessionize_events,
        "range_join_windows": q_range_join_windows,
        "merge_upsert": q_merge_upsert,
        "repetition_score": q_repetition_score,
        "bigram_lm_score": q_bigram_lm_score,
        "zipf_fit": q_zipf_fit,
        "url_dedup": q_url_dedup,
        "kmeans_clusters": q_kmeans_clusters,
        "semantic_dedup": q_semantic_dedup,
        "record_linkage": q_record_linkage,
        "events_fill_forward": q_events_fill_forward,
        "id_validity_scan": q_id_validity_scan,
        "source_entropy": q_source_entropy,
        "heaps_law": q_heaps_law,
        "chunk_documents": q_chunk_documents,
        "vocab_top_tokens": q_vocab_top_tokens,
        "length_buckets": q_length_buckets,
        "vocab_overlap_kmv": q_vocab_overlap_kmv,
        "mix_temperature": q_mix_temperature,
        "oov_rate": q_oov_rate,
        "snapshot_diff": q_snapshot_diff,
        "lexical_diversity": q_lexical_diversity,
        "embedding_dim_stats": q_embedding_dim_stats,
        "unigram_surprisal": q_unigram_surprisal,
        "event_rate_anomalies": q_event_rate_anomalies,
        "incremental_dedup": q_incremental_dedup,
        "delete_propagation": q_delete_propagation,
        "dedup_keep_best": q_dedup_keep_best,
        "pmi_collocations": q_pmi_collocations,
        "decontaminate_report": q_decontaminate_report,
        "corpus_card": q_corpus_card,
        "tokenizer_fertility": q_tokenizer_fertility,
        "doc_fingerprints": q_doc_fingerprints,
        "embedding_norm_outliers": q_embedding_norm_outliers,
        "cohort_retention": q_cohort_retention,
        "bpe_merges": q_bpe_merges,
        "phrase_search": q_phrase_search,
        "perplexity_buckets": q_perplexity_buckets,
        "vocab_coverage_curve": q_vocab_coverage_curve,
        "lsh_quality": q_lsh_quality,
        "retrieval_self_eval": q_retrieval_self_eval,
        "zorder_locality": q_zorder_locality,
        "source_similarity": q_source_similarity,
        "source_lexical_drift": q_source_lexical_drift,
        "hits_scores": q_hits_scores,
        "neyman_allocation": q_neyman_allocation,
        # rotated out of the 50-query driver-gate window in r10 to
        # make room for the r9/r10 multimodal additions (VERDICT r9
        # ask 6) - still oracle-gated here like every registry entry
        "image_dedup": q_image_dedup,
        "media_metadata": q_media_metadata,
        "compression_matrix": q_compression_matrix,
        "quantile_sketch_eval": q_quantile_sketch_eval,
        "epoch_shuffle": q_epoch_shuffle,
        # rotated out in r11 for id3_tags/audio_tags_multi (VERDICT r10
        # ask 3): both are dominated by in-window siblings
        # (image_pipeline exercises the EXIF extract+scrub path;
        # webp_anim_canvas walks the same ANMF frames and composites
        # them) - still oracle-gated here like every registry entry
        "exif_metadata": q_exif_metadata,
        "webp_anim_frames": q_webp_anim_frames,
        "album_art_pipeline": q_album_art_pipeline,
        "cross_codec_audio_dedup": q_cross_codec_audio_dedup,
        "audio_quality_filter": q_audio_quality_filter,
        # rotated out in r11: audio_features is strictly dominated by
        # the in-window audio_pipeline capstone (same decode stack plus
        # quality gate, fingerprint dedup and resample receipts)
        "audio_features": q_audio_features,
        "audio_segmentation": q_audio_segmentation,
        "media_router": q_media_router,
    }


def oracle_sql() -> dict[str, str]:
    from ndr_import_spark.operators.clustering import (
        kmeans_oracle_sql,
        semantic_dedup_capped_oracle_sql,
        semantic_dedup_oracle_sql,
    )
    from ndr_import_spark.operators.bpe import (
        bpe_fertility_oracle_sql,
        bpe_merges_oracle_sql,
    )
    from ndr_import_spark.operators.classifier import logreg_oracle_sql
    from ndr_import_spark.operators.layout import zorder_oracle_sql
    from ndr_import_spark.operators.graph import (
        bfs_oracle_sql,
        hits_oracle_sql,
        label_propagation_oracle_sql,
        pagerank_oracle_sql,
    )
    from ndr_import_spark.operators.pca import pca_oracle_sql
    from ndr_import_spark.operators.profile import (
        fd_oracle_sql,
        profile_oracle_sql,
    )
    from ndr_import_spark.operators.retrieval import phrase_search_oracle_sql

    return {
        "map_clean_fields": _ORACLE_MAP_CLEAN,
        "map_fixed_width": _ORACLE_FIXED_WIDTH,
        "q1_pricing_summary": _ORACLE_Q1,
        "q3_shipping_priority": _ORACLE_Q3,
        "q5_supplier_volume": _ORACLE_Q5,
        "q6_forecast_revenue": _ORACLE_Q6,
        "q10_returned_items": _ORACLE_Q10,
        "q18_large_orders": _ORACLE_Q18,
        "q4_priority_semi": _ORACLE_Q4,
        "q7_volume_shipping": _ORACLE_Q7,
        "q8_market_share": _ORACLE_Q8,
        "q13_order_distribution": _ORACLE_Q13,
        "q14_promo_share": _ORACLE_Q14,
        "q15_top_supplier": _ORACLE_Q15,
        "q16_supplier_variety": _ORACLE_Q16,
        "q17_small_order_revenue": _ORACLE_Q17,
        "q19_disjunctive": _ORACLE_Q19,
        "q22_dormant_customers": _ORACLE_Q22,
        "q2_min_cost_supplier": _ORACLE_Q2,
        "q9_product_profit": _ORACLE_Q9,
        "q11_important_parts": _ORACLE_Q11,
        "q12_late_line_priority": _ORACLE_Q12,
        "q20_dominant_shippers": _ORACLE_Q20,
        "parquet_layout": _ORACLE_PARQUET_LAYOUT,
        "scan_prune_plan": _ORACLE_SCAN_PRUNE,
        "zstd_roundtrip": _ORACLE_ZSTD,
        "zstd_dict_train": _ORACLE_ZSTD_DICT_TRAIN,
        "compression_matrix": _ORACLE_COMPRESSION_MATRIX,
        "schema_drift_union": _ORACLE_SCHEMA_DRIFT,
        "gif_animation": _ORACLE_GIF_ANIMATION,
        "kmv_distinct": _ORACLE_KMV,
        "grouped_moments": _ORACLE_MOMENTS,
        "scd2_history": _ORACLE_SCD2,
        "pivot_daily_events": _ORACLE_PIVOT,
        "json_props_stats": _ORACLE_JSON,
        "grouping_sets_revenue": _ORACLE_GROUPING_SETS,
        "q21_sole_latest_shipper": _ORACLE_Q21,
        "trailing_window_revenue": _ORACLE_TRAILING,
        "melt_part_attrs": _ORACLE_MELT,
        "map_validation_errors": _ORACLE_MAP_ERRORS,
        "purchase_id_islands": _ORACLE_ISLANDS,
        "value_histogram": _ORACLE_HISTOGRAM,
        "nation_top_customer": _ORACLE_TOP_CUSTOMER,
        "nontabular_extract": _ORACLE_NONTABULAR,
        "xml_extract": _ORACLE_XML,
        "rollup_revenue": _ORACLE_ROLLUP,
        "setops_steady_suppliers": _ORACLE_SETOPS,
        "asof_join": _ORACLE_ASOF,
        "events_sessionize": _ORACLE_EVENTS_SESSIONIZE,
        "events_daily_stats": _ORACLE_EVENTS_DAILY,
        "events_top_users": _ORACLE_EVENTS_TOP_USERS,
        "dedup_exact": _ORACLE_DEDUP_EXACT,
        "dedup_minhash": _oracle_minhash(),
        "lsh_planner": _ORACLE_LSH_PLANNER,
        "dedup_clusters": _oracle_dedup_clusters(),
        "passage_dedup": _ORACLE_PASSAGE_DEDUP,
        "dedup_simhash": _oracle_simhash(),
        "dedup_simhash_pairs": _oracle_simhash_pairs(),
        "dedup_embedding": _oracle_dedup_embedding(),
        "dedup_ngram_jaccard": _oracle_ngram_jaccard(),
        "text_stats": _ORACLE_TEXT_STATS,
        "lang_id": _oracle_lang_id(),
        "quality_filter": _oracle_quality(),
        "corpus_pipeline": _oracle_corpus_pipeline(),
        "ann_cosine_topk": _ORACLE_ANN,
        "hard_negatives": _ORACLE_HARD_NEGATIVES,
        "ann_quantized_topk": _ORACLE_ANN_QUANTIZED,
        "ann_lsh_pairs": _oracle_ann_lsh(),
        "multimodal_features": _ORACLE_MULTIMODAL,
        "multimodal_mixed_codecs": _ORACLE_MIXED_CODECS,
        "audio_features": _ORACLE_AUDIO_FEATURES,
        "adpcm_audio": _ORACLE_ADPCM_AUDIO,
        "media_metadata": _ORACLE_MEDIA_METADATA,
        "exif_metadata": _ORACLE_EXIF_METADATA,
        "webp_metadata": _ORACLE_WEBP_METADATA,
        "crawl_pipeline": _ORACLE_CRAWL_PIPELINE,
        "bloom_filter": _ORACLE_BLOOM_FILTER,
        "compaction_plan": _ORACLE_COMPACTION_PLAN,
        "crawl_frontier": _ORACLE_CRAWL_FRONTIER,
        "link_graph": _ORACLE_LINK_GRAPH,
        "c4_clean": _ORACLE_C4_CLEAN,
        "dsir_resample": _ORACLE_DSIR_RESAMPLE,
        "hll_distinct": _ORACLE_HLL_DISTINCT,
        "unicode_clean": _ORACLE_UNICODE_CLEAN,
        "label_propagation": label_propagation_oracle_sql(
            iterations=5, block=16, stride=3
        ),
        "video_features": _ORACLE_VIDEO_FEATURES,
        "substring_dedup": _ORACLE_SUBSTRING_DEDUP,
        "warc_extract": _ORACLE_WARC_EXTRACT,
        "warc_revisit": _ORACLE_WARC_REVISIT,
        "robots_filter": _ORACLE_ROBOTS_FILTER,
        "sitemap_extract": _ORACLE_SITEMAP,
        "ivf_cells": _oracle_ivf(),
        "ivf_probe_topk": _oracle_ivf_probe(),
        "quantize_embeddings": _ORACLE_QUANTIZE,
        "embedding_label_centroids": _ORACLE_CENTROIDS,
        "decontaminate": _ORACLE_DECONTAMINATE,
        "pii_scrub": _oracle_pii(),
        "per_source_cap": _ORACLE_PER_SOURCE_CAP,
        "skew_salted_agg": _ORACLE_SKEW_SALTED_AGG,
        "training_mix": _oracle_training_mix(),
        "training_pipeline": _oracle_training_pipeline(),
        "funnel_analysis": _ORACLE_FUNNEL,
        "events_value_percentiles": _ORACLE_PERCENTILES,
        "window_analytics": _ORACLE_WINDOW_ANALYTICS,
        "tfidf_top_terms": _ORACLE_TFIDF,
        "deterministic_sample": _ORACLE_SAMPLE,
        "sessionize_events": _ORACLE_SESSIONS,
        "range_join_windows": _ORACLE_RANGE_JOIN,
        "merge_upsert": _ORACLE_MERGE_UPSERT,
        "repetition_score": _ORACLE_REPETITION,
        "gopher_quality": _ORACLE_GOPHER,
        "pagerank": pagerank_oracle_sql(),
        "bfs_reachability": bfs_oracle_sql(max_hops=4, seed_mod=1000),
        "hits_scores": hits_oracle_sql(iterations=4),
        "bigram_lm_score": _ORACLE_BIGRAM_LM,
        "zipf_fit": _ORACLE_ZIPF,
        "url_dedup": _ORACLE_URL_DEDUP,
        "kmeans_clusters": kmeans_oracle_sql(k=8, iterations=3),
        "semantic_dedup": semantic_dedup_oracle_sql(
            k=8, iterations=3, threshold_pct=25
        ),
        "semantic_dedup_capped": semantic_dedup_capped_oracle_sql(
            k=8, iterations=3, threshold_pct=25, max_cluster_size=60,
            n_bands=4,
        ),
        "record_linkage": _ORACLE_RECORD_LINKAGE,
        "events_fill_forward": _ORACLE_FILL_FORWARD,
        "triangle_count": _ORACLE_TRIANGLES,
        "cms_heavy_hitters": _ORACLE_CMS,
        "quantile_sketch_eval": _ORACLE_QUANTILE_SKETCH,
        "id_validity_scan": _oracle_id_scan(),
        "source_entropy": _ORACLE_SOURCE_ENTROPY,
        "heaps_law": _ORACLE_HEAPS,
        "hash_split": _ORACLE_HASH_SPLIT,
        "epoch_shuffle": _ORACLE_EPOCH_SHUFFLE,
        "chunk_documents": _ORACLE_CHUNKS,
        "vocab_top_tokens": _ORACLE_VOCAB,
        "pack_sequences": _oracle_pack_sequences(),
        "length_buckets": _ORACLE_LENGTH_BUCKETS,
        "bm25_search": _oracle_bm25(),
        "hybrid_search_rrf": _oracle_hybrid_rrf(),
        "vocab_overlap_kmv": _ORACLE_VOCAB_OVERLAP,
        "mix_temperature": _ORACLE_MIX_TEMPERATURE,
        "oov_rate": _ORACLE_OOV_RATE,
        "snapshot_diff": _ORACLE_SNAPSHOT_DIFF,
        "lexical_diversity": _ORACLE_LEXICAL_DIVERSITY,
        "embedding_dim_stats": _ORACLE_DIM_STATS,
        "unigram_surprisal": _ORACLE_SURPRISAL,
        "event_rate_anomalies": _ORACLE_EVENT_ANOMALIES,
        "incremental_dedup": _oracle_incremental_dedup(),
        "delete_propagation": _ORACLE_DELETE_PROPAGATION,
        "dedup_keep_best": _ORACLE_DEDUP_KEEP_BEST,
        "pmi_collocations": _ORACLE_PMI,
        "decontaminate_report": _ORACLE_DECONTAMINATE_REPORT,
        "corpus_card": _ORACLE_CORPUS_CARD,
        "tokenizer_fertility": _ORACLE_TOKENIZER_FERTILITY,
        "doc_fingerprints": _ORACLE_DOC_FINGERPRINTS,
        "embedding_norm_outliers": _ORACLE_NORM_OUTLIERS,
        "cohort_retention": _ORACLE_COHORT,
        "bpe_merges": bpe_merges_oracle_sql(n_merges=12, max_vocab=500),
        "bpe_tokenizer": bpe_fertility_oracle_sql(n_merges=12, max_vocab=500),
        "embedding_pca": pca_oracle_sql(dim=64),
        "phrase_search": phrase_search_oracle_sql(PHRASE_LIST),
        "perplexity_buckets": _ORACLE_PERPLEXITY_BUCKETS,
        "logreg_distill": logreg_oracle_sql(rounds=4),
        "vocab_coverage_curve": _ORACLE_VOCAB_COVERAGE,
        "table_profile": profile_oracle_sql(
            "orders",
            [
                ("o_orderkey", "int"),
                ("o_custkey", "int"),
                ("o_orderstatus", "str"),
                ("o_totalprice", "double"),
                ("o_orderdate", "ts"),
                ("o_orderpriority", "str"),
            ],
        ),
        "lsh_quality": _oracle_lsh_quality(),
        "retrieval_self_eval": _ORACLE_RETRIEVAL_SELF_EVAL,
        "split_leakage": _oracle_split_leakage(),
        "image_dedup": _ORACLE_IMAGE_DEDUP,
        "image_pipeline": _oracle_image_pipeline(),
        "source_similarity": _ORACLE_SOURCE_SIMILARITY,
        "source_lexical_drift": _oracle_source_lexical_drift(),
        "fd_discovery": fd_oracle_sql("orders", _FD_PAIRS),
        "neyman_allocation": _ORACLE_NEYMAN,
        "webp_anim_frames": _ORACLE_WEBP_ANIM,
        "heif_metadata": _ORACLE_HEIF_METADATA,
        "cross_codec_dedup": _ORACLE_CROSS_CODEC_DEDUP,
        "mp3_integrity": _ORACLE_MP3_INTEGRITY,
        "webp_anim_canvas": _ORACLE_WEBP_ANIM_CANVAS,
        "id3_tags": _ORACLE_ID3_TAGS,
        "audio_tags_multi": _ORACLE_AUDIO_TAGS_MULTI,
        "album_art_pipeline": _ORACLE_ALBUM_ART_PIPELINE,
        "cross_codec_audio_dedup": _ORACLE_CROSS_CODEC_AUDIO,
        "audio_quality_filter": _ORACLE_AUDIO_QUALITY,
        "audio_pipeline": _ORACLE_AUDIO_PIPELINE,
        "audio_segmentation": _ORACLE_AUDIO_SEGMENTATION,
        "media_router": _oracle_media_router(),
        "zorder_locality": zorder_oracle_sql(
            "events",
            "user_id",
            "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))",
        ),
        "main_content": _oracle_main_content(),
    }
