"""SURVEY.md §2.9 declared relational query surface (q01–q30).

Every query is a DataFrame program (Catalyst plans the physical strategy) with
a DuckDB oracle.  Reference parity note: the reference (tomwhite/disq-original)
implements none of these itself — it delegates all relational compute to Spark
(reference README.md:9-13); this module IS that delegated surface, made
first-class.

Determinism rules: every LIMIT query orders by a key that is unique in the
projected row set; floats are rounded; timestamps/dates/arrays are projected as
strings so both engines hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..streaming.events import sum_value_e2
from ..tables import load_table
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _int_units(expr, scale: int = 100):
    """The load-bearing exact-integer-units idiom, single-sourced
    (q61's oracle drift in round 11 happened because one site re-derived
    it differently): half-up integer units of a non-negative expression
    whose true value is an exact multiple of 1/scale —
    ``(x*scale + 0.5).cast(long)``.  The cast truncates toward zero,
    which equals floor on non-negatives, so this is half-up exactly;
    it also stays inside whole-stage codegen where ``F.round`` would
    detour through BigDecimal per row (1.4x slower, SCALE.md r11).
    DuckDB twin: ``CAST(floor(x * scale + 0.5) AS BIGINT)`` — the
    explicit floor is load-bearing there because DuckDB's
    CAST(double AS BIGINT) ROUNDS instead of truncating."""
    return (expr * scale + 0.5).cast("long")



# ---------------------------------------------------------------- q01 scan/projection
@query(
    "q01_scan_project",
    """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
       ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity LIMIT 100""",
)
def q01(spark: SparkSession, sf: str) -> DataFrame:
    """Scan + projection; column pruning must reach the parquet scan.
    (l_orderkey, l_linenumber) is NOT unique in the testdata, so the sort
    tie-breaks on the projected columns for a deterministic LIMIT."""
    li = _t(spark, sf, "lineitem")
    return (
        li.orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .limit(100)
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


# ---------------------------------------------------------------- q02 filter
@query(
    "q02_filter",
    """SELECT l_orderkey, l_linenumber FROM lineitem
       WHERE l_quantity > 40 AND l_discount < 0.05
       ORDER BY l_orderkey, l_linenumber""",
)
def q02(spark: SparkSession, sf: str) -> DataFrame:
    """Conjunctive filter; both predicates push to the parquet scan."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter((F.col("l_quantity") > 40) & (F.col("l_discount") < 0.05))
        .select("l_orderkey", "l_linenumber")
        # no global sort: result compare is order-insensitive and a full
        # sort of a no-limit result is pure shuffle waste at scale
    )


# ---------------------------------------------------------------- q03 range predicate
@query(
    "q03_range_predicate",
    """SELECT o_orderkey FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       ORDER BY o_orderkey""",
    doc="Interval/range predicate — the relational analog of the reference's "
    "genomic interval pushdown (AbstractBinarySamSource.java:96-113).",
)
def q03(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey")
    )


# ---------------------------------------------------------------- q04 inner join
@query(
    "q04_inner_join",
    """SELECT c_name, o_orderkey FROM customer JOIN orders ON c_custkey = o_custkey
       ORDER BY o_orderkey LIMIT 100""",
)
def q04(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "inner")
        .select("c_name", "o_orderkey")
        .orderBy("o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------- q05 broadcast join
@query(
    "q05_broadcast_join",
    """SELECT n_name, count(*) AS c FROM customer JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name ORDER BY n_name""",
)
def q05(spark: SparkSession, sf: str) -> DataFrame:
    """Small-dim join: nation is explicitly broadcast — no shuffle of customer."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("n_name")
    )


# ---------------------------------------------------------------- q06 left outer join
@query(
    "q06_left_outer_join",
    """SELECT c_custkey, count(o_orderkey) AS cnt FROM customer
       LEFT JOIN orders ON c_custkey = o_custkey
       GROUP BY c_custkey ORDER BY c_custkey LIMIT 100""",
)
def q06(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("cnt"))
        .orderBy("c_custkey")
        .limit(100)
    )


# ---------------------------------------------------------------- q07 left semi join
@query(
    "q07_semi_join",
    """SELECT p_partkey FROM part
       WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 50)
       ORDER BY p_partkey LIMIT 100""",
)
def q07(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi join.  The original unfiltered form ('parts that appear
    in any lineitem') selected EVERY part in this FK-complete synthetic
    data, so its ordered LIMIT returned the constant 1..100 at every
    scale factor — eight rounds of green hash rows witnessed a filter
    that filtered nothing (the q21/q08 vacuity disease, caught by
    tools/audit_vacuity.py).  Restricting the semi side to max-quantity
    lineitems (l_quantity >= 50, ~2% selectivity) keeps the left_semi
    operator identical while the survivor set is a real, sf-varying
    subset (102/200 parts at sf0.001, 887/2000 at sf0.01)."""
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") >= 50)
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .select("p_partkey")
        .orderBy("p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------- q08 left anti join
@query(
    "q08_anti_join",
    """SELECT c_custkey FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderpriority = '1-URGENT')
       ORDER BY c_custkey""",
)
def q08(spark: SparkSession, sf: str) -> DataFrame:
    """Anti join (NOT EXISTS -> left_anti).  The original 'customers with
    no orders at all' was VACUOUSLY empty at every sf — the synthetic
    data is FK-complete, so the hash rows witnessed only an empty set.
    Anti-joining against the urgent-order keys keeps the operator
    identical while the witness carries real rows at every shipped sf
    (18 / 203 / 1986)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------- q09 range/interval join
@query(
    "q09_range_join",
    """SELECT a.o_orderkey AS a_orderkey, b.o_orderkey AS b_orderkey
       FROM orders a JOIN orders b
         ON a.o_custkey = b.o_custkey
        AND a.o_orderdate <= b.o_orderdate + INTERVAL 30 DAY
        AND b.o_orderdate <= a.o_orderdate
        AND a.o_orderkey < b.o_orderkey
       ORDER BY a_orderkey, b_orderkey LIMIT 100""",
    doc="Range/interval join — relational analog of genomic overlap joins. "
    "Equi key (o_custkey) carries the shuffle; range conditions are residual "
    "predicates, so this stays a hash join, not a nested-loop.",
)
def q09(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    a = o.alias("a")
    b = o.alias("b")
    cond = (
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderdate") <= F.col("b.o_orderdate") + F.expr("INTERVAL 30 DAY"))
        & (F.col("b.o_orderdate") <= F.col("a.o_orderdate"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.o_orderkey").alias("a_orderkey"),
            F.col("b.o_orderkey").alias("b_orderkey"),
        )
        .orderBy("a_orderkey", "b_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------- q10 hash aggregate
@query(
    "q10_hash_aggregate",
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq,
              sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0 AS sp,
              count(*) AS c
       FROM lineitem GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""",
    doc="TPC-H Q1 core: partial (map-side) aggregation then final — one shuffle "
    "of only the grouped partials.  The price total travels as exact integer "
    "cents (order-safe BIGINT sum, one float division at the end — the p05 "
    "pattern); the quantity sum is integer-valued so a double sum is already "
    "exact and order-independent below 2^53.",
)
def q10(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sq"),
            (F.sum(_int_units(F.col("l_extendedprice"))) / F.lit(100.0))
            .alias("sp"),
            F.count(F.lit(1)).alias("c"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------- q11 distinct aggregate
@query(
    "q11_distinct_aggregate",
    "SELECT count(DISTINCT l_partkey) AS dp FROM lineitem",
)
def q11(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return li.agg(F.count_distinct(F.col("l_partkey")).alias("dp"))


# ---------------------------------------------------------------- q12 approx distinct
@query(
    "q12_approx_distinct",
    """SELECT count(DISTINCT l_partkey) AS exact_cnt,
              abs(approx_count_distinct(l_partkey)
                  - count(DISTINCT l_partkey)) * 20
                <= count(DISTINCT l_partkey) AS within_5pct
       FROM lineitem""",
    doc="HyperLogLog sketch with a hash-checkable companion form (VERDICT "
    "r5 directive #5): the two engines' sketches differ by design, so each "
    "engine validates ITS OWN approx_count_distinct against ITS OWN exact "
    "distinct count and emits (exact_cnt, within_5pct) — exact_cnt is "
    "engine-identical and the ±5% boolean is the documented tolerance, so "
    "the driver gets a real hash row instead of a rows-only check.  The "
    "sketch still runs in the plan (tests additionally pin the raw approx "
    "value within ±5% of DuckDB's exact count).",
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    exact = F.count_distinct("l_partkey")
    return li.agg(
        exact.alias("exact_cnt"),
        (F.abs(F.approx_count_distinct("l_partkey") - exact) * 20 <= exact).alias(
            "within_5pct"
        ),
    )


# ---------------------------------------------------------------- q13 rollup
@query(
    "q13_rollup",
    """SELECT l_returnflag, l_linestatus, count(*) AS c FROM lineitem
       GROUP BY ROLLUP(l_returnflag, l_linestatus)
       ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
)
def q13(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


# ---------------------------------------------------------------- q14 cube
@query(
    "q14_cube",
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s FROM lineitem
       GROUP BY CUBE(l_returnflag, l_linestatus)
       ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("s"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


# ---------------------------------------------------------------- q15 ranking window
@query(
    "q15_window_rank",
    """SELECT o_custkey, o_orderkey, rn FROM (
         SELECT o_custkey, o_orderkey,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn
         FROM orders) t
       WHERE rn <= 3 ORDER BY o_custkey, rn LIMIT 100""",
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
        .limit(100)
    )


# ---------------------------------------------------------------- q16 frame window
@query(
    "q16_window_frame",
    """SELECT l_orderkey, l_linenumber,
              sum(l_quantity) OVER (PARTITION BY l_orderkey
                                    ORDER BY l_linenumber, l_quantity
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rq
       FROM lineitem ORDER BY l_orderkey, l_linenumber, rq LIMIT 100""",
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    """ROWS frames need a total peer order: duplicate (l_orderkey,
    l_linenumber) rows exist, so the frame orders by (l_linenumber,
    l_quantity) and the output tie-breaks on rq."""
    li = _t(spark, sf, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.sum("l_quantity").over(w).alias("rq"),
        )
        .orderBy("l_orderkey", "l_linenumber", "rq")
        .limit(100)
    )


# ---------------------------------------------------------------- q17 lag/lead
@query(
    "q17_lag",
    """SELECT o_custkey, o_orderkey,
              lag(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS prev
       FROM orders ORDER BY o_custkey, o_orderkey LIMIT 100""",
)
def q17(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_orderkey").over(w).alias("prev"),
        )
        .orderBy("o_custkey", "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------- q18 top-k
@query(
    "q18_topk",
    """SELECT l_orderkey, l_extendedprice FROM lineitem
       ORDER BY l_extendedprice DESC, l_orderkey LIMIT 10""",
    doc="Sort+limit compiles to TakeOrderedAndProject — per-partition top-k "
    "then driver merge; no full sort at 100 TB.",
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.select("l_orderkey", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------- q19 union all
@query(
    "q19_union_all",
    """SELECT k FROM (
         SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 2 = 1) t
       ORDER BY k DESC LIMIT 100""",
    doc="Union — the relational analog of the reference's multi-file input "
    "concatenation and unmapped-reads append (AbstractBinarySamSource.java:128-129). "
    "The top-k is DESCENDING: orderkeys are dense from 1, so the original "
    "ascending LIMIT returned the constant 1..100 at every scale factor "
    "(a vacuous witness, tools/audit_vacuity.py); the highest keys grow "
    "with the table, making the result prove the union saw the whole input.",
)
def q19(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    even = o.filter(F.col("o_orderkey") % 2 == 0).select(F.col("o_orderkey").alias("k"))
    odd = o.filter(F.col("o_orderkey") % 2 == 1).select(F.col("o_orderkey").alias("k"))
    return even.unionByName(odd).orderBy(F.desc("k")).limit(100)


# ---------------------------------------------------------------- q20 intersect
@query(
    "q20_intersect",
    """SELECT l_partkey AS k FROM lineitem WHERE l_quantity >= 50
       INTERSECT SELECT p_partkey FROM part WHERE p_type = 'PROMO'
       ORDER BY k LIMIT 100""",
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    """Set intersection (INTERSECT DISTINCT).  The original form
    intersected all lineitem partkeys with all parts — in FK-complete
    synthetic data that is EVERY part, so the ordered LIMIT returned the
    constant 1..100 at every scale factor (vacuous witness,
    tools/audit_vacuity.py).  Intersecting two genuinely overlapping
    partial sets — max-quantity lineitem partkeys x PROMO parts, neither
    containing the other — keeps the Intersect operator identical with
    real, sf-varying survivors (20 at sf0.001, 149 at sf0.01)."""
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_quantity") >= 50)
        .select(F.col("l_partkey").alias("k"))
    )
    p = (
        _t(spark, sf, "part")
        .filter(F.col("p_type") == "PROMO")
        .select(F.col("p_partkey").alias("k"))
    )
    return li.intersect(p).orderBy("k").limit(100)


# ---------------------------------------------------------------- q21 except
@query(
    "q21_except",
    """SELECT p_partkey AS k FROM part
       EXCEPT SELECT l_partkey FROM lineitem WHERE l_quantity > 45
       ORDER BY k LIMIT 100""",
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    """Set difference (EXCEPT DISTINCT).  The original unfiltered form
    (parts never ordered at all) was VACUOUSLY empty at every sf — the
    synthetic data is FK-complete, so eight rounds of green hash rows
    witnessed nothing but an empty set.  Subtracting only the
    high-quantity order keys (parts never ordered in bulk) keeps the
    operator identical while the witness carries real values at every
    shipped sf (7 / 114 / 977 rows)."""
    p = _t(spark, sf, "part").select(F.col("p_partkey").alias("k"))
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select(F.col("l_partkey").alias("k"))
    )
    return p.exceptAll(li).distinct().orderBy("k").limit(100)


# ---------------------------------------------------------------- q22 string functions
@query(
    "q22_string_functions",
    """SELECT p_partkey, upper(substr(p_name, 1, 5)) AS u, length(p_name) AS l,
              concat(p_brand, '#', p_type) AS c
       FROM part ORDER BY p_partkey LIMIT 100""",
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    p = _t(spark, sf, "part")
    return (
        p.select(
            "p_partkey",
            F.upper(F.substring("p_name", 1, 5)).alias("u"),
            F.length("p_name").alias("l"),
            F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("c"),
        )
        .orderBy("p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------- q23 date functions
@query(
    "q23_date_functions",
    """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
              strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS d30
       FROM orders ORDER BY o_orderkey LIMIT 100""",
)
def q23(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    return (
        o.select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.date_format(F.date_add(F.col("o_orderdate"), 30), "yyyy-MM-dd").alias("d30"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------- q24 math/decimal
@query(
    "q24_math",
    """SELECT l_orderkey, l_linenumber,
              round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS chg
       FROM lineitem ORDER BY l_orderkey, l_linenumber, chg LIMIT 100""",
)
def q24(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 2
            ).alias("chg"),
        )
        .orderBy("l_orderkey", "l_linenumber", "chg")
        .limit(100)
    )


# ---------------------------------------------------------------- q25 array functions
@query(
    "q25_array_agg",
    """SELECT o_custkey,
              array_to_string(list_sort(list(o_orderkey)), ',') AS orders_csv
       FROM orders GROUP BY o_custkey ORDER BY o_custkey LIMIT 100""",
    doc="collect_list is order-nondeterministic in a distributed agg, so the "
    "engine sorts the array before use (array_sort) — same discipline needed "
    "at any scale.",
)
def q25(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("o_orderkey")), ",").alias("orders_csv")
        )
        .orderBy("o_custkey")
        .limit(100)
    )


# ---------------------------------------------------------------- q26 map/json access
@query(
    "q26_json_access",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
       FROM events ORDER BY event_id LIMIT 100""",
)
def q26(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    return (
        e.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .orderBy("event_id")
        .limit(100)
    )


# ---------------------------------------------------------------- q27 explode / UDTF shape
@query(
    "q27_explode",
    """SELECT o_custkey, x FROM (
         SELECT o_custkey, list_sort(list(o_orderkey)) AS l
         FROM orders GROUP BY o_custkey) t, UNNEST(l) AS u(x)
       ORDER BY o_custkey, x LIMIT 100""",
)
def q27(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    grouped = o.groupBy("o_custkey").agg(
        F.array_sort(F.collect_list("o_orderkey")).alias("l")
    )
    return (
        grouped.select("o_custkey", F.explode("l").alias("x"))
        .orderBy("o_custkey", "x")
        .limit(100)
    )


# ---------------------------------------------------------------- q28 correlated exists
@query(
    "q28_exists_subquery",
    """SELECT o_orderkey FROM orders o
       WHERE EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
       ORDER BY o_orderkey LIMIT 100""",
    doc="Correlated EXISTS decorrelates to a left-semi join.",
)
def q28(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 49)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------- q29 CASE/conditional
@query(
    "q29_case",
    """SELECT l_orderkey, l_linenumber,
              CASE WHEN l_discount > 0.05 THEN 'hi' ELSE 'lo' END AS b
       FROM lineitem ORDER BY l_orderkey, l_linenumber, b LIMIT 100""",
)
def q29(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.when(F.col("l_discount") > 0.05, "hi").otherwise("lo").alias("b"),
        )
        .orderBy("l_orderkey", "l_linenumber", "b")
        .limit(100)
    )


# ---------------------------------------------------------------- q30 tumbling window agg
@query(
    "q30_tumbling_window",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
              count(*) AS cnt,
              sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sv
       FROM events GROUP BY 1 ORDER BY 1""",
    doc="Batch analog of Structured Streaming window(ts, '1 hour'); the "
    "streaming twin lives in disq_original_spark.streaming.  The value sum "
    "travels as exact integer cents (order-safe — the p05 pattern), matching "
    "the streaming twins' sum_value_e2.",
)
def q30(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm").alias(
                "window_start"
            )
        )
        .agg(F.count(F.lit(1)).alias("cnt"), sum_value_e2().alias("sv"))
        .orderBy("window_start")
    )


# ---------------------------------------------------------------- q31 sessionization
@query(
    "q31_sessionize",
    """WITH marked AS (
         SELECT user_id, ts, value,
                CASE WHEN epoch_us(ts)
                          - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id))
                          > 1800000000
                     OR lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS new_s,
                event_id
         FROM events),
       sess AS (
         SELECT user_id, ts, value,
                sum(new_s) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS session_id
         FROM marked)
       SELECT user_id,
              strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
              count(*) AS n_events,
              sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sv
       FROM sess GROUP BY user_id, session_id
       ORDER BY user_id, session_start""",
    doc="Batch sessionization (gaps-and-islands: lag + cumulative sum + "
    "groupBy) with a 30-minute gap — the batch twin of the streaming "
    "session_window operator, fully oracle-checkable.  One hash shuffle on "
    "user_id feeds both window functions and the final aggregate.",
)
def q31(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "ts",
        "value",
        (
            (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1_800_000_000
            )
            | F.lag("ts").over(w).isNull()
        )
        .cast("int")
        .alias("new_s"),
        "event_id",
    )
    sess = marked.select(
        "user_id", "ts", "value", F.sum("new_s").over(w).alias("session_id")
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            sum_value_e2().alias("sv"),
        )
        .select("user_id", "session_start", "n_events", "sv")
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------- q32 percentiles
_CUM_BUCKET = 100_000  # cents per bucket for the two-level running sum


def _two_level_cum(
    hist: DataFrame, part: tuple[str, ...] = (), with_total: bool = False
) -> DataFrame:
    """Running count over a (part…, cents, c) value histogram WITHOUT a
    single global-order task (closes the r12 watch item on q68/q32):
    ``cum(cents) = within-bucket running sum + sum of preceding buckets``
    with ``bucket = cents div 100_000``.

    Scale argument, in absolutes: the per-bucket window partitions on
    (part…, bucket), and a bucket spans 100k distinct cents values, so
    NO window task ever holds more than 100k rows REGARDLESS of SF; the
    bucket-prefix frame has ``max_cents / 100_000`` rows per group
    (~100 for a $100k price grid — bounded by the price domain, not the
    data), so its single-task window and its broadcast back onto the
    histogram are O(domain/bucket), never O(rows).  Value-identical to
    the one-window form because bucket order is monotone in cents
    (nonnegative domain — integer `div` truncates toward zero, so the
    identity needs cents ≥ 0)."""
    inner = hist.withColumn("bucket", F.expr(f"cents div {_CUM_BUCKET}"))
    in_w = (
        Window.partitionBy(*part, "bucket")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inner = inner.withColumn("incum", F.sum("c").over(in_w))
    btot = inner.groupBy(*part, "bucket").agg(F.sum("c").alias("bc"))
    pre_base = Window.partitionBy(*part) if part else Window
    pre_w = pre_base.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    cols = [
        *part,
        "bucket",
        F.coalesce(F.sum("bc").over(pre_w), F.lit(0)).alias("bpre"),
    ]
    if with_total:
        tot_w = Window.partitionBy(*part) if part else Window.partitionBy()
        cols.append(F.sum("bc").over(tot_w).alias("n"))
    bpre = btot.select(*cols)
    out = [*part, "cents", "c", (F.col("incum") + F.col("bpre")).alias("cum")]
    if with_total:
        out.append("n")
    return inner.join(F.broadcast(bpre), [*part, "bucket"]).select(*out)


@query(
    "q32_percentiles",
    """WITH c AS (SELECT l_returnflag,
                         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
                  FROM lineitem),
        hist AS (SELECT l_returnflag, cents, count(*) AS cnt
                 FROM c GROUP BY 1, 2),
        cum AS (SELECT l_returnflag, cents,
                       sum(cnt) OVER (PARTITION BY l_returnflag
                                      ORDER BY cents) AS cum,
                       sum(cnt) OVER (PARTITION BY l_returnflag) AS n
                FROM hist),
        q AS (SELECT l_returnflag, n,
                     min(CASE WHEN cum >= ((n - 1) // 2) + 1
                              THEN cents END) AS lo50,
                     min(CASE WHEN cum >= ((n - 1) // 2) + 2
                              THEN cents END) AS hi50,
                     min(CASE WHEN cum >= ((19 * (n - 1)) // 20) + 1
                              THEN cents END) AS lo95,
                     min(CASE WHEN cum >= ((19 * (n - 1)) // 20) + 2
                              THEN cents END) AS hi95
              FROM cum GROUP BY 1, 2)
       SELECT l_returnflag,
              ((2 * lo50 + ((n - 1) % 2) * (coalesce(hi50, lo50) - lo50) + 1)
               // 2) / 100.0 AS p50,
              ((20 * lo95 + ((19 * (n - 1)) % 20) * (coalesce(hi95, lo95) - lo95)
                + 10) // 20) / 100.0 AS p95
       FROM q ORDER BY l_returnflag""",
    doc="Exact interpolated percentiles per group (percentile_cont "
    "semantics: 0-based position q*(n-1), linear interpolation) computed "
    "ENTIRELY in integers over a value histogram: both element lookups "
    "are rank probes on a per-group running count, the interpolated "
    "value is carried in den-ths (halves for p50, twentieths for p95 — "
    "q*(n-1) is rational with denominator 2/20, so den*value is an exact "
    "integer), and the 2-decimal output is half-up integer division with "
    "one final /100.0 (r13 — replaces a terminal round(x/100, 2) whose "
    ".5 boundaries hit the shortest-decimal rounding trap).  The "
    "approximate path for 100 TB is approx_percentile / t-digest — "
    "bounded state; the exact path's state is the bounded cents domain, "
    "never a full sort of the fact (the q68 histogram idiom).",
)
def q32(spark: SparkSession, sf: str) -> DataFrame:
    """Histogram-exact percentile_cont in pure integers (r13).

    Identity used for the rank probes: the 0-based i-th element of the
    sorted per-group multiset is the smallest cents whose running count
    reaches i+1.  With pos = num·(n−1)/den, lo = v[pos div 1], hi =
    v[lo_idx+1] (NULL → lo when the fraction r is 0), the interpolated
    value in den-ths is V = den·lo + r·(hi−lo), and the emitted 2-decimal
    dollar value is halfup(V/den)/100 = ((2V + den) div 2den)/100 — all
    BIGINT until one final IEEE division.

    Scale shape: the fact collapses to a (flag, cents) histogram via one
    map-side-combinable aggregate; the running count is the TWO-LEVEL
    cumulative sum (``_two_level_cum``): per-(flag, bucket) windows of
    ≤100k rows each plus a per-flag bucket-prefix frame bounded by the
    price domain — no task ever windows the whole per-flag cents
    domain, closing the r12 watch item instead of inheriting it."""
    li = _t(spark, sf, "lineitem").select(
        "l_returnflag", _int_units(F.col("l_extendedprice")).alias("cents")
    )
    hist = li.groupBy("l_returnflag", "cents").agg(F.count(F.lit(1)).alias("c"))
    cum = _two_level_cum(hist, part=("l_returnflag",), with_total=True)
    probes = []
    for num, den, tag in ((1, 2, "50"), (19, 20, "95")):
        lo_idx_p1 = F.expr(f"(({num} * (n - 1)) div {den}) + 1")
        probes += [
            F.min(F.when(F.col("cum") >= lo_idx_p1, F.col("cents"))).alias(f"lo{tag}"),
            F.min(F.when(F.col("cum") >= lo_idx_p1 + 1, F.col("cents"))).alias(
                f"hi{tag}"
            ),
        ]
    return (
        cum.groupBy("l_returnflag", "n")
        .agg(*probes)
        .select(
            "l_returnflag",
            # final /100.0 via the Python operator: a 100.0 literal inside
            # the SQL string parses as DECIMAL and would type the output
            # decimal instead of the declared double
            (
                F.expr(
                    "(2 * lo50 + ((n - 1) % 2) * (coalesce(hi50, lo50) - lo50)"
                    " + 1) div 2"
                )
                / 100.0
            ).alias("p50"),
            (
                F.expr(
                    "(20 * lo95 + ((19 * (n - 1)) % 20)"
                    " * (coalesce(hi95, lo95) - lo95) + 10) div 20"
                )
                / 100.0
            ).alias("p95"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------- q33 pivot
@query(
    "q33_pivot",
    """SELECT l_returnflag,
              sum(CASE WHEN l_linestatus = 'F'
                       THEN CAST(round(l_quantity) AS BIGINT) ELSE 0 END) / 1.0 AS F,
              sum(CASE WHEN l_linestatus = 'O'
                       THEN CAST(round(l_quantity) AS BIGINT) ELSE 0 END) / 1.0 AS O
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    doc="Pivot (wide aggregation): Spark groupBy().pivot() with explicit "
    "values — compiles to the same single-shuffle conditional aggregation "
    "as the oracle's CASE form; explicit pivot values avoid the extra "
    "distinct-values job at scale.  l_quantity is integer-valued, so the "
    "pivoted totals travel as exact BIGINT sums (order-safe — the p05 "
    "pattern) with one float division at the end to keep the declared "
    "1-decimal double shape.",
)
def q33(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")))
        .na.fill(0)
        .select(
            "l_returnflag",
            (F.col("F") / F.lit(1.0)).alias("F"),
            (F.col("O") / F.lit(1.0)).alias("O"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------- q34 as-of join
@query(
    "q34_asof_join",
    """WITH p AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts AS click_ts FROM events
               WHERE event_type = 'click')
       SELECT p.event_id, p.user_id,
              COALESCE(c.click_id, -1) AS click_id,
              COALESCE(CAST(epoch_us(p.ts) - epoch_us(c.click_ts) AS BIGINT),
                       -1) AS lag_us
       FROM p ASOF LEFT JOIN c
         ON p.user_id = c.user_id AND p.ts >= c.click_ts
       ORDER BY p.event_id""",
    doc="As-of join (operators/asof.py): each purchase attributed to the "
    "user's most recent click at-or-before it.  Spark has no ASOF JOIN; the "
    "operator is the union-and-window form — ONE shuffle on user_id, no "
    "join node, O(1) window state — vs DuckDB's native ASOF LEFT JOIN as "
    "the oracle.  A naive range join + row_number would expand each "
    "purchase by the user's whole click history; this never builds that "
    "intermediate (see module docstring for the 100 TB argument).",
)
def q34(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.asof import asof_join

    e = _t(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    out = asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="click_ts",
        tiebreak="click_id",
    )
    # COALESCE(-1) in both engines: keeps the left-join semantics visible
    # (-1 = no prior click) without nullable-integer representation skew
    # between the two result transports.
    return out.select(
        "event_id",
        "user_id",
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.coalesce(
            F.unix_micros("ts") - F.unix_micros("_asof_ts"), F.lit(-1)
        ).alias("lag_us"),
    ).orderBy("event_id")


# ---------------------------------------------------------------- q35 TPC-H Q3 shape
@query(
    "q35_tpch_q3",
    """SELECT l_orderkey,
              CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
              strftime(o_orderdate, '%Y-%m-%d') AS odate
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < DATE '1998-07-01'
         AND l_shipdate > DATE '1998-07-01'
       GROUP BY l_orderkey, o_orderdate
       ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    doc="TPC-H Q3 shape: 3-table join, selective dim filter, aggregate, "
    "top-k.  The segment filter reaches the customer scan (PushedFilters); "
    "the filtered customer side broadcasts; revenue sums in DECIMAL so the "
    "result is bit-identical across engines (double addition is "
    "order-dependent and a 32-way partial agg sums in a different order "
    "than the oracle), rounded to cents while still DECIMAL, as q36 does "
    "(a half-cent sum has no exact double).  Top-10 is "
    "TakeOrderedAndProject — no global sort.",
)
def q35(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1998-07-01")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1998-07-01")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(18,4)")), 2
            ).cast("double").alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------- q36 TPC-H Q5 shape
@query(
    "q36_tpch_q5",
    """SELECT n_name,
              CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
       GROUP BY n_name ORDER BY revenue DESC, n_name""",
    doc="TPC-H Q5 shape: 6-table join (local-supplier condition makes the "
    "join graph cyclic — the classic join-reordering stress).  Catalyst + "
    "AQE pick the order; nation/region/supplier broadcast; the only big "
    "shuffle is lineitem⋈orders.  DECIMAL sum for cross-engine exactness "
    "(per-nation groups sum ~1e4 doubles — float rounding WOULD differ), "
    "rounded to cents while still DECIMAL: a sum ending in exactly half a "
    "cent has no exact double, and rounding after the cast split the "
    "engines (both round a DECIMAL half away from zero).",
)
def q36(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(18,4)")), 2
            ).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# ---------------------------------------------------------------- q37 Python UDTF
@query(
    "q37_udtf_sentences",
    """WITH s AS (SELECT doc_id, unnest(string_split(text, '. ')) AS sent
                  FROM documents)
       SELECT doc_id, count(*) AS n_sent,
              round(avg(length(sent)), 2) AS avg_len
       FROM s GROUP BY doc_id ORDER BY doc_id""",
    doc="User-defined table function surface (SURVEY §2.8): a Python UDTF "
    "registered with spark.udtf.register and applied as a LATERAL table "
    "factor splits documents into sentences; aggregation runs natively on "
    "top.  Demonstrates the engine's UDTF extension point end-to-end "
    "against a plain-SQL oracle.  (The production path for THIS particular "
    "job is explode(split(...)) — native and codegen'd; the UDTF exists to "
    "prove arbitrary user table functions plug into the same plan.)",
)
def q37(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    # useArrow: rows cross the Python boundary as Arrow batches instead of
    # pickled one-at-a-time (BatchEvalPython) — same UDTF surface, the
    # vectorized transfer plane every other Python touchpoint here uses.
    @udtf(returnType="sent: string", useArrow=True)
    class SplitSentences:
        def eval(self, text: str):
            if text is None:  # oracle: unnest(string_split(NULL)) yields no rows
                return
            for s in text.split(". "):
                yield (s,)

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf, "documents").createOrReplaceTempView("q37_documents")
    return spark.sql(
        """SELECT d.doc_id, count(*) AS n_sent,
                  round(avg(length(t.sent)), 2) AS avg_len
           FROM q37_documents d, LATERAL split_sentences(d.text) t
           GROUP BY d.doc_id ORDER BY d.doc_id"""
    )


# ---------------------------------------------------------------- q38 recursive CTE
@query(
    "q38_recursive_spine",
    """WITH RECURSIVE months(m, max_m) AS (
         SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE),
                CAST(date_trunc('month', max(o_orderdate)) AS DATE)
         FROM orders
         UNION ALL
         SELECT CAST(m + INTERVAL 1 MONTH AS DATE), max_m FROM months WHERE m < max_m
       )
       SELECT CAST(m AS VARCHAR) AS month, count(o.o_orderkey) AS n_orders,
              round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)
                  AS total_price
       FROM months LEFT JOIN orders o
         ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = m
       GROUP BY m ORDER BY m""",
)
def q38(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive CTE (Spark 4.x WITH RECURSIVE): a complete month spine
    from min to max order date — the warehouse date-spine pattern, which
    surfaces zero-activity months a plain GROUP BY cannot — rolled up with
    a left join.  The recursion carries its stop bound as a column (no
    scalar subquery in the recursive step); total_price sums in DECIMAL so
    any plan/partitioning order is bit-identical (q36's policy).  Scale:
    the spine is O(months) rows on one task; the join broadcasts it
    against orders."""
    load_table(spark, sf, "orders").createOrReplaceTempView("q38_orders")
    return spark.sql(
        """WITH RECURSIVE months(m, max_m) AS (
             SELECT CAST(date_trunc('MONTH', min(o_orderdate)) AS DATE),
                    CAST(date_trunc('MONTH', max(o_orderdate)) AS DATE)
             FROM q38_orders
             UNION ALL
             SELECT CAST(m + INTERVAL '1' MONTH AS DATE), max_m
             FROM months WHERE m < max_m
           )
           SELECT CAST(m AS STRING) AS month, count(o.o_orderkey) AS n_orders,
                  round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)
                      AS total_price
           FROM months LEFT JOIN q38_orders o
             ON CAST(date_trunc('MONTH', o.o_orderdate) AS DATE) = m
           GROUP BY m ORDER BY m"""
    )


# ---------------------------------------------------------------- q39 time-range frame
@query(
    "q39_time_range_frame",
    """SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS od,
              round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate
                RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
                  AS trailing30
       FROM orders ORDER BY o_custkey, od, trailing30 LIMIT 100""",
)
def q39(spark: SparkSession, sf: str) -> DataFrame:
    """Time-RANGE window frame: per-customer trailing-30-day order total —
    the value-based frame q16's ROWS frame cannot express (peers at the
    same date aggregate identically regardless of intra-date order, so the
    result is deterministic without a total peer order).  Sums in DECIMAL
    per q36's policy.  Scale: one hash shuffle on o_custkey, sort within
    partition; frame evaluation is a sliding two-pointer over each
    partition — no per-row rescan."""
    _t(spark, sf, "orders").createOrReplaceTempView("q39_orders")
    return spark.sql(
        """SELECT o_custkey, date_format(o_orderdate, 'yyyy-MM-dd') AS od,
                  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate
                    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
                      AS trailing30
           FROM q39_orders ORDER BY o_custkey, od, trailing30 LIMIT 100"""
    )


# ---------------------------------------------------------------- q40 lateral top-n
@query(
    "q40_lateral_topn",
    """SELECT c.c_custkey, t.o_orderkey,
              round(t.o_totalprice, 2) AS price
       FROM customer c,
       LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                WHERE o.o_custkey = c.c_custkey
                ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
       ORDER BY c.c_custkey, price DESC, t.o_orderkey LIMIT 200""",
)
def q40(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 4 lateral join): top-2 orders by
    price per customer, expressed as a dependent subquery rather than a
    window — the remaining join flavor the surface didn't cover.  Catalyst
    decorrelates the lateral into a ranked join (no per-row re-execution);
    ties are broken by o_orderkey so the result is deterministic."""
    load_table(spark, sf, "customer").createOrReplaceTempView("q40_customer")
    load_table(spark, sf, "orders").createOrReplaceTempView("q40_orders")
    return spark.sql(
        """SELECT c.c_custkey, t.o_orderkey,
                  round(t.o_totalprice, 2) AS price
           FROM q40_customer c,
           LATERAL (SELECT o_orderkey, o_totalprice FROM q40_orders o
                    WHERE o.o_custkey = c.c_custkey
                    ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
           ORDER BY c.c_custkey, price DESC, t.o_orderkey LIMIT 200"""
    )


# ---------------------------------------------------------------- q41 unpivot
@query(
    "q41_unpivot",
    """SELECT o_orderkey, metric, round(val, 2) AS val
       FROM (SELECT o_orderkey,
                    round(o_totalprice, 2) AS totalprice,
                    CAST(o_custkey AS DOUBLE) AS custkey,
                    CAST(length(o_orderpriority) AS DOUBLE) AS prio_len
             FROM orders WHERE o_orderkey <= 2000)
       UNPIVOT (val FOR metric IN (totalprice, custkey, prio_len))
       ORDER BY o_orderkey, metric""",
)
def q41(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long reshape (UNPIVOT / melt): three per-order measures become
    (key, metric, value) rows — the missing relational reshape operator
    (pivot q33 covers long→wide).  Spark's native unpivot compiles to an
    Expand node: each input row emits one row per measure inside codegen,
    no join, no shuffle beyond the final sort — at 100 TB the reshape is a
    map-side multiplication of rows, exactly like the SQL UNPIVOT."""
    o = _t(spark, sf, "orders")
    wide = o.filter(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
        F.length("o_orderpriority").cast("double").alias("prio_len"),
    )
    return (
        wide.unpivot(
            ids=["o_orderkey"],
            values=["totalprice", "custkey", "prio_len"],
            variableColumnName="metric",
            valueColumnName="v",
        )
        .select("o_orderkey", "metric", F.round("v", 2).alias("val"))
        .orderBy("o_orderkey", "metric")
    )


# ---------------------------------------------------------------- q42 grouping sets
@query(
    "q42_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
              GROUPING(l_returnflag, l_linestatus) AS gid,
              count(*) AS c,
              CAST(sum(l_quantity) AS BIGINT) AS qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                               (l_returnflag), ())
       ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
)
def q42(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id — the general form rollup
    (q13) and cube (q14) specialize; gid disambiguates a real NULL group
    key from a superaggregate row, which the bare rollup output cannot.
    Spark plans one Expand + one hash aggregate: each row replicates once
    per grouping set map-side, so the shuffle carries (set, keys) partials
    — the same single-pass plan the SQL standard intends."""
    load_table(spark, sf, "lineitem").createOrReplaceTempView("q42_lineitem")
    return spark.sql(
        """SELECT l_returnflag, l_linestatus,
                  grouping_id(l_returnflag, l_linestatus) AS gid,
                  count(*) AS c,
                  CAST(sum(l_quantity) AS BIGINT) AS qty
           FROM q42_lineitem
           GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                   (l_returnflag), ())
           ORDER BY gid, l_returnflag ASC NULLS FIRST,
                    l_linestatus ASC NULLS FIRST"""
    )


# ---------------------------------------------------------------- q43 TPC-H Q18
_Q18_QTY = 300


@query(
    "q43_tpch_q18",
    f"""SELECT c_name, c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS od,
               round(o_totalprice, 2) AS totalprice,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        FROM customer, orders, lineitem
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey
                             HAVING sum(l_quantity) > {_Q18_QTY})
          AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY totalprice DESC, o_orderdate, o_orderkey LIMIT 100""",
)
def q43(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): an aggregated HAVING subquery
    feeds an IN predicate over a three-way join — the query shape that
    stresses subquery decorrelation and join ordering together.  Catalyst
    rewrites the IN as a LEFT SEMI join against the pre-aggregated keys,
    so lineitem is scanned twice but only (l_orderkey, sum) survives the
    first pass — at 100 TB the semi-join side is ~0.1% of orders and the
    big join probes it instead of materializing the subquery per row.
    o_orderkey is unique per group row, so the LIMIT is deterministic
    under the (totalprice, orderdate, orderkey) order."""
    li = _t(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > _Q18_QTY)
        .select(F.col("l_orderkey").alias("big_okey"))
    )
    o = _t(spark, sf, "orders").join(
        big, F.col("o_orderkey") == F.col("big_okey"), "left_semi"
    )
    c = _t(spark, sf, "customer")
    return (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("long").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "od", "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------- q44 SCD2 build
@query(
    "q44_scd2_dimension",
    """WITH e AS (SELECT user_id, ts, event_type,
                         CASE WHEN lag(event_type) OVER w IS NULL
                                OR lag(event_type) OVER w <> event_type
                              THEN 1 ELSE 0 END AS chg
                  FROM events
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        v AS (SELECT user_id, ts, event_type,
                     sum(chg) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS version
              FROM e),
        s AS (SELECT user_id, CAST(version AS INTEGER) AS version,
                     event_type AS status,
                     min(ts) AS vf, count(*) AS n_events
              FROM v GROUP BY user_id, version, event_type)
       SELECT user_id, version, status,
              strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
              coalesce(strftime(lead(vf) OVER (PARTITION BY user_id
                                               ORDER BY version),
                                '%Y-%m-%d %H:%M:%S'), 'current') AS valid_to,
              n_events
       FROM s ORDER BY user_id, version""",
)
def q44(spark: SparkSession, sf: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: each user's event_type acts
    as a tracked attribute; every change opens a new version row with
    [valid_from, valid_to) effective dating (gaps-and-islands change
    detection + a lead window for the closing timestamp; the open version
    closes with 'current').  This is the standard warehouse pattern for
    dimension history — expressed as three window passes that all reuse
    ONE user_id hash partitioning: the change-flag lag, the version-id
    running sum, and the valid_to lead (the aggregate between them is
    co-partitioned on its grouping prefix).  (user_id, ts) is unique in
    the testdata, so versioning is deterministic."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    v = e.select("user_id", "ts", "event_type").withColumn(
        "version",
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    s = (
        v.groupBy("user_id", F.col("version").cast("int").alias("version"),
                  F.col("event_type").alias("status"))
        .agg(F.min("ts").alias("vf"), F.count(F.lit(1)).alias("n_events"))
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return (
        s.select(
            "user_id",
            "version",
            "status",
            F.date_format("vf", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
            F.coalesce(
                F.date_format(F.lead("vf").over(wv), "yyyy-MM-dd HH:mm:ss"),
                F.lit("current"),
            ).alias("valid_to"),
            "n_events",
        )
        .orderBy("user_id", "version")
    )


# ---------------------------------------------------------------- q45 funnel
@query(
    "q45_funnel_steps",
    """WITH o AS (SELECT user_id, ts, event_type,
                         min(CASE WHEN event_type = 'view' THEN ts END)
                           OVER w AS t_view
                  FROM events
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING)),
        o2 AS (SELECT user_id, ts, event_type, t_view,
                      min(CASE WHEN event_type = 'click' AND t_view IS NOT NULL
                                AND t_view < ts THEN ts END)
                        OVER w AS t_click
               FROM o
               WINDOW w AS (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING)),
        o3 AS (SELECT user_id, ts, event_type, t_view, t_click,
                      min(CASE WHEN event_type = 'purchase'
                                AND t_click IS NOT NULL
                                AND t_click < ts THEN ts END)
                        OVER w AS t_buy
               FROM o2
               WINDOW w AS (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING)),
        u AS (SELECT user_id,
                     max(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS s1,
                     max(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS s2,
                     max(CASE WHEN t_buy IS NOT NULL THEN 1 ELSE 0 END) AS s3
              FROM o3 GROUP BY user_id)
       SELECT 'step1_view' AS step, CAST(sum(s1) AS BIGINT) AS n_users FROM u
       UNION ALL
       SELECT 'step2_click', CAST(sum(s2) AS BIGINT) FROM u
       UNION ALL
       SELECT 'step3_purchase', CAST(sum(s3) AS BIGINT) FROM u
       ORDER BY step""",
)
def q45(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase, strictly
    increasing timestamps): how many users complete each prefix of the
    funnel IN ORDER — the clickstream sequence-match a plain per-type
    count cannot express (a purchase before the first qualifying click
    must not count).  Each step's first-completion time is a running
    conditional min over the previous step's column, so the three
    cascaded windows and the per-user collapse all reuse ONE user_id
    hash partitioning and one sort — sequence matching without
    self-joins or UDFs, the shape that survives a billion-user
    clickstream."""
    e = load_table(spark, sf, "events").select("user_id", "ts", "event_type")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    o = e.withColumn(
        "t_view", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    o2 = o.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & F.col("t_view").isNotNull()
                & (F.col("t_view") < F.col("ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    o3 = o2.withColumn(
        "t_buy",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("t_click").isNotNull()
                & (F.col("t_click") < F.col("ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    u = o3.groupBy("user_id").agg(
        F.max(F.col("t_view").isNotNull().cast("int")).alias("s1"),
        F.max(F.col("t_click").isNotNull().cast("int")).alias("s2"),
        F.max(F.col("t_buy").isNotNull().cast("int")).alias("s3"),
    )
    totals = u.agg(
        F.sum("s1").cast("long").alias("step1_view"),
        F.sum("s2").cast("long").alias("step2_click"),
        F.sum("s3").cast("long").alias("step3_purchase"),
    )
    return (
        totals.unpivot([], ["step1_view", "step2_click", "step3_purchase"],
                       "step", "n_users")
        .orderBy("step")
    )


# ---------------------------------------------------------------- q46 resample + ffill
@query(
    "q46_resample_ffill",
    """WITH bounds AS (SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
                       FROM events),
        days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                   AS day FROM bounds),
        users AS (SELECT DISTINCT user_id FROM events),
        grid AS (SELECT user_id, day FROM users, days),
        daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
                         count(*) AS n, arg_max(value, ts) AS lastv
                  FROM events GROUP BY 1, 2),
        j AS (SELECT g.user_id, g.day,
                     coalesce(d.n, 0) AS n_events, d.lastv
              FROM grid g LEFT JOIN daily d USING (user_id, day))
       SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
              CAST(n_events AS BIGINT) AS n_events,
              round(coalesce(last_value(lastv IGNORE NULLS) OVER (
                        PARTITION BY user_id ORDER BY day
                        ROWS UNBOUNDED PRECEDING), 0.0), 2) AS filled_value
       FROM j ORDER BY user_id, day""",
)
def q46(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series resampling to a regular daily grid with forward-fill —
    the gap-filling operator telemetry/IoT pipelines run before any
    modeling: every (user, day) cell exists even when no event occurred,
    carrying that day's event count and the last observed value carried
    forward (days before a user's first event fill with 0.0).  The grid
    bounds come from ONE broadcast min/max row; the per-day 'close' is
    max_by(value, ts) (ts is unique per user, so deterministic); the fill
    is last_value IGNORE NULLS over the user's day order.

    Scale shape: grid construction is a broadcast cross of (distinct
    users) × (date sequence exploded in codegen) — never a shuffle of the
    event stream; the daily aggregate map-side combines to one row per
    (user, day) before its (user, day) exchange; the fill window adds one
    user_id exchange over the GRID (users × horizon rows, independent of
    event volume) — the event stream itself shuffles exactly once."""
    e = load_table(spark, sf, "events")
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    users = e.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(days))
    daily = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("max_by(value, ts)").alias("lastv"),
    )
    j = grid.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        "lastv",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.round(
            F.coalesce(F.last("lastv", ignorenulls=True).over(w), F.lit(0.0)), 2
        ).alias("filled_value"),
    ).orderBy("user_id", "day")


# ---------------------------------------------------------------- q47 TPC-H Q21 shape
_Q47_NATION = "NATION_7"
_Q47_LATE_DAYS = 90


@query(
    "q47_tpch_q21",
    f"""SELECT s_name, count(*) AS numwait
        FROM supplier, lineitem l1, orders, nation
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL {_Q47_LATE_DAYS} DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o_orderdate
                                               + INTERVAL {_Q47_LATE_DAYS} DAY)
          AND s_nationkey = n_nationkey
          AND n_name = '{_Q47_NATION}'
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""",
)
def q47(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): a correlated
    EXISTS and a correlated NOT EXISTS over the SAME fact table inside one
    query — the hardest decorrelation pattern in the TPC-H suite.
    Decorrelated here (r13) into per-order WINDOW aggregates over the
    l_orderkey partition: the fact is scanned ONCE (the semi/anti
    self-join pair scanned it three times, the r13 aggregate+join form
    twice), and the only fact-sized shuffle is the single orderkey
    exchange the window pays.  ('Late' adapts to this schema: shipped
    more than {0} days after the order date, since the testdata carries
    no receipt/commit dates.)""".format(_Q47_LATE_DAYS)
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late_cut = F.date_add(F.col("o_orderdate"), _Q47_LATE_DAYS)
    # Decorrelate via ONE per-order aggregate instead of the semi+anti
    # self-join pair.  Valid because the lateness cutoff is constant per
    # order (o_orderdate is functionally determined by l_orderkey):
    #   EXISTS  (other supplier in the order)  <=> n_supp >= 2
    #   NOT EXISTS (other supplier late)       <=> n_late_supp == 1
    #     (l1 itself is late, so "exactly one distinct late suppkey"
    #      forces that suppkey to be l1's; null suppkeys are counted by
    #      neither countDistinct nor the original <> predicates, and a
    #      null-suppkey l1 is dropped by the supplier join either way)
    # r13: value-identical vs the semi/anti form at sf0.01 + sf0.1
    # (collected rows compared), oracle green; bench-scale wall time is a
    # wash (driver-latency-bound), the scan/shuffle budget at scale is not.
    lo = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate").cast("date") > late_cut).alias("late"),
    )
    # r13 session 5: both per-order stats as WINDOW aggregates over the
    # l_orderkey partition instead of aggregate + join-back — the lo
    # subtree (fact scan + orders join) evaluated once per consumer in the
    # agg form, so this removes one full fact scan AND the join-back
    # exchange; size(collect_set(x)) over the partition == countDistinct(x)
    # (both drop nulls).  Value-identical at sf0.1 (43/43 ordered rows) and
    # oracle-green; interleaved noop timing 2.29/1.54/1.57 -> 1.35/1.12/0.90 s.
    # Skew posture: orderkey is uniform high-cardinality (lineitems per
    # order bounded ~7), so the window partition never concentrates —
    # unlike t19's term keys, where the window form is crossover-gated.
    from pyspark.sql import Window

    w_ord = Window.partitionBy("l_orderkey")
    no_other_late = (
        lo.select(
            "l_orderkey",
            "l_suppkey",
            "late",
            F.size(F.collect_set("l_suppkey").over(w_ord)).alias("n_supp"),
            F.size(
                F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(w_ord)
            ).alias("n_late_supp"),
        )
        .filter(F.col("late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation").filter(F.col("n_name") == _Q47_NATION)
    return (
        no_other_late.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------- q48 CDC upsert
@query(
    "q48_cdc_upsert",
    """WITH latest AS (SELECT user_id AS key,
                              arg_max(value, ts) AS new_value,
                              arg_max(event_type, ts) AS last_type
                       FROM events GROUP BY user_id),
        base AS (SELECT c_custkey AS key, round(c_acctbal, 2) AS old_value
                 FROM customer),
        m AS (SELECT coalesce(b.key, c.key) AS key, b.old_value,
                     round(c.new_value, 2) AS new_value,
                     CASE
                       WHEN c.key IS NULL THEN 'keep'
                       WHEN c.last_type = 'error' AND b.key IS NOT NULL
                         THEN 'delete'
                       WHEN c.last_type = 'error' THEN 'skip'
                       WHEN b.key IS NULL THEN 'insert'
                       ELSE 'update'
                     END AS action
              FROM base b FULL OUTER JOIN latest c ON b.key = c.key)
       SELECT key, action, old_value,
              CASE WHEN action IN ('update', 'insert') THEN new_value END
                AS new_value
       FROM m WHERE action <> 'skip' ORDER BY key""",
)
def q48(spark: SparkSession, sf: str) -> DataFrame:
    """CDC apply (the MERGE INTO plan every lakehouse runs, as a pure
    declarative join): the change stream collapses to one latest row per
    key (max_by over event time — later changes win), then a single full
    outer join against the base snapshot classifies every key as
    keep / insert / update / delete (a trailing 'error' event is the
    delete marker; deletes for absent keys are no-ops).  The output is the
    auditable action log; the applied table is the same frame filtered to
    keep/insert/update.

    Scale shape: change collapse is one hash aggregate with map-side
    combine (one row per key survives); the merge is ONE join keyed by
    the upsert key — at 1000 executors both sides co-partition on the
    same hash, and AQE turns the change side into a broadcast when a
    micro-batch is small.  No window, no driver loop, retry-safe."""
    latest = (
        load_table(spark, sf, "events")
        .groupBy(F.col("user_id").alias("key"))
        .agg(
            F.expr("max_by(value, ts)").alias("new_value"),
            F.expr("max_by(event_type, ts)").alias("last_type"),
        )
    )
    base = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("bkey"), F.round("c_acctbal", 2).alias("old_value")
    )
    m = base.join(latest, F.col("bkey") == F.col("key"), "full_outer")
    action = (
        F.when(F.col("key").isNull(), "keep")
        .when((F.col("last_type") == "error") & F.col("bkey").isNotNull(), "delete")
        .when(F.col("last_type") == "error", "skip")
        .when(F.col("bkey").isNull(), "insert")
        .otherwise("update")
    )
    return (
        m.select(
            F.coalesce("bkey", "key").alias("key"),
            action.alias("action"),
            "old_value",
            F.when(
                action.isin("update", "insert"), F.round("new_value", 2)
            ).alias("new_value"),
        )
        .filter(F.col("action") != "skip")
        .orderBy("key")
    )


# ---------------------------------------------------------------- q49 bag set-ops
@query(
    "q49_bag_setops",
    """WITH i AS (SELECT l_partkey AS k FROM lineitem
                  INTERSECT ALL SELECT p_partkey FROM part),
        e AS (SELECT l_partkey AS k FROM lineitem
              EXCEPT ALL SELECT p_partkey FROM part)
       SELECT 'intersect_all' AS op, count(*) AS n, count(DISTINCT k) AS nd
       FROM i
       UNION ALL
       SELECT 'except_all', count(*), count(DISTINCT k) FROM e
       ORDER BY op""",
)
def q49(spark: SparkSession, sf: str) -> DataFrame:
    """Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL) — the
    multiset twins of q20/q21's set forms: duplicates count, so the result
    cardinality reflects how MANY lineitems share a part key, not whether
    any does.  Spark plans both as a single aggregate computing per-key
    multiplicities on each side then replicating min(l,r) (intersect) or
    max(l-r,0) (except) copies — one shuffle per operand pair, no
    distinct-then-join double exchange.  The driver row carries both
    counts so the multiset arithmetic is what's checked."""
    li = _t(spark, sf, "lineitem").select(F.col("l_partkey").alias("k"))
    p = _t(spark, sf, "part").select(F.col("p_partkey").alias("k"))
    i = li.intersectAll(p).agg(
        F.lit("intersect_all").alias("op"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("k").alias("nd"),
    )
    e = li.exceptAll(p).agg(
        F.lit("except_all").alias("op"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("k").alias("nd"),
    )
    return i.unionByName(e).orderBy("op")


# ------------------------------------------------- q50 correlated scalar subquery
@query(
    "q50_scalar_subquery",
    """SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS bal
       FROM customer c
       WHERE c_acctbal = (SELECT max(c2.c_acctbal) FROM customer c2
                          WHERE c2.c_nationkey = c.c_nationkey)
       ORDER BY c_nationkey, c_custkey""",
)
def q50(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar aggregate subquery (the TPC-H Q2 shape: 'the row
    whose value equals its group's extreme') — the last subquery flavor
    the surface didn't cover.  Catalyst decorrelates the scalar subquery
    into a grouped aggregate joined back on the correlation key, so the
    fact table is scanned twice but the join probe side carries one row
    per nation — never a per-row re-execution.  Ties (several customers
    sharing the nation max) all qualify, exactly as in SQL."""
    load_table(spark, sf, "customer").createOrReplaceTempView("q50_customer")
    return spark.sql(
        """SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS bal
           FROM q50_customer c
           WHERE c_acctbal = (SELECT max(c2.c_acctbal) FROM q50_customer c2
                              WHERE c2.c_nationkey = c.c_nationkey)
           ORDER BY c_nationkey, c_custkey"""
    )


# ---------------------------------------------------------------- q51 TPC-H Q13 shape
_Q51_EXCLUDED = "1-URGENT"


@query(
    "q51_tpch_q13",
    f"""WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
                    FROM customer LEFT OUTER JOIN orders
                      ON c_custkey = o_custkey
                     AND o_orderpriority <> '{_Q51_EXCLUDED}'
                    GROUP BY c_custkey)
        SELECT c_count, count(*) AS custdist
        FROM co GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""",
)
def q51(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): the
    aggregate-of-an-outer-join-aggregate pattern — customers with ZERO
    qualifying orders must appear in the c_count=0 bin, so the orders
    predicate lives on the join, never as a post-join filter.  (The
    predicate adapts to this schema: excluding one o_orderpriority class
    stands in for Q13's o_comment NOT LIKE, which the testdata lacks.)

    Scale shape: the textbook plan joins full order rows to customers and
    aggregates twice; here the per-customer count is aggregated BEFORE the
    join (map-side combinable, legal because the count depends only on
    join-key equality), so the join probe carries one (custkey, cnt) row
    per ordering customer instead of every order row — the first shuffle
    moves counts, not facts.  Customers absent from the count frame
    coalesce to 0 through the left join, preserving Q13's zero bin."""
    c = _t(spark, sf, "customer").select("c_custkey")
    per_cust = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") != _Q51_EXCLUDED)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    co = c.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left").select(
        F.coalesce("cnt", F.lit(0)).alias("c_count")
    )
    return (
        co.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------- q52 TPC-H Q22 shape
_Q52_NATIONS = (2, 5, 11, 17, 23)


@query(
    "q52_tpch_q22",
    f"""WITH pool AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer
                      WHERE c_nationkey IN {_Q52_NATIONS}),
         cut AS (SELECT avg(c_acctbal) AS a FROM pool WHERE c_acctbal > 0.0)
        SELECT c_nationkey AS cntrycode, count(*) AS numcust,
               -- DuckDB sums BIGINT into HUGEINT, which its pandas fetch
               -- renders as float64 ('2434980.0') — cast back so the
               -- driver's string canonicalization matches Spark's LONG
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS totacctbal_cents
        FROM pool, cut
        WHERE c_acctbal > a
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey ORDER BY cntrycode""",
)
def q52(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): an UNCORRELATED scalar
    aggregate subquery (the above-average account-balance cut) feeding a
    NOT EXISTS anti-join — the one Q-flavor pairing q50 (correlated
    scalar) and q28/q47 (correlated exists) left uncovered.  (Two schema
    adaptations: a c_nationkey IN-list stands in for Q22's
    substring(c_phone) country codes, which the testdata lacks, and the
    anti-join condition is 'placed no URGENT order' because this
    synthetic data gives EVERY customer at least one order — Q22's
    literal 'no orders' would be vacuously empty at every sf.  The
    balance total travels as exact integer cents so the cross-engine
    hash never rides on float-sum ordering.)

    Scale shape: the cut is ONE scalar row broadcast onto the pool (no
    re-execution per row); the NOT EXISTS becomes a left-anti join whose
    build side is orders projected to the 8-byte o_custkey — at 1000
    executors the anti-join shuffles keys, never order rows; the final
    aggregate is a 5-group map-side combine."""
    pool = (
        _t(spark, sf, "customer")
        .filter(F.col("c_nationkey").isin(*_Q52_NATIONS))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    cut = pool.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("a"))
    cand = pool.crossJoin(F.broadcast(cut)).filter(F.col("c_acctbal") > F.col("a"))
    no_urgent = cand.join(
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey"),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_anti",
    )
    return (
        no_urgent.groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias(
                "totacctbal_cents"
            ),
        )
        .orderBy("cntrycode")
    )


# ---------------------------------------------------------------- q53 TPC-H Q17 shape
@query(
    "q53_tpch_q17",
    """WITH thr AS (SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg
                    FROM lineitem GROUP BY l_partkey)
       SELECT CAST(count(*) AS BIGINT) AS n_small,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                AS revenue_cents
       FROM lineitem
       JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
       JOIN thr ON thr.l_partkey = lineitem.l_partkey
       WHERE l_quantity < half_avg""",
)
def q53(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): a CORRELATED scalar
    aggregate subquery over the FACT table — 'lineitems below half their
    part's average quantity'.  q50 covered the correlated-scalar flavor on
    a dimension; here the correlation key is the fact table's own join key,
    the shape Catalyst must decorrelate into a per-part pre-aggregate or
    the query degenerates to one subquery execution per lineitem.

    Scale shape: the half-average frame is built FIRST by a map-side-
    combinable groupBy(l_partkey) — one slim (partkey, threshold) row per
    part, NOT a re-scan per probe row.  The part slice carries NO
    broadcast hint (r13): p_type is 1/6 of part, which SCALES with SF —
    ~33M 8-byte keys ≈ 270 MB raw / >1 GB as a hash relation at SF1000,
    past any sane auto-broadcast threshold.  Unhinted, the planner still
    broadcasts it at bench SF (3.3k keys ≪ 10 MB) and AQE degrades it to
    a shuffled key join at scale instead of OOMing the driver; both joins
    share the l_partkey key so AQE can plan them back to back without a
    re-shuffle of lineitem.  Revenue travels as exact integer cents
    (per-row round, BIGINT sum) so the cross-engine hash never rides
    float-sum ordering."""
    li = _t(spark, sf, "lineitem")
    promo = (
        _t(spark, sf, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    thr = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    small = (
        li.join(promo, li.l_partkey == promo.p_partkey)
        .join(thr.withColumnRenamed("l_partkey", "t_partkey"),
              F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        F.sum(_int_units(F.col("l_extendedprice"))).alias(
            "revenue_cents"
        ),
    )


# ---------------------------------------------------------------- q54 TPC-H Q20 shape
_Q54_QTY_CUT = 2500


@query(
    "q54_tpch_q20",
    f"""SELECT s_suppkey, s_name, s_nationkey
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_type = 'LARGE')
            GROUP BY l_suppkey
            HAVING sum(CAST(l_quantity AS BIGINT)) > {_Q54_QTY_CUT})
        ORDER BY s_suppkey""",
)
def q54(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (excess-volume suppliers): NESTED IN-subqueries —
    an inner semi-join (parts of one type) feeding a grouped HAVING
    aggregate whose keys semi-join the outer table.  This is the last
    subquery nesting flavor the q28/q47/q50/q52 family left uncovered:
    two levels of IN, the inner one pre-filtering the aggregate's input.
    (Adaptation: the reference schema here has no partsupp table, so the
    'half of shipped quantity' availability test becomes a fixed shipped-
    quantity threshold over the same semi-join chain; quantities are
    whole numbers, summed as BIGINT so the HAVING cut is exact.)

    Scale shape: innermost filter is a part-type dimension prune carrying
    NO broadcast hint (r13): the 1/6 p_type slice scales with SF (~33M
    keys ≈ 270 MB raw at SF1000 — too big to force past the threshold);
    unhinted, the planner auto-broadcasts it at bench SF and AQE degrades
    to a shuffled semi join at scale.  The aggregate shuffles slim
    (suppkey, qty) pairs with map-side combine; the outer IN becomes a
    left-semi join probing supplier with one row per qualifying supplier
    — at 1000 executors nothing wider than an 8-byte key ever moves
    twice."""
    large = (
        _t(spark, sf, "part")
        .filter(F.col("p_type") == "LARGE")
        .select("p_partkey")
    )
    shipped = (
        _t(spark, sf, "lineitem")
        .join(large, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > _Q54_QTY_CUT)
        .select("l_suppkey")
    )
    return (
        _t(spark, sf, "supplier")
        .join(shipped, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------- q55 TPC-H Q15 shape
@query(
    "q55_tpch_q15",
    """WITH rev AS (SELECT l_suppkey,
                           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                                    AS BIGINT)) AS total_cents
                    FROM lineitem GROUP BY l_suppkey)
       SELECT s_suppkey, s_name,
              CAST(total_cents AS BIGINT) AS total_cents
       FROM supplier JOIN rev ON s_suppkey = l_suppkey
       WHERE total_cents = (SELECT max(total_cents) FROM rev)
       ORDER BY s_suppkey""",
)
def q55(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the max-of-an-aggregate pattern —
    a derived per-supplier revenue view joined against its OWN global
    maximum.  Distinct from q50 (extreme within a group, correlated) and
    q52 (global average cut, no self-reference): here the scalar comes
    from the same derived aggregate it filters, so the plan must reuse
    one aggregation for both sides or compute it twice; ties all qualify
    exactly as Q15's spec demands.

    Scale shape: revenue is ONE map-side-combinable groupBy over slim
    (suppkey, cents) pairs; the global max is a single-row broadcast onto
    the revenue frame (never a re-execution per row); the supplier join
    probes with at most a handful of tied winners.  Revenue is exact
    integer cents per row before summing — BIGINT arithmetic end to end,
    hash-stable across engines."""
    rev = (
        _t(spark, sf, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                _int_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("total_cents")
        )
    )
    top = rev.agg(F.max("total_cents").alias("m"))
    winners = rev.join(F.broadcast(top), rev.total_cents == F.col("m")).select(
        "l_suppkey", "total_cents"
    )
    return (
        _t(spark, sf, "supplier")
        .join(winners, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_cents")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------- q56 TPC-H Q12 shape
@query(
    "q56_tpch_q12",
    """SELECT l_returnflag,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
       GROUP BY l_returnflag ORDER BY l_returnflag""",
)
def q56(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (late shipments by priority; `l_shipmode` /
    receipt-commit dates don't exist in this corpus, so the lateness
    predicate is ship > order + 60 days and the grouping key is
    `l_returnflag`).  The interesting plan property: the selective
    predicate references BOTH sides, so it cannot push below the join —
    it must run as a post-join filter on the equi-join output while the
    two-way conditional counts stay one map-side-combinable aggregate.

    Scale shape: one shuffle on the join key (both sides large, no
    broadcast), the residual date comparison inside whole-stage codegen
    on the joined rows, then a partial-aggregated rollup to at most a
    few returnflag groups.  All counts are integers — order-safe."""
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------- q57 TPC-H Q19 shape
@query(
    "q57_tpch_q19",
    """SELECT sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                      AS BIGINT)) / 100.0 AS revenue,
              CAST(count(*) AS BIGINT) AS n_lines
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
              AND l_quantity BETWEEN 1 AND 11)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
              AND l_quantity BETWEEN 10 AND 20)
          OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
              AND l_quantity BETWEEN 20 AND 30)""",
)
def q57(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue under an OR-of-ANDs predicate
    spanning both tables).  The classic Q19 lesson applied by hand:
    Catalyst cannot factor a cross-table disjunction, so the build adds
    the per-side IMPLIED prefilters — part: brand ∈ {12,23,34} ∧ size ≤ 15;
    lineitem: quantity ≤ 30 — which ARE pushable (PushedFilters reaches
    both scans), shrink the part side to broadcast size, and leave the
    exact disjunction as the post-join residual.  Semantically a no-op:
    each prefilter is the union of the arms' per-side constraints.

    Scale shape: the part slice carries NO broadcast hint (r13 — VERDICT
    r12 flagged the hint as the round's one scale-killer candidate): the
    three-brand × size≤15 slice is 2.4% of part, which SCALES with SF —
    ~4.8M rows at SF1000, hundreds of MB as an in-memory hash relation,
    past any sane auto-broadcast threshold.  The old justification argued
    a FRACTION of the dimension, not an absolute byte bound — exactly the
    r10/r11 supplier-hint gap.  Unhinted, the planner still broadcasts at
    bench SF (484 rows at sf0.1 ≪ 10 MB) so the drop costs nothing, and
    AQE degrades to a shuffled key join at scale instead of OOMing the
    driver (value-identity + fallback pinned by
    test_q57_q19_part_slice_survives_broadcast_disabled).  Lineitem never
    shuffles below the threshold; revenue sums exact integer cents
    (order-safe, q55 idiom) with one final float division."""
    arms = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    p = _t(spark, sf, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        & F.col("p_size").between(1, 15)
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity").between(1, 30))
    cents = _int_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(arms)
        .agg(
            (F.sum(cents) / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------- q58 TPC-H Q8 shape
_Q58_REGION = "ASIA"
_Q58_NATION = "NATION_7"
_Q58_PTYPE = "PROMO"


@query(
    "q58_tpch_q8",
    f"""WITH vol AS (
          SELECT extract(year FROM o_orderdate) AS o_year,
                 CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                      AS BIGINT) AS cents,
                 n2.n_name AS supp_nation
          FROM lineitem
          JOIN part     ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders   ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON n1.n_nationkey = c_nationkey
          JOIN region   ON r_regionkey = n1.n_regionkey
          JOIN nation n2 ON n2.n_nationkey = s_nationkey
          WHERE r_name = '{_Q58_REGION}' AND p_type = '{_Q58_PTYPE}')
        SELECT CAST(o_year AS BIGINT) AS o_year,
               CAST(sum(CASE WHEN supp_nation = '{_Q58_NATION}'
                             THEN cents ELSE 0 END) AS BIGINT) AS nation_cents,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               ((CAST(sum(CASE WHEN supp_nation = '{_Q58_NATION}'
                               THEN cents ELSE 0 END) AS HUGEINT) * 10000)
                // sum(cents)) / 10000.0 AS mkt_share
        FROM vol GROUP BY o_year ORDER BY o_year""",
)
def q58(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the widest declared join —
    seven relations including a nation SELF-JOIN (n1 routes the
    customer's region filter, n2 names the supplier's nation) — with a
    per-year share ratio.  This is the join-reordering stress case: the
    selective p_type filter must reach the part scan.  Broadcast hints
    go ONLY on relations whose size is bounded regardless of SF:
    nation×2 (25 rows, constant) and region (1 row after the filter).
    Part, supplier and customer ALL scale with SF (the p_type slice is
    1/6 of part in this testdata — ~33M keys ≈ 270 MB raw at SF1000;
    supplier 10k and customer 150k rows/SF — tens of GB at the 100 TB
    regime), so none carries a hint: below the auto-broadcast threshold
    the planner still broadcasts them, above it AQE degrades each to a
    shuffled key join instead of blowing the driver (ADVICE r10 for
    customer; VERDICT r11 for supplier; r13 for the part slice, whose
    old comment argued a fraction of the dimension instead of an
    absolute byte bound).

    The share is exact integer arithmetic end-to-end: per-row cents
    (q55 idiom), two BIGINT sums, and (10^4·a) div b on a DECIMAL(38,0)
    intermediate (HUGEINT in the oracle) — TRUE integer division with no
    long-wrap at any SF, one final float division, no float accumulation
    anywhere."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_type") == _Q58_PTYPE)
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n1 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf, "region").filter(F.col("r_name") == _Q58_REGION)
    cents = _int_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    vol = (
        # part / supplier / customer all SCALE with SF: no hints — a hint
        # would override autoBroadcastJoinThreshold and OOM the driver at
        # cluster scale; unhinted, the planner auto-broadcasts what fits
        # and AQE degrades the rest to shuffled key joins
        # (ADVICE r10 / VERDICT r11 / r13 for the part slice)
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("c_rkey"))
        .join(F.broadcast(n2), F.col("s_nkey") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            cents.alias("cents"),
            "supp_nation",
        )
    )
    nat = F.when(F.col("supp_nation") == _Q58_NATION, F.col("cents")).otherwise(0)
    return (
        vol.groupBy("o_year")
        .agg(
            F.sum(nat).alias("nation_cents"),
            F.sum("cents").alias("total_cents"),
        )
        .select(
            "o_year",
            "nation_cents",
            "total_cents",
            # exact e4 share: the 10^4 multiply rides a DECIMAL(38,0)
            # intermediate (a bare long would wrap at ~9.2e14 total cents
            # — reachable at the 100 TB regime) and `div` (DuckDB `//` on
            # HUGEINT) is TRUE integer division; the quotient is ≤ 10^4 so
            # the long result never overflows, and /10000.0 is one
            # correctly-rounded IEEE op in both engines
            (
                F.expr(
                    "(cast(nation_cents as decimal(38,0)) * 10000)"
                    " div total_cents"
                )
                / 10000.0
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------- q59 TPC-H Q7 shape
_Q59_N1 = "NATION_9"
_Q59_N2 = "NATION_11"


@query(
    "q59_tpch_q7",
    f"""SELECT supp_nation, cust_nation, year(l_shipdate) AS l_year,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN (SELECT n_nationkey AS s_nkey, n_name AS supp_nation
              FROM nation WHERE n_name IN ('{_Q59_N1}', '{_Q59_N2}')) n1
          ON s_nationkey = s_nkey
        JOIN (SELECT n_nationkey AS c_nkey, n_name AS cust_nation
              FROM nation WHERE n_name IN ('{_Q59_N1}', '{_Q59_N2}')) n2
          ON c_nationkey = c_nkey
        WHERE ((supp_nation = '{_Q59_N1}' AND cust_nation = '{_Q59_N2}')
            OR (supp_nation = '{_Q59_N2}' AND cust_nation = '{_Q59_N1}'))
          AND l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3""",
    doc="TPC-H Q7 shape (volume shipping): the symmetric two-nation pair "
    "predicate — an OR across two DIFFERENT dimension aliases that no "
    "single-scan pushdown can express.",
)
def q59(spark: SparkSession, sf: str) -> DataFrame:
    """The q57 posture applied across aliases: each nation alias is
    PREFILTERED to the two-name slice (the implied per-side constraint of
    the OR-of-ANDs, derived by hand because Catalyst cannot factor a
    cross-alias disjunction), so both nation broadcasts carry two rows
    instead of the full table; the pair predicate itself stays a residual
    ABOVE the joins, exact.  Supplier and customer scale with SF and so
    carry no hints (the q58 rule): the fact shuffles for those key joins
    and for orders, AQE free to re-plan each; the ship-date range reaches
    the lineitem scan.  Revenue travels as exact integer cents (p05
    pattern)."""
    names = [_Q59_N1, _Q59_N2]
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n1 = (
        _t(spark, sf, "nation")
        .filter(F.col("n_name").isin(names))
        .select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        _t(spark, sf, "nation")
        .filter(F.col("n_name").isin(names))
        .select(F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation"))
    )
    cents = _int_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    pair = (
        (F.col("supp_nation") == _Q59_N1) & (F.col("cust_nation") == _Q59_N2)
    ) | ((F.col("supp_nation") == _Q59_N2) & (F.col("cust_nation") == _Q59_N1))
    return (
        # supplier and customer scale with SF: no broadcast hints (the
        # q58 rule — hints only on SF-invariant relations; here that is
        # the two 2-row nation slices)
        li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("c_nkey") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------- q60 TPC-H Q10 shape
@query(
    "q60_tpch_q10",
    """SELECT c_custkey, c_name, n_name,
              CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                            AS BIGINT)) AS BIGINT) AS revenue_cents
       FROM customer
       JOIN orders   ON o_custkey = c_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN nation   ON n_nationkey = c_nationkey
       WHERE l_returnflag = 'R'
         AND o_orderdate >= TIMESTAMP '1995-01-01'
         AND o_orderdate <  TIMESTAMP '1995-04-01'
       GROUP BY c_custkey, c_name, n_name
       ORDER BY revenue_cents DESC, c_custkey LIMIT 20""",
    doc="TPC-H Q10 shape (returned-item revenue): selective filters on BOTH "
    "fact scans feeding a high-cardinality group-by with a global top-20.",
)
def q60(spark: SparkSession, sf: str) -> DataFrame:
    """Scale shape: the returnflag filter reaches the lineitem scan and the
    quarter filter the orders scan (both pinned in test_plans), so the
    orderkey join moves only the surviving slice; the per-customer rollup
    is one hash aggregate with map-side partials; the global top-20 is
    TakeOrderedAndProject — per-partition heaps, never a full sort of the
    customer dimension.  Revenue is exact integer cents; ties break on
    c_custkey so the result is deterministic in both engines."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    )
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    cents = _int_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------- q61 TPC-H Q14 shape
@query(
    "q61_tpch_q14",
    """SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                            THEN CAST(floor(l_extendedprice * (1 - l_discount)
                                            * 100 + 0.5) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS promo_cents,
              CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                            AS BIGINT)) AS BIGINT) AS total_cents,
              ((CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                                 AS BIGINT) ELSE 0 END) AS HUGEINT) * 10000)
               // sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                           AS BIGINT))) / 10000.0 AS promo_share
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE l_shipdate >= TIMESTAMP '1995-09-01'
         AND l_shipdate <  TIMESTAMP '1995-10-01'""",
    doc="TPC-H Q14 shape (promo revenue share): one-month fact slice joined "
    "to the part dimension, conditional-aggregation ratio.",
)
def q61(spark: SparkSession, sf: str) -> DataFrame:
    """Scale shape: the month filter reaches the lineitem scan; part — the
    OTHER scaling dimension (200k rows/SF, the q58/customer rule) — gets no
    broadcast hint, so below the auto-broadcast threshold the planner
    broadcasts it and above it AQE falls back to a shuffled key join; both
    scans prune to exactly the referenced columns.  The share is the q58
    idiom: two exact BIGINT cents sums, then (10^4·a) div b on a
    DECIMAL(38,0)/HUGEINT intermediate (a bare long 10^4-multiply would
    wrap at ~9.2e14 total cents — reachable at 100 TB) — TRUE integer
    division, quotient ≤ 10^4, one final float division."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    p = _t(spark, sf, "part")
    cents = _int_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0).cast("long"))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.sum(promo).alias("promo_cents"),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            "promo_cents",
            "total_cents",
            (
                F.expr(
                    "(cast(promo_cents as decimal(38,0)) * 10000)"
                    " div total_cents"
                )
                / 10000.0
            ).alias("promo_share"),
        )
    )


# ---------------------------------------------------------------- q62 TPC-H Q6 shape
@query(
    "q62_tpch_q6",
    """SELECT CAST(count(*) AS BIGINT) AS n_lines,
              sum(CAST(floor(l_extendedprice * l_discount * 10000 + 0.5)
                       AS BIGINT)) / 10000.0 AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate <  TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""",
    doc="TPC-H Q6 shape (forecasting revenue change): the pure scan-"
    "aggregate — three conjunctive fact filters, no join, one global sum.",
)
def q62(spark: SparkSession, sf: str) -> DataFrame:
    """The simplest query in the suite and the purest pushdown witness: at
    100 TB this is ONE pass over the lineitem scan with every predicate in
    PushedFilters, exactly four columns read, a map-side partial sum per
    partition, and a 1-row exchange — if any of that degrades (filter
    evaluated post-scan, extra columns decoded) the plan contract fails.

    extendedprice has 2 decimals and discount 2, so price*discount is an
    exact multiple of 1e-4: per-row e4 integer units (floor(x*1e4+0.5)),
    BIGINT sum (order-independent), ONE division at the end — no float
    accumulation (the p05 pattern)."""
    li = _t(spark, sf, "lineitem")
    rev_e4 = _int_units(F.col("l_extendedprice") * F.col("l_discount"), scale=10000)
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev_e4).alias("_rev_e4"),
        )
        .select("n_lines", (F.col("_rev_e4") / 10000.0).alias("revenue"))
    )


# ---------------------------------------------------------------- q63 TPC-H Q4 shape
@query(
    "q63_tpch_q4",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate <  TIMESTAMP '1996-04-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority""",
    doc="TPC-H Q4 shape (order priority checking): quarter slice of orders, "
    "EXISTS-correlated lineitem probe with a cross-table residual "
    "(late-shipment stand-in for the reference schema's commit<receipt, "
    "which this testdata does not carry), priority rollup.",
)
def q63(spark: SparkSession, sf: str) -> DataFrame:
    """Scale shape: the quarter filter reaches the orders scan, so the
    semi-join probe side is the sliced fact, not all orders; the EXISTS
    becomes a LEFT SEMI key join on orderkey with the cross-table
    late-shipment predicate as the join residual (it references both
    sides, so no single scan can absorb it — the q56 posture); lineitem
    ships only (l_orderkey, l_shipdate).  Both fact sides shuffle on the
    join key — nothing here is broadcastable at scale — and the final
    rollup is 5 groups with map-side partials."""
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------- q64 TPC-H Q9 shape
@query(
    "q64_tpch_q9",
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
              CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                            AS BIGINT)
                       - ((CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) * 3)
                          // 5) * CAST(l_quantity AS BIGINT))
                   AS BIGINT) AS profit_cents
       FROM lineitem
       JOIN part     ON p_partkey = l_partkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN orders   ON o_orderkey = l_orderkey
       JOIN nation   ON n_nationkey = s_nationkey
       WHERE p_name LIKE '%gear%'
       GROUP BY n_name, year(o_orderdate)
       ORDER BY nation, o_year DESC""",
    doc="TPC-H Q9 shape (product-type profit): five-relation join, per-"
    "(nation, year) profit where supply cost derives deterministically "
    "from p_retailprice (this testdata has no partsupp table).",
)
def q64(spark: SparkSession, sf: str) -> DataFrame:
    """Scale shape: the p_name LIKE filter prunes part BEFORE any join
    (reaching the scan as a pushed predicate); part, supplier, and
    customer-sized relations all SCALE with SF, so none carries a
    broadcast hint — only nation (25 rows, constant) does; the fact
    shuffles on its three join keys with AQE free to pick broadcast below
    threshold.  Profit is exact integer cents end-to-end: revenue cents
    (q55 idiom) minus a cost derived by INTEGER arithmetic —
    (retail_cents*3) div 5 — times the integer quantity; BIGINT sums, no
    float accumulation.  Cites reference README.md:9-13 (relational
    compute delegated to Spark)."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_name").like("%gear%"))
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders")
    n = _t(spark, sf, "nation")
    rev_cents = _int_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    # cost_cents = (retail_cents * 3) div 5 — pure integer arithmetic
    # (operands always positive, so Spark's truncating `div` == DuckDB's
    # flooring `//`)
    profit = rev_cents - F.expr(
        "(cast(p_retailprice * 100 + 0.5 as long) * 3) div 5"
    ) * F.col("l_quantity").cast("long")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).alias("profit_cents"))
        .orderBy("nation", F.col("o_year").desc())
    )


# ---------------------------------------------------------------- q65 TPC-H Q2 shape
_Q65_SIZE = 15
_Q65_TYPE = "ECONOMY"
_Q65_REGION = "EUROPE"


@query(
    "q65_tpch_q2",
    f"""WITH ps AS (
          SELECT l_partkey, l_suppkey,
                 min(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                          AS BIGINT)) AS cost_cents
          FROM lineitem GROUP BY l_partkey, l_suppkey),
        cand AS (
          SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name, cost_cents,
                 row_number() OVER (PARTITION BY p_partkey
                                    ORDER BY cost_cents ASC, s_suppkey) AS rn
          FROM ps
          JOIN part     ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation   ON n_nationkey = s_nationkey
          JOIN region   ON r_regionkey = n_regionkey
          WHERE p_size = {_Q65_SIZE} AND p_type = '{_Q65_TYPE}'
            AND r_name = '{_Q65_REGION}')
        SELECT s_acctbal, s_name, n_name, p_partkey, cost_cents
        FROM cand WHERE rn = 1
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
    doc="TPC-H Q2 shape (minimum-cost supplier): per-part argmin over a "
    "part-supplier cost relation DERIVED from lineitem (this testdata has "
    "no partsupp; min observed line revenue stands in for supply cost), "
    "restricted to one size/type slice and one region.",
)
def q65(spark: SparkSession, sf: str) -> DataFrame:
    """Scale shape: the derived ps relation is ONE hash aggregate over slim
    (partkey, suppkey, cents) triples with map-side partials — at 100 TB
    this is the only full-fact pass, and it reduces before any join.  The
    size+type slice prunes part at its scan; part and supplier scale with
    SF (no hints — the q58 rule), while nation and the 1-row region slice
    broadcast.  The correlated min becomes a per-part window argmin
    (partial WindowGroupLimit truncates map-side), tie-broken on s_suppkey
    so both engines pick the same supplier; the top-100 is
    TakeOrderedAndProject with p_partkey completing a deterministic key."""
    li = _t(spark, sf, "lineitem")
    cents = _int_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    ps = (
        li.select("l_partkey", "l_suppkey", cents.alias("cents"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("cents").alias("cost_cents"))
    )
    p = _t(spark, sf, "part").filter(
        (F.col("p_size") == _Q65_SIZE) & (F.col("p_type") == _Q65_TYPE)
    )
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == _Q65_REGION)
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("cost_cents").asc(), F.col("s_suppkey")
    )
    return (
        ps.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "cost_cents")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------- q66 TPC-H Q11 shape
_Q66_NATION = "NATION_7"


@query(
    "q66_tpch_q11",
    f"""WITH v AS (
          SELECT l_partkey,
                 sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS value_cents
          FROM lineitem
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation   ON n_nationkey = s_nationkey
          WHERE n_name = '{_Q66_NATION}'
          GROUP BY l_partkey)
        SELECT l_partkey, CAST(value_cents AS BIGINT) AS value_cents
        FROM v WHERE CAST(value_cents AS HUGEINT) * (SELECT count(*) FROM v)
                     > 2 * (SELECT CAST(sum(value_cents) AS HUGEINT) FROM v)
        ORDER BY value_cents DESC, l_partkey""",
    doc="TPC-H Q11 shape (important stock): per-part value held by one "
    "nation's suppliers, kept only above a scalar-subquery threshold "
    "(2x the mean — SF-invariant, unlike Q11's fraction/SF constant).",
)
def q66(spark: SparkSession, sf: str) -> DataFrame:
    """Scale shape: the nation slice broadcasts (25 rows) but supplier
    scales with SF and carries no hint; the per-part rollup is one hash
    aggregate of slim (partkey, cents) pairs.  The threshold is a 1-ROW
    driver-free scalar (global sum + count over the aggregate's own
    output) that cross-joins back as a broadcast literal — the q50
    posture — so the HAVING costs one extra pass over the already-reduced
    per-part rows, never over the fact.  Using 2x-mean instead of TPC-H's
    fraction/SF keeps the predicate meaningful at ANY scale factor, and
    the "above the mean" comparison is cross-multiplied ENTIRELY in exact
    integers — value·n > 2·total on a DECIMAL(38,0)/HUGEINT intermediate
    — because a float avg() is partition-order-dependent and a part
    sitting exactly on the 2x boundary would flip between engines (the
    s05/t09 lesson, applied at birth instead of in a later round)."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation").filter(F.col("n_name") == _Q66_NATION)
    cents = _int_units(F.col("l_extendedprice"))
    v = (
        li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("l_partkey", cents.alias("cents"))
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("value_cents"))
    )
    stats = v.agg(
        F.sum("value_cents").alias("grand_total"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        v.crossJoin(F.broadcast(stats))
        .filter(
            F.expr(
                "cast(value_cents as decimal(38,0)) * n_parts"
                " > 2 * cast(grand_total as decimal(38,0))"
            )
        )
        .select("l_partkey", "value_cents")
        .orderBy(F.col("value_cents").desc(), "l_partkey")
    )


# ---------------------------------------------------------------- q67 TPC-H Q16 shape
_Q67_SIZES = (1, 14, 23, 45)


@query(
    "q67_tpch_q16",
    f"""SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
        JOIN part ON p_partkey = l_partkey
        WHERE p_size IN {_Q67_SIZES}
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    doc="TPC-H Q16 shape (parts/supplier relationship): distinct supplier "
    "count per part attribute group, excluding flagged suppliers (negative "
    "balance stands in for the reference schema's complaint-comment scan), "
    "over the part-supplier relation derived from lineitem.",
)
def q67(spark: SparkSession, sf: str) -> DataFrame:
    """Scale shape: the size-slice part join prunes the fact FIRST (the
    4-of-50 size set keeps ~8% of pairs), so the dedup exchange that
    feeds count(DISTINCT) moves ~12x fewer rows than deduping all pairs
    before the join would — the join and the size filter commute, and
    Catalyst will not reorder a left-anti across an inner join on its
    own, so the cheap-first order is written explicitly.  No explicit
    .distinct() either: count(DISTINCT) already plans the two-level
    aggregate whose FIRST level dedups (partkey is functionally
    determined by the group columns + suppkey), map-side combined.  The
    excluded-supplier set scales with SF (negative balances are a fixed
    fraction), so the exclusion is a LEFT ANTI key join with no broadcast
    hint — below threshold the planner broadcasts it, above it AQE
    shuffles.  Ordering is fully deterministic (count desc, then the
    complete group key)."""
    li = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf, "part").filter(F.col("p_size").isin(*_Q67_SIZES))
    bad = _t(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# ------------------------------------------------------- q68 quantile sketch audit
_Q68_QS = ((1, 2, "0.50"), (9, 10, "0.90"), (99, 100, "0.99"))  # (num, den, label)


def _q68_oracle() -> str:
    """One UNION ALL branch per quantile; every rank quantity is an exact
    integer and the tolerance check is cross-multiplied (x100) so no
    float division exists anywhere."""
    branches = []
    for num, den, label in _Q68_QS:
        # target rank = ceil(num*n/den), integer form (a + b - 1) // b
        t = f"(({num} * n.n + {den} - 1) // {den})"
        branches.append(f"""
        SELECT '{label}' AS q_label,
               (SELECT min(cents) FROM cum WHERE cum.cum >= {t}) AS exact_cents,
               ((SELECT coalesce(sum(c), 0) FROM hist WHERE cents < av.a{den})
                   * 100 <= {t} * 100 + n.n
                AND
                (SELECT coalesce(sum(c), 0) FROM hist WHERE cents <= av.a{den})
                   * 100 >= {t} * 100 - n.n) AS sketch_within_1pct
        FROM n, av""")
    return f"""WITH c AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                                 AS cents FROM lineitem),
        hist AS (SELECT cents, count(*) AS c FROM c GROUP BY cents),
        cum AS (SELECT cents, c, sum(c) OVER (ORDER BY cents) AS cum FROM hist),
        n AS (SELECT count(*) AS n FROM c),
        av AS (SELECT approx_quantile(cents, 0.5) AS a2,
                      approx_quantile(cents, 0.9) AS a10,
                      approx_quantile(cents, 0.99) AS a100 FROM c)
        {' UNION ALL '.join(branches)}
        ORDER BY q_label"""


@query(
    "q68_quantile_sketch_audit",
    _q68_oracle(),
    doc="Approximate-quantile sketch audit (the q12 idiom for order "
    "statistics): single-pass mergeable quantile sketches are THE way to "
    "compute percentiles at 100 TB, and this query validates the sketch "
    "against the exact histogram-based quantile the way a production "
    "pipeline qualifies its accuracy parameter before trusting it — each "
    "engine audits ITS OWN sketch (GK summary in Spark, t-digest in "
    "DuckDB) against the SAME engine-exact answer.",
)
def q68(spark: SparkSession, sf: str) -> DataFrame:
    """Exact side, built to scale: a value HISTOGRAM (groupBy cents — the
    domain is bounded by the price grid, orders of magnitude smaller than
    the fact) + the TWO-LEVEL running sum over the aggregated domain
    (``_two_level_cum``: per-bucket windows of ≤100k rows + a
    domain-bounded bucket-prefix frame — no single task ever windows the
    whole cents domain); never a full sort of the data.  exact_cents =
    min value whose cumulative count reaches ceil(q·n) —
    nearest-rank-lower, pure integers, so both engines hash
    identically.

    Sketch side: Spark's approx_percentile runs IN THE PLAN (GK summary,
    documented rank error ≤ n/accuracy); the audit checks the sketch
    value's rank INTERVAL [#(< v), #(≤ v)] intersects the target rank
    ±1% of n — interval semantics make the check correct under heavy
    duplicates (where a single value can cover a wide rank range) and
    for interpolated sketch outputs that are not data values (empty
    interval degrades to the point check).  The tolerance comparison is
    cross-multiplied (×100) — exact integers end-to-end, no float
    division.  The emitted boolean uses the 1% bound both engines'
    sketches meet by a wide margin; Spark's tighter n/10000 documented
    bound is pinned separately in tests/test_oracle.py."""
    li = _t(spark, sf, "lineitem").select(
        _int_units(F.col("l_extendedprice")).alias("cents")
    )
    hist = li.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    # r13: the running sum is the two-level form — per-bucket windows of
    # ≤100k rows + a bucket-prefix frame bounded by the price domain —
    # closing the r12 watch item (a single Window.orderBy("cents") task
    # would hold the whole distinct-cents domain at SF1000)
    cum = _two_level_cum(hist)
    # One all-NULL pad row keeps the crossJoin (and so the 3 output
    # labels) alive on EMPTY input, matching the oracle's `FROM n, av`
    # cross join which always emits its 3 rows (ADVICE r12).  On
    # non-empty input the row is value-neutral: every aggregate below
    # conditions on cents/cum, and NULL never satisfies a comparison.
    pad = spark.range(1).select(
        F.lit(None).cast("long").alias("cents"),
        F.lit(None).cast("long").alias("c"),
        F.lit(None).cast("long").alias("cum"),
    )
    cum = cum.unionByName(pad)
    stats = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx(
            "cents", [q[0] / q[1] for q in _Q68_QS], 10000
        ).alias("av"),
    )
    audited = cum.crossJoin(F.broadcast(stats))
    aggs = []
    for i, (num, den, _label) in enumerate(_Q68_QS):
        t = F.expr(f"({num} * n + {den} - 1) div {den}")
        av_i = F.col("av")[i]
        aggs += [
            F.min(F.when(F.col("cum") >= t, F.col("cents"))).alias(f"exact{i}"),
            (
                (
                    F.coalesce(
                        F.sum(F.when(F.col("cents") < av_i, F.col("c"))), F.lit(0)
                    )
                    * 100
                    <= t * 100 + F.col("n")
                )
                & (
                    F.coalesce(
                        F.sum(F.when(F.col("cents") <= av_i, F.col("c"))), F.lit(0)
                    )
                    * 100
                    >= t * 100 - F.col("n")
                )
            ).alias(f"ok{i}"),
        ]
    one = audited.groupBy("n", "av").agg(*aggs)
    stack = ", ".join(
        f"'{label}', exact{i}, ok{i}" for i, (_n, _d, label) in enumerate(_Q68_QS)
    )
    return one.selectExpr(
        f"stack({len(_Q68_QS)}, {stack}) AS (q_label, exact_cents, sketch_within_1pct)"
    ).orderBy("q_label")
