"""Driver-contract queries: Spark builders paired with DuckDB oracle SQL.

Every SQL-expressible operator from SURVEY.md §2 gets a (queries, oracle_sql)
pair over the driver's TPC-H-ish tables (TESTDATA.md). The physics operators
(C2/C3/C6/C8/C9/C10) are twinned by running the *same closed-form algebra*
over testdata numeric columns — this checks the formulas and the piecewise
subrange rule through an independent engine, while the raster-path parity is
carried by pytest vs the scalar oracle.

Cross-engine hash-match discipline (the driver hashes values):
- money aggregates go through exact integer cents: CAST(ROUND(x*100) AS BIGINT)
  summed as BIGINT -> bit-identical across engines (fp sum order never matters);
- outputs of transcendental functions (ln) are round(...,6) on both sides;
- polynomial-only math (+,*,/ with identical parenthesization) is IEEE-
  deterministic and identical in both engines, still rounded for safety;
- every ORDER BY ... LIMIT has a full deterministic tie-break;
- aggregate results that DuckDB widens (SUM(BIGINT) -> HUGEINT) are cast back.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf type-hint strings (PEP 563)
                     # must resolve 'pd.Series' in this module's globals

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import constants as C

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- shared derivations (identical algebra on both sides) -------------------

_DN = "(l_extendedprice % 65535.0) + 1.0"
_RAD = f"3.342e-4 * ({_DN}) + 0.1"


def _sw_case_sql(cwv_expr: str, coef: str) -> str:
    """First-match piecewise selection (OQ-1 rule) as a CASE chain."""
    by = C.sw_coefficients_by_subrange()
    arms = []
    for name in C.SUBRANGE_ORDER:
        c = by[name]
        last = name == C.SUBRANGE_ORDER[-1]
        hi = f"{cwv_expr} <= {c.cwv_max!r}" if last else f"{cwv_expr} < {c.cwv_max!r}"
        arms.append(
            f"WHEN {cwv_expr} >= {c.cwv_min!r} AND {hi} THEN "
            + (f"'{name}'" if coef == "subrange" else repr(getattr(c, coef)))
        )
    return "CASE " + " ".join(arms) + " ELSE NULL END"


# ---------------------------------------------------------------------------
# registry: name -> (spark_builder, oracle_sql | None)
# ---------------------------------------------------------------------------

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, sql)
        return fn
    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


# --- C2: DN -> radiance ------------------------------------------------------

# radiance compared as exact integer micro-units: round(x, 6) is hash-unsafe
# cross-engine at half-way boundaries (DuckDB rounds via fp x*1e6, Spark via
# exact BigDecimal — observed 5/120k rows flipped at sf0.1); an explicit
# CAST(round(x * 1e6) AS BIGINT) makes both engines round the SAME IEEE
# product, so the comparison is exact at every SF.
@register(
    "q_radiance",
    f"""SELECT l_orderkey, l_linenumber,
           CAST(round(({_RAD}) * 1000000.0) AS BIGINT) AS radiance_micro
        FROM lineitem WHERE l_partkey % 10 = 3""",
)
def q_radiance(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter("l_partkey % 10 = 3")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(F.expr(_RAD) * 1000000.0).cast("long").alias("radiance_micro"),
    )


# --- C3: radiance -> brightness temperature ----------------------------------

@register(
    "q_bt",
    f"""SELECT l_orderkey, l_linenumber,
           round(1321.0789 / ln(774.8853 / ({_RAD}) + 1.0), 6) AS bt
        FROM lineitem WHERE l_suppkey % 7 = 2""",
)
def q_bt(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter("l_suppkey % 7 = 2")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(F.expr(f"1321.0789 / ln(774.8853 / ({_RAD}) + 1.0)"), 6).alias("bt"),
    )


# --- C6+C8+C9+C10: full split-window LST as Catalyst column algebra ----------

_T10 = "250.0 + (l_extendedprice % 60.0)"
_T11 = f"({_T10}) - 1.0 - l_discount * 5.0"
_CWV = "l_quantity % 6.3"
_E10 = "CASE WHEN l_returnflag = 'A' THEN 0.971 WHEN l_returnflag = 'N' THEN 0.995 ELSE 0.992 END"
_E11 = "CASE WHEN l_returnflag = 'A' THEN 0.968 WHEN l_returnflag = 'N' THEN 0.996 ELSE 0.998 END"


def _lst_expr() -> str:
    e = f"(({_E10}) + ({_E11})) / 2.0"
    de = f"(({_E10}) - ({_E11}))"
    avg = f"((({_T10}) + ({_T11})) / 2.0)"
    diff = f"((({_T10}) - ({_T11})) / 2.0)"
    sq = f"((({_T10}) - ({_T11})) * (({_T10}) - ({_T11})))"
    b = {i: _sw_case_sql(f"({_CWV})", f"b{i}") for i in range(8)}
    return (
        f"({b[0]}) "
        f"+ (({b[1]}) + ({b[2]}) * (1.0 - ({e})) / ({e}) + ({b[3]}) * ({de}) / (({e}) * ({e}))) * {avg} "
        f"+ (({b[4]}) + ({b[5]}) * (1.0 - ({e})) / ({e}) + ({b[6]}) * ({de}) / (({e}) * ({e}))) * {diff} "
        f"+ ({b[7]}) * {sq}"
    )


def _sw_idx_sql() -> str:
    """First-match subrange INDEX (1-based) — the one cascade every
    coefficient gather shares."""
    by = C.sw_coefficients_by_subrange()
    arms = []
    for i, name in enumerate(C.SUBRANGE_ORDER):
        c = by[name]
        last = name == C.SUBRANGE_ORDER[-1]
        hi = f"({_CWV}) <= {c.cwv_max!r}" if last else f"({_CWV}) < {c.cwv_max!r}"
        arms.append(f"WHEN ({_CWV}) >= {c.cwv_min!r} AND {hi} THEN {i + 1}")
    return "CASE " + " ".join(arms) + " ELSE NULL END"


def _lst_expr_indexed(idx: str) -> str:
    """The Du et al. polynomial with coefficients gathered from literal
    arrays by the shared subrange index. Value-identical per row to
    _lst_expr() (same literals, same IEEE op order) but the 9 coefficient
    CASE cascades collapse to 9 copies of ONE cascade (``idx``), which
    whole-stage codegen's subexpression elimination evaluates once —
    measured 0.86 -> 0.71 s (best-of-3) on the sf0.1 projection. The DuckDB
    oracle keeps the straightforward CASE form; the driver hash gate
    attests equality."""
    by = C.sw_coefficients_by_subrange()
    e = f"(({_E10}) + ({_E11})) / 2.0"
    de = f"(({_E10}) - ({_E11}))"
    avg = f"((({_T10}) + ({_T11})) / 2.0)"
    diff = f"((({_T10}) - ({_T11})) / 2.0)"
    sq = f"((({_T10}) - ({_T11})) * (({_T10}) - ({_T11})))"
    b = {}
    for k in range(8):
        lits = ", ".join(repr(getattr(by[n], f"b{k}")) for n in C.SUBRANGE_ORDER)
        b[k] = f"element_at(array({lits}), {idx})"
    return (
        f"({b[0]}) "
        f"+ (({b[1]}) + ({b[2]}) * (1.0 - ({e})) / ({e}) + ({b[3]}) * ({de}) / (({e}) * ({e}))) * {avg} "
        f"+ (({b[4]}) + ({b[5]}) * (1.0 - ({e})) / ({e}) + ({b[6]}) * ({de}) / (({e}) * ({e}))) * {diff} "
        f"+ ({b[7]}) * {sq}"
    )


@register(
    "q_lst_sw",
    f"""SELECT l_orderkey, l_linenumber, subrange, lst_k,
           round(lst_k - 273.15, 6) AS lst_c
        FROM (SELECT l_orderkey, l_linenumber,
                 {_sw_case_sql(f'({_CWV})', 'subrange')} AS subrange,
                 round({_lst_expr()}, 6) AS lst_k
              FROM lineitem WHERE l_orderkey % 5 = 1)""",
)
def q_lst_sw(spark, sf_dir):
    # lst_c derives from the ROUNDED lst_k (identically on both engines):
    # evaluating the full coefficient-CASE polynomial once instead of twice
    # is worth 15% of the query (the C10 conversion is display algebra, not
    # physics — double-rounding at 1e-6 is the documented contract here)
    # the polynomial projection (2 BigDecimal rounds + coefficient gathers
    # per row) costs ~5x the scan; spread the FILTERED rows (1/5th of the
    # table, ~35 MB) so it runs on every core instead of the handful of
    # row-group-bound scan tasks (guide §2.5 / §2.3 project-then-exchange):
    # measured 1.35 -> 0.75 s at sf1.0. Explicit count: a bare
    # repartition(col) is AQE-coalescible at this byte size.
    li = load(spark, sf_dir, "lineitem").filter("l_orderkey % 5 = 1")
    li = li.repartition(li.sparkSession.sparkContext.defaultParallelism,
                        "l_orderkey")
    idx = f"({_sw_idx_sql()})"
    names = ", ".join(f"'{n}'" for n in C.SUBRANGE_ORDER)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.expr(f"element_at(array({names}), {idx})").alias("subrange"),
        F.round(F.expr(_lst_expr_indexed(idx)), 6).alias("lst_k"),
    ).withColumn("lst_c", F.round(F.col("lst_k") - 273.15, 6))


# --- C7 columnar analog: windowed covariance-ratio CWV -----------------------

_TJ = "0.85 * value + (event_id % 7) * 0.01"

_CWV_WIN_SQL = f"""
WITH base AS (
  SELECT user_id, ts, event_id, value AS ti, {_TJ} AS tj FROM events
), win AS (
  SELECT user_id, event_id,
    avg(ti * tj) OVER w - avg(ti) OVER w * avg(tj) OVER w AS num,
    avg(ti * ti) OVER w - avg(ti) OVER w * avg(ti) OVER w AS den,
    count(*) OVER w AS n
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
)
SELECT user_id, event_id,
   round(-9.674 * (num/den) * (num/den) + 0.653 * (num/den) + 9.087, 4) AS cwv
FROM win WHERE n = 5 AND den > 0.01
"""


@register("q_cwv_ratio_window", _CWV_WIN_SQL)
def q_cwv_ratio_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 2)
    base = ev.select("user_id", "ts", "event_id", F.col("value").alias("ti"),
                     F.expr(_TJ).alias("tj"))
    win = base.select(
        "user_id", "event_id",
        (F.avg(F.col("ti") * F.col("tj")).over(w)
         - F.avg("ti").over(w) * F.avg("tj").over(w)).alias("num"),
        (F.avg(F.col("ti") * F.col("ti")).over(w)
         - F.avg("ti").over(w) * F.avg("ti").over(w)).alias("den"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    r = F.col("num") / F.col("den")
    return (
        win.filter((F.col("n") == 5) & (F.col("den") > 0.01))
        .select("user_id", "event_id",
                F.round(-9.674 * r * r + 0.653 * r + 9.087, 4).alias("cwv"))
    )


# --- C8 as a real non-equi range join (all matches, overlap zones double) ----

_RANGES_SQL = " UNION ALL ".join(
    f"SELECT '{c.subrange}' AS subrange, {c.cwv_min!r} AS cwv_min, {c.cwv_max!r} AS cwv_max"
    for c in C.load_sw_coefficients() if c.subrange != "Range_6"
)

@register(
    "q_range_join",
    f"""WITH ranges AS ({_RANGES_SQL})
        SELECT r.subrange, CAST(count(*) AS BIGINT) AS n_events,
               round(sum(round((value % 6.3) * 1e6)) / 1e6, 6) AS sum_cwv
        FROM events e JOIN ranges r
          ON (e.value % 6.3) >= r.cwv_min AND (e.value % 6.3) < r.cwv_max
        GROUP BY r.subrange ORDER BY r.subrange""",
)
def q_range_join(spark, sf_dir):
    # events is one parquet row group -> the broadcast nested-loop probe
    # (|events| x 6 range comparisons) would run in a single scan task;
    # spreading the rows first parallelizes the probe and the partial
    # aggregation (guide §2.5: unsplittable input -> repartition after
    # read). The partition count is explicit because a bare
    # repartition(col) is AQE-coalescible right back to ~1 partition at
    # this byte size; defaultParallelism keeps it scale-adaptive.
    ev = load(spark, sf_dir, "events")
    ev = ev.repartition(ev.sparkSession.sparkContext.defaultParallelism,
                        "event_id").withColumn("cwv", F.expr("value % 6.3"))
    ranges = spark.createDataFrame(
        [(c.subrange, c.cwv_min, c.cwv_max) for c in C.load_sw_coefficients()
         if c.subrange != "Range_6"],
        "subrange string, cwv_min double, cwv_max double",
    )
    # build side is 5 rows -> broadcast nested-loop join, no shuffle
    j = ev.join(F.broadcast(ranges),
                (ev.cwv >= ranges.cwv_min) & (ev.cwv < ranges.cwv_max))
    return (
        j.groupBy("subrange")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum(F.round(F.col("cwv") * 1e6)) / 1e6, 6).alias("sum_cwv"))
        .orderBy("subrange")
    )


# --- joins: broadcast dim chain + aggregation (C1/C5 shape) -------------------

@register(
    "q_broadcast_join",
    """SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_items,
          CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
       FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       GROUP BY n.n_name""",
)
def q_broadcast_join(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("revenue_cents"))
    )


# --- semi / anti joins (checkpoint-resume bookkeeping shape) ------------------

@register(
    "q_semi_join",
    """SELECT o_orderkey, o_custkey FROM orders o
       WHERE EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)""",
)
def q_semi_join(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter("l_quantity > 45")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_custkey")


@register(
    "q_anti_join",
    """SELECT c_custkey, c_name FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def q_anti_join(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# --- aggregation: TPC-H Q1 shape (per-tile stats analog) ----------------------

@register(
    "q_agg_stats",
    """SELECT l_returnflag, l_linestatus,
          CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
          CAST(count(*) AS BIGINT) AS count_order,
          round(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
                / count(*) / 100.0, 6) AS avg_qty
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def q_agg_stats(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter("l_shipdate <= timestamp '1998-09-02'")
    qc = F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        qc.alias("sum_qty_cents"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_price_cents"),
        F.count(F.lit(1)).alias("count_order"),
        F.round(qc.cast("double") / F.count(F.lit(1)) / 100.0, 6).alias("avg_qty"),
    )


# --- rollup (per-scene x per-class metrics report shape) ----------------------

@register(
    "q_rollup",
    """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_customers
       FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY ROLLUP (r_name, n_name)""",
)
def q_rollup(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --- window top-k (kNN-rank shape) --------------------------------------------

@register(
    "q_window_topk",
    """SELECT o_custkey, o_orderkey, rnk FROM (
         SELECT o_custkey, o_orderkey,
            row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS rnk
         FROM orders) WHERE rnk <= 3""",
)
def q_window_topk(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", F.row_number().over(w).alias("rnk"))
        .filter("rnk <= 3")
    )


# --- sort / limit / top-k ------------------------------------------------------

@register(
    "q_sort_limit",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
       ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 50""",
)
def q_sort_limit(spark, sf_dir):
    return (
        load(spark, sf_dir, "lineitem")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(50)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


# --- set ops (resume/regression-diff shape) ------------------------------------

@register(
    "q_set_ops",
    """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
       UNION
       SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       EXCEPT
       SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'""",
)
def q_set_ops(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    a = c.filter("c_acctbal > 5000").select("c_custkey")
    b = c.filter("c_mktsegment = 'BUILDING'").select("c_custkey")
    f = o.filter("o_orderstatus = 'F'").select(F.col("o_custkey").alias("c_custkey"))
    return a.union(b).distinct().exceptAll(f.distinct())


# --- scalar string fns: caption build + parse (C1 shape) ------------------------

@register(
    "q_caption_roundtrip",
    """SELECT p_partkey,
          concat('part=', p_name, ' brand=', p_brand, ' size=', CAST(p_size AS VARCHAR)) AS caption,
          CAST(regexp_extract(
            concat('part=', p_name, ' brand=', p_brand, ' size=', CAST(p_size AS VARCHAR)),
            'size=([0-9]+)', 1) AS BIGINT) AS size_back
       FROM part WHERE p_partkey % 3 = 0""",
)
def q_caption_roundtrip(spark, sf_dir):
    p = load(spark, sf_dir, "part").filter("p_partkey % 3 = 0")
    cap = F.concat(F.lit("part="), F.col("p_name"), F.lit(" brand="), F.col("p_brand"),
                   F.lit(" size="), F.col("p_size").cast("string"))
    return p.select(
        "p_partkey", cap.alias("caption"),
        F.regexp_extract(cap, r"size=([0-9]+)", 1).cast("long").alias("size_back"),
    )


# --- date math -------------------------------------------------------------------

@register(
    "q_date_math",
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
          CAST(count(*) AS BIGINT) AS n_orders,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
       FROM orders GROUP BY 1""",
)
def q_date_math(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"))
    )


# --- JSON ops: parse events.props, extract + aggregate ---------------------------
# (engine surface: semi-structured columns; Spark get_json_object <-> DuckDB
# json_extract — identical path semantics for flat keys)

@register(
    "q_json_extract",
    """SELECT event_type,
          CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
          CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
       FROM events GROUP BY event_type""",
)
def q_json_extract(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


# --- CUBE / grouping sets (per-scene x per-class rollup shape, SURVEY §2.2) ------
# NULL group markers are coalesced to 'ALL' on both sides so the value hash
# is engine-agnostic (Spark and DuckDB agree on CUBE group production).

@register(
    "q_cube",
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          coalesce(l_linestatus, 'ALL') AS linestatus,
          CAST(count(*) AS BIGINT) AS n_items,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
       FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
)
def q_cube(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("revenue_cents"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items", "revenue_cents",
        )
    )


# --- as-of join (nearest-previous event; training-pipeline temporal align) -------
# Spark has no ASOF JOIN: the scalable pattern is union-tag + running
# last_value over a (user, ts) window — ONE shuffle, no range-join explosion.
# DuckDB twin uses its native ASOF LEFT JOIN. Equal timestamps never occur
# ((user_id, ts) is unique in events) but the union orders clicks before
# views at a tie, matching v.ts >= c.ts inclusive semantics.

@register(
    "q_asof_join",
    """SELECT v.event_id AS view_event, c.event_id AS click_event,
          CAST(epoch_us(v.ts) AS BIGINT) AS view_us,
          CAST(epoch_us(c.ts) AS BIGINT) AS click_us
       FROM (SELECT * FROM events WHERE event_type = 'view') v
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON v.user_id = c.user_id AND v.ts >= c.ts""",
)
def q_asof_join(spark, sf_dir):
    ev = (load(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("view", "click"))
          # parquet timestamps load as TIMESTAMP_NTZ in Spark 4; unix_micros
          # needs TIMESTAMP and the session tz is UTC, so the cast is exact
          .withColumn("ts", F.col("ts").cast("timestamp")))
    # clicks sort before views at equal ts ('click' < 'view'): >= semantics
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_type")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    out = ev.select(
        "event_id", "event_type", "ts",
        F.last(click_id, ignorenulls=True).over(w).alias("click_event"),
        F.last(click_ts, ignorenulls=True).over(w).alias("click_ts"),
    )
    return out.filter("event_type = 'view'").select(
        F.col("event_id").alias("view_event"),
        "click_event",
        F.unix_micros("ts").alias("view_us"),
        F.unix_micros("click_ts").alias("click_us"),
    )


# --- sessionization (gap-based, manual pattern: lag + running sum) ----------------

_SESS_GAP_US = 6 * 3600 * 1_000_000

@register(
    "q_sessionize",
    f"""WITH d AS (
          SELECT user_id, ts, event_id,
             CAST(epoch_us(ts) AS BIGINT)
               - lag(CAST(epoch_us(ts) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
          FROM events
        ), m AS (
          SELECT user_id, ts,
             CASE WHEN gap_us IS NULL OR gap_us > {_SESS_GAP_US} THEN 1 ELSE 0 END AS new_s
          FROM d
        ), s AS (
          SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS session_id
          FROM m
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
           CAST(epoch_us(max(ts)) AS BIGINT) AS end_us
        FROM s GROUP BY user_id, session_id""",
)
def q_sessionize(spark, sf_dir):
    ev = load(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    wo = Window.partitionBy("user_id").orderBy("ts")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(wo)
    new_s = F.when(gap.isNull() | (gap > _SESS_GAP_US), 1).otherwise(0)
    sess = ev.select(
        "user_id", "ts", F.sum(new_s).over(wrun).alias("session_id"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_micros("ts")).alias("start_us"),
        F.max(F.unix_micros("ts")).alias("end_us"),
    )


# --- session windows (built-in F.session_window; end = last event + gap) ----------

@register(
    "q_session_window",
    f"""WITH d AS (
          SELECT user_id, ts,
             CAST(epoch_us(ts) AS BIGINT)
               - lag(CAST(epoch_us(ts) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
          FROM events
        ), s AS (
          SELECT user_id, ts,
             sum(CASE WHEN gap_us IS NULL OR gap_us >= {_SESS_GAP_US} THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          FROM d
        )
        SELECT user_id,
           CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
           CAST(epoch_us(max(ts)) AS BIGINT) + {_SESS_GAP_US} AS end_us,
           CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, sid""",
)
def q_session_window(spark, sf_dir):
    # Spark merges events strictly closer than the gap (new session when
    # delta >= gap), and window end = last event + gap; the oracle mirrors both.
    ev = load(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.groupBy("user_id", F.session_window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("start_us"),
            F.unix_micros("session_window.end").alias("end_us"),
            "n_events",
        )
    )


# --- tumbling event-time window aggregation ---------------------------------------

@register(
    "q_tumbling_window",
    """SELECT CAST(epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS hour_us,
          event_type, CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
       FROM events GROUP BY 1, 2""",
)
def q_tumbling_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"))
        .select(F.unix_micros("w.start").alias("hour_us"), "event_type",
                "n_events", "value_cents")
    )


# --- intersect ---------------------------------------------------------------------

@register(
    "q_intersect",
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       INTERSECT
       SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'""",
)
def q_intersect(spark, sf_dir):
    c = load(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'").select("c_custkey")
    o = load(spark, sf_dir, "orders").filter("o_orderstatus = 'O'").select(
        F.col("o_custkey").alias("c_custkey"))
    return c.intersect(o)


# --- distinct aggregates -------------------------------------------------------------

@register(
    "q_distinct_agg",
    """SELECT l_returnflag,
          CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
          CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part,
          CAST(sum(DISTINCT CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_distinct_qty_cents
       FROM lineitem GROUP BY l_returnflag""",
)
def q_distinct_agg(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.sum_distinct(F.round(F.col("l_quantity") * 100).cast("long"))
        .alias("sum_distinct_qty_cents"),
    )


# --- exact percentiles (linear interpolation in both engines) ------------------------

@register(
    "q_percentile",
    """SELECT l_returnflag,
          round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
          round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
          round(quantile_cont(l_quantity, 0.25), 4) AS qty_p25
       FROM lineitem GROUP BY l_returnflag""",
)
def q_percentile(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("qty_p25"),
    )


# --- sketch aggregates (the 100-TB cardinality/quantile path) -------------------------
# HLL++ distinct counts and GK-sketch percentiles are single-pass,
# merge-able, bounded-memory — what you actually run over 10^12 rows where
# exact distinct/percentile would shuffle the world. Sketch values are
# engine-specific (no DuckDB twin possible); rows-only here, with the error
# bound attested against the exact twins (q_distinct_agg / q_percentile) in
# tests/test_textops.py::test_sketch_error_bounds.

@register("q_sketch_stats", None)
def q_sketch_stats(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_suppkey", 0.02).alias("approx_supps"),
        F.round(F.expr("approx_percentile(l_extendedprice, 0.5, 2000)"), 4).alias("ap50"),
        F.round(F.expr("approx_percentile(l_extendedprice, 0.9, 2000)"), 4).alias("ap90"),
    )


# --- pivot (wide metrics report shape) ------------------------------------------------

@register(
    "q_pivot",
    """SELECT l_linestatus,
          CAST(count(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS A,
          CAST(count(*) FILTER (WHERE l_returnflag = 'N') AS BIGINT) AS N,
          CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS R
       FROM lineitem GROUP BY l_linestatus""",
)
def q_pivot(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["A", "N", "R"])
    )


# --- correlated scalar subquery (decorrelated to a join in DF algebra) ----------------

@register(
    "q_correlated_subquery",
    """SELECT o_orderkey, o_custkey FROM orders o
       WHERE o_totalprice > 1.5 * (SELECT avg(o2.o_totalprice) FROM orders o2
                                   WHERE o2.o_custkey = o.o_custkey)""",
)
def q_correlated_subquery(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.avg("o_totalprice").alias("avg_price"))
    return (
        o.join(per_cust, o.o_custkey == per_cust.k)
        .filter(F.col("o_totalprice") > 1.5 * F.col("avg_price"))
        .select("o_orderkey", "o_custkey")
    )


# --- sorted array aggregation (deterministic list-valued agg) --------------------------

@register(
    "q_array_agg",
    """SELECT event_type,
          array_to_string(list_sort(list(DISTINCT user_id % 13)), ',') AS user_mods,
          CAST(count(*) AS BIGINT) AS n_events
       FROM events GROUP BY event_type""",
)
def q_array_agg(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_set(F.col("user_id") % 13)),
                        lambda x: x.cast("string")),
            ",",
        ).alias("user_mods"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- vectorized pandas UDF surface (Arrow path) with an exact SQL twin -----------------

@register(
    "q_udf_bt",
    f"""SELECT l_orderkey, l_linenumber,
           round(1321.0789 / ln(774.8853 / ({_RAD}) + 1.0), 6) AS bt_udf
        FROM lineitem WHERE l_partkey % 13 = 5""",
)
def q_udf_bt(spark, sf_dir):
    """Same physics as q_bt but through a @pandas_udf — proves the Arrow
    UDF surface produces values identical to the JVM/SQL expression path."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def bt_udf(price: pd.Series) -> pd.Series:
        import numpy as np

        dn = (price % 65535.0) + 1.0
        rad = 3.342e-4 * dn + 0.1
        return pd.Series(1321.0789 / np.log(774.8853 / rad + 1.0))

    li = load(spark, sf_dir, "lineitem").filter("l_partkey % 13 = 5")
    # round outside the UDF with F.round: numpy rounds half-to-even, the
    # engines round half-away — keep the cross-engine discipline identical
    return li.select("l_orderkey", "l_linenumber",
                     F.round(bt_udf(F.col("l_extendedprice")), 6).alias("bt_udf"))


# --- kNN join, fully SQL-expressible form ------------------------------------------
# The production kNN (spatial.knn_join) is haversine + argpartition inside an
# Arrow kernel (rows-only q_knn_stations); this twin proves the JOIN SHAPE —
# broadcast small side, per-query row_number over distance — against DuckDB
# using squared planar distance (pure +,* polynomial: IEEE-identical across
# engines, no trig last-ulp risk). Same pattern, exact hash match.

_KNN_PX = "(c_custkey % 360.0) - 180.0"
_KNN_PY = "(c_acctbal % 180.0) - 90.0"
_KNN_SX = "(s_suppkey % 24.0) * 15.0 - 180.0"
_KNN_SY = "(s_acctbal % 180.0) - 90.0"
_KNN_D2 = f"(({_KNN_PX}) - ({_KNN_SX})) * (({_KNN_PX}) - ({_KNN_SX})) + (({_KNN_PY}) - ({_KNN_SY})) * (({_KNN_PY}) - ({_KNN_SY}))"

@register(
    "q_knn_sql",
    f"""WITH s AS (SELECT * FROM supplier WHERE s_suppkey % 40 = 1),
         d AS (
          SELECT c_custkey, s_suppkey, {_KNN_D2} AS dist2,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY {_KNN_D2}, s_suppkey) AS station_rank
          FROM customer, s
          WHERE c_custkey % 10 = 4)
        SELECT c_custkey, s_suppkey AS station_id, station_rank,
           round(dist2, 6) AS dist2
        FROM d WHERE station_rank <= 3""",
)
def q_knn_sql(spark, sf_dir):
    cust = load(spark, sf_dir, "customer").filter("c_custkey % 10 = 4")
    stations = load(spark, sf_dir, "supplier").filter("s_suppkey % 40 = 1")
    d2 = F.expr(_KNN_D2)
    w = Window.partitionBy("c_custkey").orderBy(d2.asc(), F.col("s_suppkey").asc())
    return (
        cust.crossJoin(F.broadcast(stations))
        .select("c_custkey", F.col("s_suppkey").alias("station_id"),
                F.row_number().over(w).alias("station_rank"),
                F.round(d2, 6).alias("dist2"))
        .filter("station_rank <= 3")
    )


# --- bbox containment join (the PIP coarse prefilter, SQL-expressible form) --------
# Production PIP = broadcast R-tree + ray casting (rows-only q_pip_join); its
# coarse stage — candidate selection by bounding box — is a non-equi broadcast
# join on pure comparisons, twinned here exactly.

_BB_PX = "(s_suppkey % 360.0) - 180.0"
_BB_PY = "(s_acctbal % 180.0) - 90.0"

@register(
    "q_bbox_join",
    f"""WITH b AS (
          SELECT r_regionkey,
             r_regionkey * 60.0 - 180.0 AS lon0,
             r_regionkey * 60.0 - 100.0 AS lon1,
             r_regionkey * 20.0 - 50.0 AS lat0,
             r_regionkey * 20.0 + 10.0 AS lat1
          FROM region)
        SELECT r_regionkey,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(s_suppkey) AS BIGINT) AS sum_key
        FROM supplier JOIN b
          ON ({_BB_PX}) >= lon0 AND ({_BB_PX}) < lon1
         AND ({_BB_PY}) >= lat0 AND ({_BB_PY}) < lat1
        GROUP BY r_regionkey""",
)
def q_bbox_join(spark, sf_dir):
    sup = load(spark, sf_dir, "supplier")
    boxes = load(spark, sf_dir, "region").select(
        "r_regionkey",
        (F.col("r_regionkey") * 60.0 - 180.0).alias("lon0"),
        (F.col("r_regionkey") * 60.0 - 100.0).alias("lon1"),
        (F.col("r_regionkey") * 20.0 - 50.0).alias("lat0"),
        (F.col("r_regionkey") * 20.0 + 10.0).alias("lat1"),
    )
    px, py = F.expr(_BB_PX), F.expr(_BB_PY)
    return (
        sup.join(F.broadcast(boxes),
                 (px >= F.col("lon0")) & (px < F.col("lon1"))
                 & (py >= F.col("lat0")) & (py < F.col("lat1")), "inner")
        .groupBy("r_regionkey")
        .agg(F.count(F.lit(1)).alias("n_points"),
             F.sum("s_suppkey").alias("sum_key"))
    )


# --- GROUPING SETS (beyond cube/rollup: explicit set list) --------------------------

@register(
    "q_grouping_sets",
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          coalesce(l_linestatus, 'ALL') AS linestatus,
          CAST(count(*) AS BIGINT) AS n_items,
          CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""",
)
def q_grouping_sets(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gsets")
    return spark.sql(
        """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
              coalesce(l_linestatus, 'ALL') AS linestatus,
              count(*) AS n_items,
              sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_cents
           FROM li_gsets
           GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"""
    )


# --- lag/lead (per-key temporal deltas — training-pipeline sequence features) -------

@register(
    "q_lag_lead",
    """SELECT user_id, event_id,
          CAST(round(value * 100) AS BIGINT) AS value_cents,
          CAST(round(lag(value) OVER w * 100) AS BIGINT) AS prev_cents,
          CAST(round(lead(value) OVER w * 100) AS BIGINT) AS next_cents
       FROM events
       WHERE user_id % 25 = 7
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
)
def q_lag_lead(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter("user_id % 25 = 7")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    return ev.select(
        "user_id", "event_id",
        cents(F.col("value")).alias("value_cents"),
        cents(F.lag("value").over(w)).alias("prev_cents"),
        cents(F.lead("value").over(w)).alias("next_cents"),
    )


# --- explode / lateral (word unnest over documents) ----------------------------------

@register(
    "q_explode_words",
    """SELECT word, CAST(count(*) AS BIGINT) AS n,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM documents WHERE doc_id % 50 = 7)
       WHERE word <> '' GROUP BY word HAVING count(*) >= 3""",
)
def q_explode_words(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").filter("doc_id % 50 = 7")
    return (
        docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("word"))
        .filter("word <> ''")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("doc_id").alias("n_docs"))
        .filter("n >= 3")
    )


# --- latest-record-per-key dedup (keep newest event per user) ------------------------

@register(
    "q_dedup_latest",
    """SELECT user_id, event_id,
          CAST(epoch_us(ts) AS BIGINT) AS ts_us,
          CAST(round(value * 100) AS BIGINT) AS value_cents
       FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
             FROM events)
       WHERE rn = 1 AND user_id % 11 = 3""",
)
def q_dedup_latest(spark, sf_dir):
    ev = load(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1 AND user_id % 11 = 3")
        .select("user_id", "event_id",
                F.unix_micros("ts").alias("ts_us"),
                F.round(F.col("value") * 100).cast("long").alias("value_cents"))
    )


# --- salted two-stage aggregation (skew-safe pattern, exactly equal to plain agg) -----
# The scale pattern from SURVEY §2.2 skew handling: partial agg on
# (key, salt) spreads a hot key over S reducers, final agg on key merges.
# Exact integer cents make the two-stage result hash-identical to the
# single-stage oracle.

@register(
    "q_salted_agg",
    """SELECT l_returnflag,
          CAST(count(*) AS BIGINT) AS n_items,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
       FROM lineitem GROUP BY l_returnflag""",
)
def q_salted_agg(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    partial = (
        li.withColumn("salt", F.pmod(F.col("l_orderkey"), F.lit(16)))
        .groupBy("l_returnflag", "salt")
        .agg(F.count(F.lit(1)).alias("pc"),
             F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("ps"))
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pc").alias("n_items"), F.sum("ps").alias("revenue_cents"))


# --- ntile / first_value / last_value window report --------------------------------

@register(
    "q_ntile_first_last",
    """SELECT o_orderkey, o_custkey,
          ntile(4) OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey) AS quartile,
          first_value(o_orderkey) OVER w AS cheapest_order,
          last_value(o_orderkey) OVER w AS priciest_order
       FROM orders WHERE o_orderkey % 7 = 2
       WINDOW w AS (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
)
def q_ntile_first_last(spark, sf_dir):
    o = load(spark, sf_dir, "orders").filter("o_orderkey % 7 = 2")
    wo = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey", "o_custkey",
        F.ntile(4).over(wo).alias("quartile"),
        F.first("o_orderkey").over(wf).alias("cheapest_order"),
        F.last("o_orderkey").over(wf).alias("priciest_order"),
    )


# --- fuzzy string join (edit distance <= k; entity-resolution shape) ----------------

@register(
    "q_fuzzy_join",
    """SELECT a.n_name AS name_a, b.n_name AS name_b,
          CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS dist
       FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
       WHERE levenshtein(a.n_name, b.n_name) <= 5""",
)
def q_fuzzy_join(spark, sf_dir):
    n = load(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    dist = F.levenshtein(F.col("a.n_name"), F.col("b.n_name"))
    return (
        a.join(b, F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        .filter(dist <= 5)
        .select(F.col("a.n_name").alias("name_a"), F.col("b.n_name").alias("name_b"),
                dist.cast("long").alias("dist"))
    )


# --- histogram (fixed-width binning; data-profiling shape) ---------------------------

@register(
    "q_histogram",
    """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
          CAST(count(*) AS BIGINT) AS n_orders,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
       FROM orders GROUP BY 1""",
)
def q_histogram(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 25000.0).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"))
    )


# --- hamming near-dup join (the SQL-expressible twin of the phash LSH op) -----------
# Same plan shape as mediaops.phash_neardup: band split -> band-key equi
# self-join -> bit_count(xor) verify. 64-bit "hashes" here are event ids over
# a sparse subset so both engines compute the identical candidate set.

@register(
    "q_hamming_join",
    """WITH h AS (SELECT event_id AS id FROM events WHERE event_id % 37 = 0),
         e AS (SELECT id, i AS band_idx,
                  (id >> (16 * i)) & 65535 AS band_val
               FROM h, (SELECT unnest([0, 1, 2, 3]) AS i)),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM e a JOIN e b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.id < b.id)
        SELECT id_a, id_b,
           CAST(bit_count(xor(id_a, id_b)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(id_a, id_b)) <= 3""",
)
def q_hamming_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter("event_id % 37 = 0") \
        .select(F.col("event_id").alias("id"))
    bands = [F.shiftrightunsigned(F.col("id"), 16 * i).bitwiseAND(F.lit(0xFFFF))
             for i in range(4)]
    e = ev.select("id", F.posexplode(F.array(*bands)).alias("band_idx", "band_val"))
    a, b = e.alias("a"), e.alias("b")
    cand = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ham = F.bit_count(F.col("id_a").bitwiseXOR(F.col("id_b")))
    return cand.filter(ham <= 3).select("id_a", "id_b", ham.cast("long").alias("hamming"))


# --- linear regression aggregate via exact integer algebra ---------------------------
# regr_slope/intercept built from BIGINT sums of integer-rounded terms: the
# fp-sum-order nondeterminism that makes native regr_* aggregates hash-unsafe
# across engines disappears. The SUMS stay exact int64 (bounded: sxy <=
# rows * 50 * 1e5 ~ 3e13 per flag at SF 1k); the CROSS PRODUCTS n*sxy and
# sx*sy are NOT (n*sxy ~ 1.2e19 > int64 max already at SF>=1, where Spark
# non-ANSI wraps silently and DuckDB raises), so every product term is cast
# to DOUBLE before multiplying, identically on both engines: same exact
# integer inputs -> same IEEE mul/sub -> bit-identical quotient.

@register(
    "q_regr_manual",
    """WITH t AS (
          SELECT l_returnflag AS flag,
             CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice) AS BIGINT) AS y
          FROM lineitem),
        s AS (
          SELECT flag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
          FROM t GROUP BY flag)
        SELECT flag, n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS slope,
           round((sy - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx)
                 / CAST(n AS DOUBLE), 6) AS intercept
        FROM s""",
)
def q_regr_manual(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round("l_quantity").cast("long").alias("x"),
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    s = t.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (nd * F.col("sxy") - sxd * F.col("sy")) / (nd * F.col("sxx") - sxd * F.col("sx"))
    return s.select(
        "flag", "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / nd, 6).alias("intercept"),
    )


# --- RANGE window frame (trailing 1-hour running stats per user) ---------------------

@register(
    "q_range_frame",
    """SELECT user_id, event_id,
          CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_last_hour
       FROM (SELECT *, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events
             WHERE user_id % 40 = 9)
       WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
)
def q_range_frame(spark, sf_dir):
    ev = (load(spark, sf_dir, "events").filter("user_id % 40 = 9")
          .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp"))))
    w = (Window.partitionBy("user_id").orderBy("ts_us")
         .rangeBetween(-3_600_000_000, Window.currentRow))
    return ev.select(
        "user_id", "event_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(F.round(F.col("value") * 100).cast("long")).over(w).alias("cents_last_hour"),
    )


# --- scalar string functions (caption-processing family beyond regex) -----------------

@register(
    "q_string_funcs",
    """SELECT c_custkey,
          upper(c_mktsegment) AS seg_upper,
          substr(c_name, 1, 8) AS name_prefix,
          length(c_name) AS name_len,
          replace(c_mktsegment, 'A', '_') AS seg_repl,
          concat(c_mktsegment, '#', CAST(c_nationkey AS VARCHAR)) AS seg_tag,
          lpad(CAST(c_nationkey AS VARCHAR), 4, '0') AS nation_pad
       FROM customer WHERE c_custkey % 20 = 13""",
)
def q_string_funcs(spark, sf_dir):
    c = load(spark, sf_dir, "customer").filter("c_custkey % 20 = 13")
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.replace(F.col("c_mktsegment"), F.lit("A"), F.lit("_")).alias("seg_repl"),
        F.concat(F.col("c_mktsegment"), F.lit("#"),
                 F.col("c_nationkey").cast("string")).alias("seg_tag"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nation_pad"),
    )


# --- upsert / MERGE-INTO pattern (no Iceberg/Delta runtime -> anti-join + union) ------
# The data-lake upsert: updates win over base on the key, inserts append.
# Exactly the write path a slice re-run takes (checkpoint.py overwrite).

@register(
    "q_upsert",
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 1),
        updates AS (SELECT o_orderkey, o_totalprice * 2.0 AS o_totalprice
                    FROM orders WHERE o_orderkey % 8 = 1)
        SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM (SELECT b.* FROM base b ANTI JOIN updates u USING (o_orderkey)
              UNION ALL SELECT * FROM updates)""",
)
def q_upsert(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    base = o.filter("o_orderkey % 4 = 1").select("o_orderkey", "o_totalprice")
    updates = o.filter("o_orderkey % 8 = 1").select(
        "o_orderkey", (F.col("o_totalprice") * 2.0).alias("o_totalprice"))
    merged = base.join(updates, "o_orderkey", "left_anti").unionByName(updates)
    return merged.select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"))


# --- array explode with ordinality (vector-column introspection) ----------------------

@register(
    "q_vector_explode",
    """SELECT dim,
          CAST(count(*) AS BIGINT) AS n,
          -- CAST v to DOUBLE explicitly: DuckDB evaluates FLOAT * 1000000.0
          -- in FLOAT (the literal coerces down), Spark promotes to DOUBLE
          CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_micro
       FROM (SELECT vec_id, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) - 1 AS dim
             FROM embeddings WHERE vec_id % 10 = 2)
       GROUP BY dim""",
)
def q_vector_explode(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings").filter("vec_id % 10 = 2")
    return (
        e.select("vec_id", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.round(F.col("v") * 1000000.0).cast("long")).alias("sum_micro"))
    )


# --- NULL semantics (three-valued logic; C14's relational face) -----------------------
# get_json_object returns NULL for missing keys -> a natural NULL column over
# events.props exercises null-safe equality, NULLIF, COALESCE and the
# count(*) vs count(col) distinction identically in both engines.

@register(
    "q_null_logic",
    """WITH t AS (
          SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             user_id
          FROM events)
        SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(k) AS BIGINT) AS n_k_not_null,
           CAST(sum(CASE WHEN k IS NOT DISTINCT FROM user_id % 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
           CAST(count(nullif(k, 0)) AS BIGINT) AS n_nonzero_k,
           CAST(sum(coalesce(k, -1)) AS BIGINT) AS sum_k_coalesced
        FROM t GROUP BY event_type""",
)
def q_null_logic(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"), "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("k").alias("n_k_not_null"),
            F.sum(F.when(F.col("k").eqNullSafe(F.col("user_id") % 10), 1).otherwise(0))
            .alias("n_nullsafe_eq"),
            F.count(F.nullif(F.col("k"), F.lit(0))).alias("n_nonzero_k"),
            F.sum(F.coalesce(F.col("k"), F.lit(-1))).alias("sum_k_coalesced"),
        )
    )


# --- EXCEPT ALL (bag semantics: multiplicities preserved) -----------------------------

@register(
    "q_except_all",
    """SELECT l_partkey FROM lineitem WHERE l_quantity > 10
       EXCEPT ALL
       SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 10""",
)
def q_except_all(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    a = li.filter("l_quantity > 10").select("l_partkey")
    b = li.filter("l_returnflag = 'R' AND l_quantity > 10").select("l_partkey")
    return a.exceptAll(b)


# --- grouped-map pandas UDF (applyInPandas) with an exact SQL twin -------------------
# The engine's remaining applyInPandas passes (the pip_join_cells cogroup
# verify, the CC min-label and the terrain sweep) run on this surface; this
# twin proves its exactness through the DuckDB twin gate: per-user running
# cents computed by a grouped-map kernel == the window-function form.

@register(
    "q_grouped_map",
    """SELECT user_id, event_id,
          CAST(sum(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
       FROM events WHERE user_id % 30 = 11""",
)
def q_grouped_map(spark, sf_dir):
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("running_cents", LongType()),
    ])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["ts", "event_id"])
        # half-away-from-zero, matching SQL round() on both engines (np.rint
        # is half-to-even and diverges when value*100 lands exactly on .5)
        v = pdf["value"].to_numpy() * 100
        cents = np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)).astype(np.int64)
        return pd.DataFrame({
            "user_id": pdf["user_id"].to_numpy(),
            "event_id": pdf["event_id"].to_numpy(),
            "running_cents": np.cumsum(cents),
        })

    ev = load(spark, sf_dir, "events").filter("user_id % 30 = 11")
    return ev.groupBy("user_id").applyInPandas(fn, out_schema)


# --- scalar subquery (uncorrelated): orders above the global average -------------

@register(
    "q_scalar_subquery",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_above_avg
       FROM orders
       WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
       GROUP BY o_orderpriority""",
)
def q_scalar_subquery(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    avg = o.agg(F.avg("o_totalprice").alias("avg_price"))
    # uncorrelated scalar subquery == broadcast 1-row cross join in DF algebra
    return (
        o.crossJoin(F.broadcast(avg))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
    )


# --- interval-overlap join (temporal join; scene acquisition-window overlap) -------
# Raster use case: find scene pairs whose acquisition windows overlap (cloud-
# free compositing candidates). Twinned over events: interval = [ts, ts+dur)
# with dur derived by exact integer arithmetic; the join key (user_id) keeps
# the plan a shuffled HASH join (inequalities are post-join filters), so the
# same plan scales — no BNLJ, no time-bucketing needed while a key exists.
# All arithmetic is integer microseconds: bit-identical across engines.

_IV_DUR_US = "((CAST(round(value * 10) AS BIGINT) % 600) + 60) * 1000000"

@register(
    "q_interval_overlap",
    f"""WITH iv AS (
          SELECT user_id, event_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS s,
             CAST(epoch_us(ts) AS BIGINT) + ({_IV_DUR_US}) AS e
          FROM events)
        SELECT least(a.event_type, b.event_type) AS type_a,
           greatest(a.event_type, b.event_type) AS type_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
             AS overlap_us
        FROM iv a JOIN iv b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
         AND a.s < b.e AND b.s < a.e
        GROUP BY 1, 2""",
)
def q_interval_overlap(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev.select(
        "user_id", "event_id", "event_type",
        s.alias("s"), (s + F.expr(_IV_DUR_US)).alias("e"),
    )
    a, b = iv.alias("a"), iv.alias("b")
    return (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.event_id") < F.col("b.event_id"))
               & (F.col("a.s") < F.col("b.e")) & (F.col("b.s") < F.col("a.e")))
        .groupBy(
            F.least("a.event_type", "b.event_type").alias("type_a"),
            F.greatest("a.event_type", "b.event_type").alias("type_b"))
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             F.sum(F.least("a.e", "b.e") - F.greatest("a.s", "b.s"))
              .alias("overlap_us"))
    )


# --- 2-D skyline (Pareto frontier): cheapest-per-size part frontier ----------------
# Window formulation, identical semantics both engines: global order by
# (price, size, key); a row is on the frontier iff its size is strictly
# below every preceding size (first row qualifies). Equal (price, size)
# duplicates keep the first in key order ("distinct skyline").
#
# The oracle runs ONE global window; a single global window would serialize
# on one task at scale, so the Spark side is the standard two-phase exact
# algorithm: per-bucket local skyline first (drops almost everything), then
# the same window over the tiny survivor union. Phase 1 keeps a superset of
# the frontier (a bucket's prefix-min >= the global prefix-min at the same
# sort position), and the global running min is always achieved by the
# first row attaining it — which no bucket filter can drop — so phase 2
# reproduces the single-pass result exactly.

_SKY_KEEP = (
    "prev_min IS NULL OR p_size < prev_min"
)

@register(
    "q_skyline",
    """WITH w AS (
          SELECT p_partkey, p_retailprice, p_size,
             min(p_size) OVER (ORDER BY p_retailprice, p_size, p_partkey
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS prev_min
          FROM part)
        SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
           round(p_retailprice, 2) AS price,
           CAST(p_size AS BIGINT) AS p_size
        FROM w WHERE prev_min IS NULL OR p_size < prev_min""",
)
def q_skyline(spark, sf_dir):
    p = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")

    def local_frontier(df, part_cols):
        order = [F.col("p_retailprice").asc(), F.col("p_size").asc(),
                 F.col("p_partkey").asc()]
        w = (Window.partitionBy(*part_cols) if part_cols else Window.partitionBy()
             ).orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
        return (
            df.withColumn("prev_min", F.min("p_size").over(w))
            .filter(F.expr(_SKY_KEEP)).drop("prev_min")
        )

    survivors = local_frontier(p, [F.pmod(F.xxhash64("p_partkey"), F.lit(32))])
    return local_frontier(survivors, []).select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").cast("long").alias("p_size"),
    )


# --- grid-density rasterization (point layer -> cell counts, SQL-exact form) -------
# The vector->raster heatmap: bin points into a fixed lon/lat grid and
# aggregate per cell. Production rasterize is a grouped Arrow scatter
# (pipeline.rasterize_pixels, q_rasterize_roundtrip); this twin proves the binning+agg algebra through the driver
# hash gate. floor() on IEEE doubles is identical in both engines; one
# map-side-combining aggregation is the only shuffle, so the same plan
# rasterizes a 100-TB point table (cells ~ bounded, partial aggs collapse).

_GRID_RES = 15.0

@register(
    "q_grid_density",
    f"""SELECT CAST(floor((({_BB_PX}) + 180.0) / {_GRID_RES}) AS BIGINT) AS cx,
           CAST(floor((({_BB_PY}) + 90.0) / {_GRID_RES}) AS BIGINT) AS cy,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS bal_cents,
           CAST(min(s_suppkey) AS BIGINT) AS min_key
        FROM supplier GROUP BY 1, 2""",
)
def q_grid_density(spark, sf_dir):
    sup = load(spark, sf_dir, "supplier")
    px, py = F.expr(_BB_PX), F.expr(_BB_PY)
    return (
        sup.groupBy(
            F.floor((px + 180.0) / _GRID_RES).alias("cx"),
            F.floor((py + 90.0) / _GRID_RES).alias("cy"))
        .agg(F.count(F.lit(1)).alias("n_points"),
             F.sum(F.expr("CAST(round(s_acctbal * 100) AS BIGINT)"))
              .alias("bal_cents"),
             F.min("s_suppkey").alias("min_key"))
    )


# --- UNPIVOT (wide -> long reshaping) -----------------------------------------
# The melt/stack surface: per-nation aggregates reshaped into (key, metric,
# value) rows. Spark's native unpivot and the oracle's portable UNION ALL
# form are semantically identical; both metrics are exact integers (cents /
# counts) so the hash compare is fp-free. At scale: one map-side-combining
# agg then a zero-shuffle column explode (unpivot is a local generate).

@register(
    "q_unpivot",
    """SELECT c_nationkey, 'bal_cents' AS metric,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS value
        FROM customer GROUP BY c_nationkey
        UNION ALL
        SELECT c_nationkey, 'n_cust' AS metric,
           CAST(count(*) AS BIGINT) AS value
        FROM customer GROUP BY c_nationkey""",
)
def q_unpivot(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    agg = cust.groupBy("c_nationkey").agg(
        F.sum(F.expr("CAST(round(c_acctbal * 100) AS BIGINT)"))
         .cast("long").alias("bal_cents"),
        F.count(F.lit(1)).alias("n_cust"),
    )
    return agg.unpivot("c_nationkey", ["bal_cents", "n_cust"],
                       "metric", "value")


# --- deterministic per-group mode --------------------------------------------
# Most frequent value per group with a total tie-break (count DESC, value
# ASC), so the result is engine-independent. Two-stage: map-side-combining
# count agg, then a window over GROUPS (cardinality = distinct pairs, not
# rows) — the 100-TB shape is bounded by |type x brand|, never by |part|.

@register(
    "q_mode_per_group",
    """SELECT p_type, p_brand AS mode_brand, CAST(cnt AS BIGINT) AS cnt
        FROM (
          SELECT p_type, p_brand, count(*) AS cnt,
                 row_number() OVER (PARTITION BY p_type
                                    ORDER BY count(*) DESC, p_brand) AS rn
          FROM part GROUP BY p_type, p_brand) t
        WHERE rn = 1""",
)
def q_mode_per_group(spark, sf_dir):
    from pyspark.sql import Window

    part = load(spark, sf_dir, "part")
    cnt = part.groupBy("p_type", "p_brand").agg(
        F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("p_type").orderBy(F.col("cnt").desc(), "p_brand")
    return (cnt.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("p_type", F.col("p_brand").alias("mode_brand"), "cnt"))


# --- ordered string aggregation (listagg) ------------------------------------
# Deterministic by construction: the aggregation ORDER is part of both
# queries (DuckDB ORDER BY inside string_agg; Spark array_sort before
# concat_ws), so the concatenated strings are byte-identical.

@register(
    "q_string_agg",
    """SELECT r.r_regionkey,
              string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
              CAST(count(*) AS BIGINT) AS n_nations
       FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
       GROUP BY r.r_regionkey""",
)
def q_string_agg(spark, sf_dir):
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    return (
        region.join(nation, region.r_regionkey == nation.n_regionkey)
        .groupBy("r_regionkey")
        .agg(F.concat_ws(",", F.array_sort(F.collect_list("n_name")))
             .alias("nations"),
             F.count(F.lit(1)).alias("n_nations"))
    )


# --- bitwise aggregates -------------------------------------------------------
# Exact integer algebra on both engines; AND/OR/XOR are order-independent
# folds so the hash match is trivial-exact.

@register(
    "q_bit_ops",
    """SELECT o_orderpriority,
              CAST(bit_and(o_custkey) AS BIGINT) AS and_cust,
              CAST(bit_or(o_custkey)  AS BIGINT) AS or_cust,
              CAST(bit_xor(o_custkey) AS BIGINT) AS xor_cust,
              CAST(count(*) AS BIGINT) AS n
       FROM orders GROUP BY o_orderpriority""",
)
def q_bit_ops(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.expr("bit_and(o_custkey)").alias("and_cust"),
             F.expr("bit_or(o_custkey)").alias("or_cust"),
             F.expr("bit_xor(o_custkey)").alias("xor_cust"),
             F.count(F.lit(1)).alias("n"))
    )


# --- percent_rank quartile banding --------------------------------------------
# percent_rank = (rank - 1) / (n - 1): both engines divide the SAME exact
# integers in IEEE double, so the band comparisons are bit-identical and the
# emitted counts are exact ints.

@register(
    "q_percent_rank_band",
    """SELECT band, CAST(count(*) AS BIGINT) AS n,
              CAST(round(min(s_acctbal) * 100) AS BIGINT) AS min_bal_cents
       FROM (
         SELECT s_acctbal,
                CASE WHEN pr <= 0.25 THEN 'q1' WHEN pr <= 0.5 THEN 'q2'
                     WHEN pr <= 0.75 THEN 'q3' ELSE 'q4' END AS band
         FROM (SELECT s_acctbal,
                      percent_rank() OVER (ORDER BY s_acctbal, s_suppkey) AS pr
               FROM supplier) t) b
       GROUP BY band""",
)
def q_percent_rank_band(spark, sf_dir):
    from pyspark.sql import Window

    supplier = load(spark, sf_dir, "supplier")
    w = Window.orderBy("s_acctbal", "s_suppkey")
    pr = F.percent_rank().over(w)
    banded = supplier.select(
        "s_acctbal",
        F.when(pr <= 0.25, "q1").when(pr <= 0.5, "q2")
        .when(pr <= 0.75, "q3").otherwise("q4").alias("band"))
    return (banded.groupBy("band")
            .agg(F.count(F.lit(1)).alias("n"),
                 # explicit round: CAST(double AS BIGINT) truncates on Spark
                 # but rounds on DuckDB (the q_radiance micro-unit lesson)
                 F.round(F.min("s_acctbal") * 100, 0).cast("long")
                 .alias("min_bal_cents")))


# --- Cohen's kappa / confusion agreement (r.kappa analog) --------------------
# Exercises classify.kappa_stats — the same operator that scores raster
# classification agreement — on a relational confusion table. Two
# deterministic "raters" derive from exact integer/double comparisons, the
# confusion counts are exact integer folds, and every emitted ratio is ONE
# IEEE division of exact (< 2^53) integers, so both engines produce
# bit-identical doubles (the q_percent_rank_band technique).

@register(
    "q_kappa",
    """WITH t AS (SELECT user_id % 7 AS ca,
                         (user_id + CASE WHEN value < 50.0 THEN 0 ELSE 1 END)
                             % 7 AS cb
                  FROM events),
         ct AS (SELECT ca, cb, CAST(count(*) AS BIGINT) AS n
                FROM t GROUP BY ca, cb),
         r AS (SELECT ca, CAST(sum(n) AS BIGINT) AS rn FROM ct GROUP BY ca),
         c AS (SELECT cb, CAST(sum(n) AS BIGINT) AS cn FROM ct GROUP BY cb),
         m AS (SELECT CAST(sum(rn * cn) AS BIGINT) AS sum_rc
               FROM r JOIN c ON r.ca = c.cb),
         d AS (SELECT CAST(sum(n) AS BIGINT) AS n,
                      CAST(sum(CASE WHEN ca = cb THEN n ELSE 0 END) AS BIGINT)
                          AS n_agree,
                      CAST(count(DISTINCT ca) AS BIGINT) AS n_classes
               FROM ct)
       SELECT 'events' AS scene_id, n, n_classes,
              n_agree / n AS observed_agree,
              sum_rc / (n * n) AS chance_agree,
              (n * n_agree - sum_rc) / (n * n - sum_rc) AS kappa
       FROM d, m""",
)
def q_kappa(spark, sf_dir):
    from .classify import kappa_stats

    ev = load(spark, sf_dir, "events")
    t = ev.select(
        (F.col("user_id") % 7).alias("class_a"),
        ((F.col("user_id")
          + F.when(F.col("value") < 50.0, F.lit(0)).otherwise(F.lit(1))) % 7)
        .alias("class_b"))
    ct = (t.groupBy("class_a", "class_b")
          .agg(F.count(F.lit(1)).alias("n_px"))
          .withColumn("scene_id", F.lit("events")))
    return kappa_stats(ct)


# --- temporal epoch bucketing (t.rast.aggregate window arithmetic) -----------
# Exercises series.epoch_start — the SAME Column builder that buckets revisit
# archives into granularity windows — on the orders table (7 years of dates
# -> ~28 quarter buckets + ~160 16-day buckets). Both engines run identical
# integer floor arithmetic anchored at 1970-01-01 (month index for the
# calendar path, day index for the day path), so the group keys and exact
# integer aggregates are hash-identical.

@register(
    "q_epoch_agg",
    """WITH e AS (
         SELECT CAST(floor(((year(o_orderdate) - 1970) * 12
                            + month(o_orderdate) - 1) / 3.0) * 3 AS BIGINT)
                    AS b,
                CAST(floor(date_diff('day', DATE '1970-01-01', o_orderdate)
                           / 16.0) * 16 AS BIGINT) AS day16_bucket,
                o_totalprice
         FROM orders)
       SELECT strftime(make_date(CAST(1970 + floor(b / 12.0) AS INT),
                                 CAST(b - 12 * floor(b / 12.0) AS INT) + 1,
                                 1), '%Y-%m-%d') AS quarter,
              day16_bucket,
              CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS total_cents
       FROM e GROUP BY 1, 2""",
)
def q_epoch_agg(spark, sf_dir):
    from .series import epoch_start

    o = load(spark, sf_dir, "orders")
    quarter = F.date_format(
        epoch_start(F.col("o_orderdate"), "3 months"), "yyyy-MM-dd")
    day16 = (F.floor(
        F.datediff(F.to_date("o_orderdate"),
                   F.to_date(F.lit("1970-01-01"))) / 16) * 16).cast("long")
    return (o.groupBy(quarter.alias("quarter"),
                      day16.alias("day16_bucket"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 .alias("total_cents")))


# --- category reclassification (r.reclass rules, shared derivation) ----------
# The SAME parsed rule list drives the Spark WHEN chain (algebra.reclass_col),
# the DuckDB CASE chain (algebra.reclass_sql), and the raster kernel
# (algebra.reclass_plane) - so this twin hash-attests the rule parser and its
# first-match semantics cross-engine on 7500-ish integer categories.

_RECLASS_RULES = """
0 7 13 = 1   # scattered categories
10 thru 59 = 2
42 = 9       # shadowed: first match wins, 42 stays 2
60 thru 119 = 3
120 thru 135 = NULL
* = 4
"""


@register(
    "q_reclass",
    None,  # SQL derived below from the same rules
)
def q_reclass(spark, sf_dir):
    from .algebra import parse_reclass_rules, reclass_col

    li = load(spark, sf_dir, "lineitem")
    cat = (F.col("l_partkey") % 250).cast("int")
    new = reclass_col(cat, parse_reclass_rules(_RECLASS_RULES))
    return (li.select(F.coalesce(new, F.lit(-1.0)).alias("newcat"))
            .groupBy("newcat")
            .agg(F.count(F.lit(1)).alias("n")))


def _reclass_oracle_sql() -> str:
    from .algebra import parse_reclass_rules, reclass_sql

    case = reclass_sql("(l_partkey % 250)",
                       parse_reclass_rules(_RECLASS_RULES))
    return (f"SELECT coalesce({case}, -1.0) AS newcat, "
            f"CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1")


_REGISTRY["q_reclass"] = (_REGISTRY["q_reclass"][0], _reclass_oracle_sql())
