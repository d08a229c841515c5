"""Driver-contract queries for the RCGV engine extensions:

- capex_481a           [D7/A3/D6] — pool array built per order from its
                        lineitems (collect_list → array<struct>), pool
                        engine + class aggregation + 481(a);
- remaining_basis_life [D9] — per-class remaining basis + life labels;
- lifetime_reconcile   [A5/D11] — closed-form lifetime totals and the
                        reconciliation flag.

The oracle computes pools ROW-WISE over lineitem then group-sums —
algebraically the same aggregation the Spark side does over the array,
derived through SQL instead of array lambdas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import depreciation as dep
from . import sqlgen
from .queries_ref import _ACQ_SQL, _acq_col, _read

flit = sqlgen.flit


# ----------------------------------------------------------------------
# shared RCGV base-property derivation (Spark + SQL)
# ----------------------------------------------------------------------
def _rcgv_base(spark: SparkSession, sf_dir: str, mod: int, rem: int) -> DataFrame:
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % mod == rem)
    k = F.col("o_orderkey")
    acq = _acq_col()
    return o.select(
        k.alias("o_orderkey"),
        (F.col("o_totalprice") * F.lit(30.0)).alias("purchase_price"),
        (F.col("o_totalprice") * F.lit(6.0)).alias("land_value"),
        F.lit(0.0).alias("capex"),
        ((k % 3).cast("double") * F.lit(50000.0)).alias("pad"),
        ((F.col("o_custkey") % 4).cast("double") * F.lit(40000.0)).alias("deferred_gain"),
        acq.alias("acquisition_date"),
        F.make_date(
            F.year(acq) + (k % 3).cast("int"), F.month(acq), F.dayofmonth(acq)
        ).alias("css_date"),
        F.when(k % 2 == 0, "multi-family").otherwise("commercial").alias("property_type"),
        (1980 + k % 40).cast("int").alias("year_built"),
    )


def _sql_rcgv_scalars(mod: int, rem: int) -> str:
    mf, co = dep.RCGV_BASES["multi-family"], dep.RCGV_BASES["commercial"]
    is_mf = "(o_orderkey % 2 = 0)"
    b5 = f"(CASE WHEN {is_mf} THEN {flit(mf['5yr'])} ELSE {flit(co['5yr'])} END)"
    b7 = f"(CASE WHEN {is_mf} THEN {flit(mf['7yr'])} ELSE {flit(co['7yr'])} END)"
    b15 = f"(CASE WHEN {is_mf} THEN {flit(mf['15yr'])} ELSE {flit(co['15yr'])} END)"
    bb = f"(CASE WHEN {is_mf} THEN {flit(mf['bldg'])} ELSE {flit(co['bldg'])} END)"
    bonus = sqlgen.sql_bonus_rate("acq")
    return f"""
base AS (
  SELECT o_orderkey,
         o_totalprice * 30.0 AS pp,
         o_totalprice * 6.0 AS lv,
         CAST(o_orderkey % 3 AS DOUBLE) * 50000.0 AS pad,
         CAST(o_custkey % 4 AS DOUBLE) * 40000.0 AS dg,
         {_ACQ_SQL} AS acq,
         CAST(o_orderkey % 3 AS INT) AS elapsed,
         (o_orderkey % 2 = 0) AS is_mf,
         1980 + o_orderkey % 40 AS year_built
  FROM orders WHERE o_orderkey % {mod} = {rem}
),
sc AS (
  SELECT *,
    (pp - lv - pad - dg) AS total_dep,
    {bonus} AS bonus_rate,
    CASE WHEN is_mf THEN '27.5yr' ELSE '39yr' END AS building_class,
    month(acq) AS pis_month,
    year(acq) AS acq_year,
    (0.5 / (1.0 + exp(-0.01 * CAST(year(acq) + elapsed - year_built AS DOUBLE))) * 0.22) AS adj
  FROM base
),
amts AS (
  SELECT *,
    total_dep * {b5} AS amt_5yr,
    total_dep * {b7} AS amt_7yr,
    total_dep * ({b15} + adj * {bb}) AS amt_15yr,
    total_dep * ({bb} * (1.0 - adj)) AS amt_bldg
  FROM sc
)
"""


# css year == acq year + elapsed (css built from acq) so the SQL uses
# year(acq)+elapsed for the CSS-year age adjustment above — identical to
# Spark's F.year(css).

_CLS_LIST = ["QIP", "5_year", "7_year", "15_year", "27_5_year", "39_year"]


def _pools_df(spark: SparkSession, sf_dir: str, mod: int, rem: int) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % mod == rem)
    sel = (F.col("l_linenumber") + F.col("l_partkey")) % 7
    cls = None
    for i, c in enumerate(_CLS_LIST):
        cond = sel == i
        cls = F.when(cond, c) if cls is None else cls.when(cond, c)
    cls = cls.otherwise(F.lit(None).cast("string"))  # sel==6 → None → default 5yr
    pool = F.struct(
        F.col("l_extendedprice").alias("amount"),
        F.make_date(
            F.year("l_shipdate") + F.lit(25),
            F.month("l_shipdate"),
            F.least(F.dayofmonth("l_shipdate"), F.lit(28)),
        ).alias("pis_date"),
        cls.alias("classification"),
        F.lit(None).cast("double").alias("bonus_override"),
    )
    return li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sort_array(F.collect_list(pool)).alias("capex_items"),
        F.count("*").alias("n_pools"),
    )


def _sql_pool_rows(mod: int, rem: int) -> str:
    cls_map = {**dep.CAPEX_CLASS_MAP}
    arms = " ".join(
        f"WHEN (l_linenumber + l_partkey) % 7 = {i} THEN '{cls_map[c]}'"
        for i, c in enumerate(_CLS_LIST)
    )
    pis = "make_date(year(l_shipdate) + 25, month(l_shipdate), least(day(l_shipdate), 28))"
    return f"""
pool_rows AS (
  SELECT l_orderkey AS o_orderkey,
         l_extendedprice AS amt,
         {pis} AS pis,
         (CASE {arms} ELSE '5yr' END) AS cls,
         {sqlgen.sql_bonus_rate(pis)} AS pb
  FROM lineitem WHERE l_orderkey % {mod} = {rem}
)
"""


def _sql_pool_dep(amt: str, b: str, cls: str, dy: str, month: str) -> str:
    """Mirror of depreciation._sql_pool_fn (annual)."""
    bf = f"({b} / 100.0)"
    shorts = []
    for c in dep.SHORT_CLASSES:
        y1 = f"({amt} * {bf} + {amt} * (1.0 - {bf}) * {sqlgen.sql_hy_pct(c, '1', False)} / 100.0)"
        later = f"({amt} * (1.0 - {bf}) * {sqlgen.sql_hy_pct(c, dy, False)} / 100.0)"
        val = (
            f"(CASE WHEN {b} = 100.0 AND {dy} = 1 THEN {amt}"
            f" WHEN {b} > 0.0 AND {dy} = 1 THEN {y1}"
            f" WHEN {b} < 100.0 AND {dy} > 1 THEN {later}"
            f" ELSE 0.0 END)"
        )
        shorts.append(f"WHEN {cls} = '{c}' THEN {val}")
    long_dep = f"({amt} * {sqlgen.sql_mm_pct(cls, dy, month, False)} / 100.0)"
    return (
        f"(CASE WHEN {dy} < 1 THEN 0.0 ELSE"
        f" (CASE {' '.join(shorts)} ELSE {long_dep} END) END)"
    )


def _sql_pool_acc(amt: str, b: str, cls: str, dyc: str, month: str) -> str:
    """Mirror of depreciation._sql_pool_fn (accumulated)."""
    bf = f"({b} / 100.0)"
    shorts = []
    for c in dep.SHORT_CLASSES:
        acc = f"({amt} * {bf} + {amt} * (1.0 - {bf}) * {sqlgen.sql_hy_pct(c, dyc, True)} / 100.0)"
        val = f"(CASE WHEN {b} = 100.0 THEN {amt} ELSE {acc} END)"
        shorts.append(f"WHEN {cls} = '{c}' THEN {val}")
    long_acc = f"({amt} * {sqlgen.sql_mm_pct(cls, dyc, month, True)} / 100.0)"
    return (
        f"(CASE WHEN {dyc} < 1 THEN 0.0 ELSE"
        f" (CASE {' '.join(shorts)} ELSE {long_acc} END) END)"
    )


# ----------------------------------------------------------------------
# queries
# ----------------------------------------------------------------------
_MOD = 13


def q_capex_481a(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _rcgv_base(spark, sf_dir, _MOD, 0)
    pools = _pools_df(spark, sf_dir, _MOD, 0)
    joined = base.join(pools, "o_orderkey", "left").withColumn(
        "capex_items",
        F.coalesce(
            F.col("capex_items"),
            F.array().cast(
                "array<struct<amount:double,pis_date:date,classification:string,bonus_override:double>>"
            ),
        ),
    ).withColumn("n_pools", F.coalesce(F.col("n_pools"), F.lit(0)))
    staged = dep.with_engine_inputs_rcgv(joined, pools_col="capex_items")
    out = dep.with_481a_capex(staged)
    return out.select(
        "o_orderkey",
        F.col("n_pools").cast("int").alias("n_pools"),
        F.round(F.col("total_depreciable"), 2).alias("total_depreciable"),
        F.round(F.col("should_have_taken"), 2).alias("should_have_taken"),
        F.round(F.col("did_take"), 2).alias("did_take"),
        F.round(F.col("catch_up_adjustment"), 2).alias("catch_up_adjustment"),
        F.round(F.col("current_year_total"), 2).alias("current_year_total"),
        F.round(F.col("total_current_year_benefit"), 2).alias("total_current_year_benefit"),
    )


def _sql_capex_481a() -> str:
    acc5 = sqlgen.sql_short_acc_dep("amt_5yr", "bonus_rate", "5yr", "elapsed")
    acc7 = sqlgen.sql_short_acc_dep("amt_7yr", "bonus_rate", "7yr", "elapsed")
    acc15 = sqlgen.sql_short_acc_dep("amt_15yr", "bonus_rate", "15yr", "elapsed")
    accb = sqlgen.sql_bldg_acc_dep("amt_bldg", "building_class", "elapsed", "pis_month")
    did = sqlgen.sql_standard_dep("total_dep", "building_class", "elapsed", "pis_month")
    cur5 = sqlgen.sql_short_year_dep("amt_5yr", "bonus_rate", "5yr", "(elapsed + 1)")
    cur7 = sqlgen.sql_short_year_dep("amt_7yr", "bonus_rate", "7yr", "(elapsed + 1)")
    cur15 = sqlgen.sql_short_year_dep("amt_15yr", "bonus_rate", "15yr", "(elapsed + 1)")
    curb = sqlgen.sql_bldg_year_dep("amt_bldg", "building_class", "(elapsed + 1)", "pis_month")
    y1_5 = sqlgen.sql_short_year_dep("amt_5yr", "bonus_rate", "5yr", "1")
    y1_7 = sqlgen.sql_short_year_dep("amt_7yr", "bonus_rate", "7yr", "1")
    y1_15 = sqlgen.sql_short_year_dep("amt_15yr", "bonus_rate", "15yr", "1")
    y1_b = sqlgen.sql_bldg_year_dep("amt_bldg", "building_class", "1", "pis_month")
    cur_dep = _sql_pool_dep("amt", "pb", "cls", "(b.acq_year + b.elapsed - year(pis) + 1)", "month(pis)")
    acc_dep = _sql_pool_acc("amt", "pb", "cls", "((b.acq_year + b.elapsed - 1) - year(pis) + 1)", "month(pis)")

    # Order-deterministic double sums mirroring Spark's association
    # EXACTLY (repo float-parity rule — a plain sum() accumulates in
    # scan order, which can drift an ulp and flip a cent across a
    # round(x,2) boundary): Spark folds the sort_array'd pool array
    # per class (filter + aggregate, start 0.0), then adds the class
    # sums in CAPEX_CLASSES order. list_reduce over an ORDER BY'd
    # FILTER'd list is the same left fold (0.0 + d1 == d1 exactly).
    def class_fold(expr: str, cls: str) -> str:
        return (
            f"coalesce(list_reduce(list({expr} ORDER BY p.amt, p.pis)"
            f" FILTER (WHERE p.cls = '{cls}'), (x, y) -> x + y), CAST(0.0 AS DOUBLE))"
        )

    cur_sum = " + ".join(class_fold(cur_dep, c) for c in dep.CAPEX_CLASSES)
    acc_sum = " + ".join(class_fold(acc_dep, c) for c in dep.CAPEX_CLASSES)
    return sqlgen.repr_rounds(f"""
WITH {_sql_rcgv_scalars(_MOD, 0)},
{_sql_pool_rows(_MOD, 0).strip().lstrip(',')}
,
pool_agg AS (
  SELECT p.o_orderkey,
         count(*) AS n_pools,
         {cur_sum} AS capex_cur,
         {acc_sum} AS capex_acc
  FROM pool_rows p JOIN amts b ON p.o_orderkey = b.o_orderkey
  GROUP BY p.o_orderkey
),
agg AS (
  SELECT b.o_orderkey,
         coalesce(pa.n_pools, 0) AS n_pools,
         b.total_dep,
         b.elapsed,
         ({acc5} + {acc7} + {acc15} + {accb}) + coalesce(pa.capex_acc, 0.0) AS should_have,
         {did} AS did_take,
         ({cur5} + {cur7} + {cur15} + {curb}) + coalesce(pa.capex_cur, 0.0) AS cur_total,
         ({y1_5} + {y1_7} + {y1_15} + {y1_b}) + coalesce(pa.capex_cur, 0.0) AS y1_total
  FROM amts b LEFT JOIN pool_agg pa ON b.o_orderkey = pa.o_orderkey
)
SELECT o_orderkey, CAST(n_pools AS INT) AS n_pools,
       round(total_dep, 2) AS total_depreciable,
       round(CASE WHEN elapsed = 0 THEN 0.0 ELSE should_have END, 2) AS should_have_taken,
       round(CASE WHEN elapsed = 0 THEN 0.0 ELSE did_take END, 2) AS did_take,
       round(CASE WHEN elapsed = 0 THEN 0.0 ELSE should_have - did_take END, 2) AS catch_up_adjustment,
       round(CASE WHEN elapsed = 0 THEN y1_total ELSE cur_total END, 2) AS current_year_total,
       round(CASE WHEN elapsed = 0 THEN y1_total ELSE should_have - did_take + cur_total END, 2)
         AS total_current_year_benefit
FROM agg
""")


def q_remaining_basis_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _rcgv_base(spark, sf_dir, _MOD, 1)
    staged = dep.with_engine_inputs_rcgv(base)
    rem = dep.remaining_basis_cols("(years_elapsed + 1)", "bonus_rate")
    life = dep.life_remaining_cols("(years_elapsed + 1)", "bonus_rate")
    return staged.select(
        "o_orderkey",
        *[F.round(v, 2).alias(k) for k, v in rem.items()],
        *[v.alias(k) for k, v in life.items()],
    )


def _sql_remaining_basis_life() -> str:
    y = "(elapsed + 1)"
    rem = {
        "rem_5yr": f"greatest(0.0, amt_5yr - {sqlgen.sql_short_acc_dep('amt_5yr', 'bonus_rate', '5yr', y)})",
        "rem_7yr": f"greatest(0.0, amt_7yr - {sqlgen.sql_short_acc_dep('amt_7yr', 'bonus_rate', '7yr', y)})",
        "rem_15yr": f"greatest(0.0, amt_15yr - {sqlgen.sql_short_acc_dep('amt_15yr', 'bonus_rate', '15yr', y)})",
        "rem_bldg": f"greatest(0.0, amt_bldg - {sqlgen.sql_bldg_acc_dep('amt_bldg', 'building_class', y, 'pis_month')})",
    }
    life = {}
    for cls in dep.SHORT_CLASSES:
        total = dep.TOTAL_LIFE[cls]
        life[f"life_{cls.replace('yr', '')}yr"] = (
            f"(CASE WHEN bonus_rate = 100.0 AND {y} >= 1 THEN 'Complete'"
            f" ELSE CAST(greatest(0, {total} - {y}) AS VARCHAR) END)"
        )
    life["life_bldg"] = (
        f"CAST(greatest(0, (CASE WHEN building_class = '27.5yr' THEN {dep.TOTAL_LIFE['27.5yr']}"
        f" WHEN building_class = '39yr' THEN {dep.TOTAL_LIFE['39yr']} ELSE 0 END) - {y}) AS VARCHAR)"
    )
    cols = ",\n       ".join(
        [f"round({v}, 2) AS {k}" for k, v in rem.items()]
        + [f"{v} AS {k}" for k, v in life.items()]
    )
    return sqlgen.repr_rounds(f"""
WITH {_sql_rcgv_scalars(_MOD, 1)}
SELECT o_orderkey,
       {cols}
FROM amts
""")


def q_lifetime_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _rcgv_base(spark, sf_dir, _MOD, 2)
    pools = _pools_df(spark, sf_dir, _MOD, 2)
    joined = base.join(pools, "o_orderkey", "left").withColumn(
        "capex_items",
        F.coalesce(
            F.col("capex_items"),
            F.array().cast(
                "array<struct<amount:double,pis_date:date,classification:string,bonus_override:double>>"
            ),
        ),
    ).drop("n_pools")
    staged = dep.with_engine_inputs_rcgv(joined, pools_col="capex_items")
    out = dep.with_reconciliation(
        dep.with_lifetime_totals(staged, pools_col="capex_items"), pools_col="capex_items"
    )
    return out.select(
        "o_orderkey",
        "lifetime_standard",
        "lifetime_traditional",
        "lifetime_bonus",
        "expected_standard",
        "is_reconciled",
    )


def _sql_lifetime_reconcile() -> str:
    did = sqlgen.sql_standard_dep("total_dep", "building_class", "elapsed", "pis_month")
    return sqlgen.repr_rounds(f"""
WITH {_sql_rcgv_scalars(_MOD, 2)},
capex AS (
  -- left fold in pool-array sort order (amount asc), matching Spark's
  -- aggregate over sort_array'd pools — NOT a scan-order double sum
  SELECT l_orderkey AS o_orderkey,
         coalesce(list_reduce(list(l_extendedprice ORDER BY l_extendedprice),
                              (x, y) -> x + y), CAST(0.0 AS DOUBLE)) AS capex_total
  FROM lineitem WHERE l_orderkey % {_MOD} = 2 GROUP BY l_orderkey
),
lt AS (
  SELECT b.o_orderkey,
         (b.total_dep - (CASE WHEN b.elapsed > 0 THEN {did} ELSE 0.0 END)) AS std,
         coalesce(c.capex_total, 0.0) AS cx
  FROM amts b LEFT JOIN capex c ON b.o_orderkey = c.o_orderkey
)
SELECT o_orderkey,
       round(std, 2) AS lifetime_standard,
       round(std + cx, 2) AS lifetime_traditional,
       round(std + cx, 2) AS lifetime_bonus,
       round(std, 2) AS expected_standard,
       TRUE AS is_reconciled
FROM lt
""")


def capex_queries():
    return {
        "capex_481a": q_capex_481a,
        "remaining_basis_life": q_remaining_basis_life,
        "lifetime_reconcile": q_lifetime_reconcile,
    }


def capex_oracle_sql():
    return {
        "capex_481a": _sql_capex_481a(),
        "remaining_basis_life": _sql_remaining_basis_life(),
        "lifetime_reconcile": _sql_lifetime_reconcile(),
    }
