"""RCGV-variant parity: capex pools (D7/A3), 481(a)-with-pools (D6),
remaining basis/life (D9), lifetime totals (A5)
— Spark engine vs the EXECUTED RCGV reference engine.

The RCGV snapshot ships no macrs_tables.py (SURVEY §2.10 D8 note); the
fixture assembles a runnable package from RCGV cost_seg + the top-level
tables, exactly how the reference resolves its fallback import.
"""

import datetime
import shutil
import sys

import pytest

from pyspark.sql import functions as F

from conftest import reference_path
from pdf_parser_spark import depreciation as dep
from pdf_parser_spark.functions.sqltext import sqld


@pytest.fixture(scope="module")
def refmod(tmp_path_factory):
    pkg = tmp_path_factory.mktemp("rcgvpkg")
    shutil.copytree(
        reference_path("Claude_Code/RCGV_Quote_Assistant-main/cost_seg"), pkg / "rcgvcs"
    )
    shutil.copy(reference_path("cost_seg/macrs_tables.py"), pkg / "rcgvcs")
    (pkg / "rcgvcs" / "__init__.py").touch()
    sys.path.insert(0, str(pkg))
    import rcgvcs.cost_seg_calculator as mod

    return mod


SCENARIOS = [
    # (id, pp, land, pad, dg, acq, css, ptype, yb, pools)
    (0, 10_000_000, 2_500_000, 0, 0, "06/15/2024", "12/31/2025", "commercial", 2010,
     [(500_000, "2024-08-01", "QIP"), (120_000, "2025-03-15", "5_year")]),
    (1, 2_550_000, 255_000, 0, 0, "06/15/2019", "10/15/2021", "multi-family", 2005,
     [(80_000, "2020-01-10", "7_year"), (40_000, "2021-06-30", None)]),
    (2, 5_000_000, 1_000_000, 100_000, 50_000, "03/01/2022", "04/15/2025", "commercial", 1990,
     [(250_000, "2023-05-20", "39_year"), (60_000, "2024-11-11", "15_year"),
      (30_000, "2016-02-29", "5_year")]),  # pre-bonus-era pool → 0% bonus
    (3, 1_200_000, 120_000, 0, 0, "05/05/2025", "12/31/2025", "multi-family", 2015,
     [(90_000, "2025-06-01", "27_5_year")]),  # same-year CSS
    (4, 3_300_000, 330_000, 0, 0, "09/30/2023", "04/15/2026", "commercial", 1970, []),
]


def _pools_dicts(s):
    return [
        {"amount": a, "placed_in_service_date": d, "classification": c}
        for a, d, c in s[9]
    ]


def _ref(refmod, s):
    return refmod.CostSegregationCalculator(
        purchase_price=s[1], land_value=s[2], capex=0, pad=s[3], deferred_gain=s[4],
        acquisition_date=s[5], css_date=s[6], property_type=s[7], year_built=s[8],
        capex_items=_pools_dicts(s),
    )


@pytest.fixture(scope="module")
def staged(spark):
    rows = [
        dict(
            case_id=s[0], purchase_price=float(s[1]), land_value=float(s[2]),
            capex=0.0, pad=float(s[3]), deferred_gain=float(s[4]),
            acquisition_date=datetime.datetime.strptime(s[5], "%m/%d/%Y").date(),
            css_date=datetime.datetime.strptime(s[6], "%m/%d/%Y").date(),
            property_type=s[7], year_built=s[8],
            capex_items=[
                dict(
                    amount=float(a),
                    pis_date=datetime.date.fromisoformat(d),
                    classification=c,
                    bonus_override=None,
                )
                for a, d, c in s[9]
            ],
        )
        for s in SCENARIOS
    ]
    schema = (
        "case_id long, purchase_price double, land_value double, capex double,"
        "pad double, deferred_gain double, acquisition_date date, css_date date,"
        "property_type string, year_built int,"
        "capex_items array<struct<amount:double,pis_date:date,classification:string,"
        "bonus_override:double>>"
    )
    df = spark.createDataFrame(rows, schema)
    return dep.with_engine_inputs_rcgv(df, pools_col="capex_items").cache()


def test_stage1_matches_rcgv(refmod, staged):
    got = {r["case_id"]: r for r in staged.collect()}
    for s in SCENARIOS:
        ref = _ref(refmod, s)
        g = got[s[0]]
        assert g["total_depreciable"] == pytest.approx(ref.total_depreciable, abs=1e-6)
        assert g["bonus_rate"] == ref.bonus_rate
        bldg = ref._building_key()
        assert g["building_class"] == bldg
        assert g["amt_5yr"] == pytest.approx(ref.allocated_amounts["5yr"], abs=1e-6)
        assert g["amt_7yr"] == pytest.approx(ref.allocated_amounts["7yr"], abs=1e-6)
        assert g["amt_15yr"] == pytest.approx(ref.allocated_amounts["15yr"], abs=1e-6)
        assert g["amt_bldg"] == pytest.approx(ref.allocated_amounts[bldg], abs=1e-6)


def _capex_class_totals(pools, target_year, accumulated):
    """Per-class sums of the engine's pool fold over ``pools``, one
    filtered ``aggregate`` per class: the folds
    ``dep.capex_total_sql`` adds up in one aggregate."""
    fn = dep._sql_pool_fn("p", target_year, accumulated)
    cls = dep._sql_pool_class("p")
    return {
        c: F.expr(
            f"aggregate(filter({pools}, p -> {cls} = '{c}'), 0.0D,"
            f" (acc, p) -> acc + {fn})"
        )
        for c in dep.CAPEX_CLASSES
    }


def test_capex_pool_totals_match_rcgv(refmod, spark, staged):
    """D7/A3: per-class pool depreciation (year + accumulated)."""
    cur = _capex_class_totals("capex_items", "(acq_year + years_elapsed)", accumulated=False)
    acc = _capex_class_totals("capex_items", "(acq_year + years_elapsed - 1)", accumulated=True)
    out = staged.select(
        "case_id",
        *[v.alias(f"cur_{c.replace('.', '_')}") for c, v in cur.items()],
        *[v.alias(f"acc_{c.replace('.', '_')}") for c, v in acc.items()],
    )
    got = {r["case_id"]: r for r in out.collect()}
    for s in SCENARIOS:
        ref = _ref(refmod, s)
        ty = ref.css_date.year
        rcur = ref._aggregate_capex_by_class(ref._calculate_capex_pool_year_depreciation, ty)
        racc = ref._aggregate_capex_by_class(ref._calculate_capex_pool_accumulated, ty - 1)
        g = got[s[0]]
        for c in dep.CAPEX_CLASSES:
            key = c.replace(".", "_")
            assert g[f"cur_{key}"] == pytest.approx(rcur.get(c, 0), abs=1e-6), (s[0], c)
            assert g[f"acc_{key}"] == pytest.approx(racc.get(c, 0), abs=1e-6), (s[0], c)


def test_capex_total_is_the_class_fold_sum(spark, staged):
    """``capex_total_sql``'s one array-slot aggregate equals the
    per-class folds summed in class order, bit for bit."""
    for year, accumulated in (
        ("(acq_year + years_elapsed)", False),
        ("(acq_year + years_elapsed - 1)", True),
    ):
        per_class = _capex_class_totals("capex_items", year, accumulated)
        total = F.expr(dep.capex_total_sql("capex_items", year, accumulated))
        rows = staged.select(total.alias("total"), *(v.alias(c) for c, v in per_class.items())).collect()
        assert any(r["total"] for r in rows)
        for r in rows:
            fold = 0.0
            for v in r[1:]:
                fold += v
            assert r["total"] == fold, (accumulated, r)


def test_481a_with_pools_matches_rcgv(refmod, spark, staged):
    out = dep.with_481a_capex(staged).select(
        "case_id", "should_have_taken", "did_take", "catch_up_adjustment",
        "current_year_total", "total_current_year_benefit",
    )
    got = {r["case_id"]: r for r in out.collect()}
    for s in SCENARIOS:
        ref = _ref(refmod, s)
        r = ref.calculate_481a_adjustment()
        g = got[s[0]]
        assert g["should_have_taken"] == pytest.approx(r["should_have_taken"], abs=1e-6), s[0]
        assert g["did_take"] == pytest.approx(r["did_take"], abs=1e-6)
        assert g["catch_up_adjustment"] == pytest.approx(r["catch_up_adjustment"], abs=1e-6)
        assert g["current_year_total"] == pytest.approx(r["current_year_total"], abs=1e-6)
        assert g["total_current_year_benefit"] == pytest.approx(
            r["total_current_year_benefit"], abs=1e-6
        )


def test_remaining_basis_and_life_match_rcgv(refmod, spark, staged):
    rem = dep.remaining_basis_cols("(years_elapsed + 1)", "bonus_rate")
    life = dep.life_remaining_cols("(years_elapsed + 1)", "bonus_rate")
    out = staged.select(
        "case_id",
        *[v.alias(k) for k, v in rem.items()],
        *[v.alias(k) for k, v in life.items()],
    )
    got = {r["case_id"]: r for r in out.collect()}
    for s in SCENARIOS:
        ref = _ref(refmod, s)
        y = ref.css_date.year - ref.acquisition_date.year + 1
        rrem = ref.calculate_remaining_basis_by_class(y)
        rlife = ref.calculate_life_remaining_by_class(y)
        bldg = ref._building_key()
        g = got[s[0]]
        assert g["rem_5yr"] == pytest.approx(rrem["5yr"], abs=1e-6)
        assert g["rem_7yr"] == pytest.approx(rrem["7yr"], abs=1e-6)
        assert g["rem_15yr"] == pytest.approx(rrem["15yr"], abs=1e-6)
        assert g["rem_bldg"] == pytest.approx(rrem[bldg], abs=1e-6)
        assert g["life_5yr"] == str(rlife["5yr"])
        assert g["life_7yr"] == str(rlife["7yr"])
        assert g["life_15yr"] == str(rlife["15yr"])
        assert g["life_bldg"] == str(rlife[bldg])


def test_lifetime_totals_match_rcgv(refmod, spark, staged):
    out = dep.with_lifetime_totals(staged, pools_col="capex_items").select(
        "case_id", "lifetime_standard", "lifetime_traditional", "lifetime_bonus"
    )
    got = {r["case_id"]: r for r in out.collect()}
    for s in SCENARIOS:
        ref = _ref(refmod, s)
        r = ref.lifetime_totals(from_css_year=True)
        g = got[s[0]]
        assert g["lifetime_standard"] == pytest.approx(float(r["standard"]), abs=0.011), s[0]
        assert g["lifetime_traditional"] == pytest.approx(float(r["traditional"]), abs=0.011)
        assert g["lifetime_bonus"] == pytest.approx(float(r["bonus"]), abs=0.011)


def test_d11_identity_reconciliation(spark, staged):
    """D11 as the reference defines it: lifetime totals == basis − SL
    prior (+ capex), 1-cent tolerance — flag, not exception."""
    out = dep.with_reconciliation(
        dep.with_lifetime_totals(staged, pools_col="capex_items"), pools_col="capex_items"
    )
    rows = out.select("case_id", "is_reconciled").collect()
    assert rows and all(r["is_reconciled"] for r in rows)


def _reconcile_schedule(schedule, keys, tolerance=0.01):
    """Schedule-assembly invariant (stronger than the reference's D11):
    each column's sum over the horizon must equal the engine's OWN
    accumulated value at the horizon, i.e. the per-year decomposition
    telescopes. Deliberately NOT checked against the raw basis: the
    reference's MM tables (reproduced verbatim for parity) sum to
    99.893% (39yr) / 101.657% (27.5yr), so full-basis recovery is not a
    property of this data (see test_reference_table_gap_documented)."""
    tot = schedule.groupBy(
        *keys, "total_depreciable", "building_class", "pis_month", "bonus_rate",
        "amt_5yr", "amt_7yr", "amt_15yr", "amt_bldg",
    ).agg(
        F.sum("bonus_dep").alias("sum_bonus"),
        F.sum("trad_cost_seg").alias("sum_trad"),
        F.sum("std_dep").alias("sum_std"),
        F.max("accumulated_total").alias("acc_at_horizon"),
        F.max("year").alias("horizon"),
    )
    tol = sqld(tolerance)
    trad_at_horizon = dep._sql_sum(dep._class_sqls("horizon", "0.0D", accumulated=True).values())
    return tot.select(
        *keys,
        F.round(F.col("sum_bonus"), 2).alias("sum_bonus"),
        F.round(F.col("acc_at_horizon"), 2).alias("acc_at_horizon"),
        F.expr(f"abs(sum_bonus - acc_at_horizon) <= {tol}").alias("bonus_reconciled"),
        F.expr(f"abs(sum_std - {dep._sql_standard_dep('horizon')}) <= {tol}").alias("std_reconciled"),
        F.expr(f"abs(sum_trad - {trad_at_horizon}) <= {tol}").alias("trad_reconciled"),
    )


def test_schedule_reconciliation_invariant(spark, staged):
    """Schedule sums telescope to the engine's accumulated-at-horizon
    (the stronger invariant the reference's identity check misses)."""
    sched = dep.depreciation_schedule(staged, full_horizon=True)
    rec = _reconcile_schedule(sched, ["case_id"])
    rows = rec.collect()
    assert rows
    for r in rows:
        assert r["bonus_reconciled"], (r["case_id"], r["sum_bonus"], r["acc_at_horizon"])
        assert r["std_reconciled"], r["case_id"]
        assert r["trad_reconciled"], r["case_id"]


def test_reference_table_gap_documented(refmod):
    """Pin the reference data quirk _reconcile_schedule works around:
    MM tables don't sum to 100% (39yr: 99.893, 27.5yr: 101.657)."""
    import rcgvcs.macrs_tables as mt
    s39 = sum(mt.MACRS_39YR_MM[y][6] for y in mt.MACRS_39YR_MM)
    s27 = sum(mt.MACRS_27_5YR_MM[y][6] for y in mt.MACRS_27_5YR_MM)
    assert abs(s39 - 99.893) < 0.01
    assert abs(s27 - 101.657) < 0.01




def test_engine_matches_duckdb_mirrors_on_edge_grid(spark):
    """The engine's 481(a) values, per-class year and accumulated values
    and CapEx pool totals agree to the cent with their DuckDB mirrors
    (sqlgen, queries_capex) on an edge grid: 27.5/39/30/40yr and an
    unknown building class, every pool classification plus an unknown
    one, null or 80% pool bonus overrides."""
    import duckdb

    from pdf_parser_spark import queries_capex as qc
    from pdf_parser_spark import sqlgen

    kinds = ["QIP", "5_year", "7_year", "15_year", "27_5_year", "39_year", "junk"]
    buildings = ["27.5yr", "39yr", "30yr", "40yr", "junk"]
    grid = [
        (i, 2015 + i % 10, i % 7, i % 4 * 20.0, i * 991.7, i * 313.1, i * 77.3,
         i * 5011.9, i * 6393.0, buildings[i % 5], i % 12 + 1)
        for i in range(40)
    ]
    pools = [
        (i, k, 1000.0 + i * 37.3,
         datetime.date(2015 + (i * 3) % 12, 1 + (i * 5) % 12, 1 + (i * 7) % 28),
         c, None if i % 3 else 80.0)
        for i in range(40)
        for k, c in enumerate(kinds[: 1 + i % 7])
    ]
    cols = ["id", "acq_year", "years_elapsed", "bonus_rate", "amt_5yr", "amt_7yr",
            "amt_15yr", "amt_bldg", "total_depreciable", "building_class", "pis_month"]
    sdf = spark.createDataFrame(
        [(*g, [p[2:] for p in pools if p[0] == g[0]]) for g in grid],
        "id long, acq_year int, years_elapsed int, bonus_rate double, amt_5yr double,"
        " amt_7yr double, amt_15yr double, amt_bldg double, total_depreciable double,"
        " building_class string, pis_month int, capex_items array<struct<amount:double,"
        "pis_date:date,classification:string,bonus_override:double>>",
    )

    years = {"acc": "years_elapsed", "cur": "(years_elapsed + 1)", "y1": "1"}
    engine = {
        f"{t}_{k[4:]}": v
        for t, y in years.items()
        for k, v in dep._class_sqls(y, "bonus_rate", accumulated=t == "acc").items()
    }
    engine["capex_acc"] = dep.capex_total_sql(
        "capex_items", "(acq_year + years_elapsed - 1)", accumulated=True
    )
    engine["capex_cur"] = dep.capex_total_sql(
        "capex_items", "(acq_year + years_elapsed)", accumulated=False
    )
    outs = ["should_have_taken", "did_take", "catch_up_adjustment",
            "current_year_total", "total_current_year_benefit"]
    got = dep.with_481a_capex(sdf).select(
        "id",
        *[F.round(F.expr(v), 2).alias(k) for k, v in engine.items()],
        *[F.round(c, 2).alias(c) for c in outs],
    )

    mirror = {}
    for t, y in years.items():
        for c in dep.SHORT_CLASSES:
            fn = sqlgen.sql_short_acc_dep if t == "acc" else sqlgen.sql_short_year_dep
            mirror[f"{t}_{c}"] = fn(f"amt_{c}", "bonus_rate", c, y)
        fn = sqlgen.sql_bldg_acc_dep if t == "acc" else sqlgen.sql_bldg_year_dep
        mirror[f"{t}_bldg"] = fn("amt_bldg", "building_class", y, "pis_month")
    mirror["capex_acc"] = "capex_acc"
    mirror["capex_cur"] = "capex_cur"

    def total(t, capex):
        terms = " + ".join(mirror[f"{t}_{c}"] for c in [*dep.SHORT_CLASSES, "bldg"])
        return f"(({terms}) + {capex})"

    should, cur, y1 = total("acc", "capex_acc"), total("cur", "capex_cur"), total("y1", "capex_cur")
    did = sqlgen.sql_standard_dep("total_depreciable", "building_class", "years_elapsed", "pis_month")
    zero = sqlgen.flit(0.0)
    mirror.update(
        should_have_taken=f"CASE WHEN years_elapsed = 0 THEN {zero} ELSE {should} END",
        did_take=f"CASE WHEN years_elapsed = 0 THEN {zero} ELSE {did} END",
        catch_up_adjustment=f"CASE WHEN years_elapsed = 0 THEN {zero} ELSE {should} - {did} END",
        current_year_total=f"CASE WHEN years_elapsed = 0 THEN {y1} ELSE {cur} END",
        total_current_year_benefit=(
            f"CASE WHEN years_elapsed = 0 THEN {y1} ELSE {should} - {did} + {cur} END"
        ),
    )
    cls = " ".join(f"WHEN classification = '{k}' THEN '{v}'" for k, v in dep.CAPEX_CLASS_MAP.items())
    cur_dep = qc._sql_pool_dep(
        "amount", "pb", "cls", "(acq_year + years_elapsed - year(pis_date) + 1)", "month(pis_date)"
    )
    acc_dep = qc._sql_pool_acc(
        "amount", "pb", "cls", "((acq_year + years_elapsed - 1) - year(pis_date) + 1)",
        "month(pis_date)",
    )

    def fold(expr):
        # per-class left fold in pool-array order, then the classes in
        # CAPEX_CLASSES order: capex_total_sql's association
        return " + ".join(
            f"coalesce(list_reduce(list({expr} ORDER BY k) FILTER (WHERE cls = '{c}'),"
            f" (x, y) -> x + y), {zero})"
            for c in dep.CAPEX_CLASSES
        )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE g (id BIGINT, acq_year INT, years_elapsed INT, bonus_rate DOUBLE,"
        " amt_5yr DOUBLE, amt_7yr DOUBLE, amt_15yr DOUBLE, amt_bldg DOUBLE,"
        " total_depreciable DOUBLE, building_class VARCHAR, pis_month INT)"
    )
    con.executemany(f"INSERT INTO g VALUES ({', '.join('?' * len(cols))})", grid)
    con.execute(
        "CREATE TABLE pools (id BIGINT, k INT, amount DOUBLE, pis_date DATE,"
        " classification VARCHAR, bonus_override DOUBLE)"
    )
    con.executemany("INSERT INTO pools VALUES (?, ?, ?, ?, ?, ?)", pools)
    selected = ", ".join(f"{sqlgen.sql_round2(v)} AS {k}" for k, v in mirror.items())
    rows = con.execute(f"""
WITH pr AS (
  SELECT p.*, g.acq_year, g.years_elapsed,
         (CASE {cls} ELSE '5yr' END) AS cls,
         coalesce(p.bonus_override, {sqlgen.sql_bonus_rate('p.pis_date')}) AS pb
  FROM pools p JOIN g USING (id)
),
pa AS (
  SELECT id, {fold(acc_dep)} AS capex_acc, {fold(cur_dep)} AS capex_cur
  FROM pr GROUP BY id
)
SELECT id, {selected} FROM g JOIN pa USING (id)
""").fetchall()
    want = {r[0]: dict(zip(mirror, r[1:])) for r in rows}
    assert len(want) == len(grid)
    for r in got.collect():
        g = r.asDict()
        assert {k: g[k] for k in mirror} == want[g["id"]], g["id"]
