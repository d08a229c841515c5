"""S4/S5 against the REAL reference workbook, no openpyxl: the stdlib
zip+XML reader (xlsxlite) feeds header-pair discovery, and the engine's
executed _ladder_lookup verifies the broadcast range-join equivalent.
The csv twin of the loader and a corrupt workbook are checked too."""

from __future__ import annotations

import pandas as pd
import pytest

from conftest import reference_engine, reference_path
from pdf_parser_spark import pricing
from pdf_parser_spark.pricing import (
    COST_BASIS_V2,
    ladder_dim_from_table,
    ladder_join,
    load_ladder_tables,
)
from pdf_parser_spark.xlsxlite import read_sheet

PAIRS = [("Cost Basis", "Cost Basis Factor"), ("Zip Code", "Zip Code Factor")]


@pytest.fixture
def xlsx():
    """The reference's pricing workbook."""
    return reference_path("Base Pricing27.1_Pro_SMART_RCGV.xlsx")


def test_read_sheet_grid_shape(xlsx):
    grid = read_sheet(xlsx, "VLOOKUP Tables")
    assert len(grid) > 10 and len(grid[0]) > 10
    # engine/quote_calc.py:60 reads headers at row index 2
    row2 = [x for x in grid[2] if x is not None]
    assert "Cost Basis" in row2 and "Cost Basis Factor" in row2
    assert row2.index("Cost Basis Factor") == row2.index("Cost Basis") + 1


def test_read_sheet_unknown_sheet(xlsx):
    with pytest.raises(KeyError):
        read_sheet(xlsx, "No Such Sheet")


def test_ladder_discovery_from_real_workbook(xlsx):
    tabs = load_ladder_tables(xlsx, PAIRS)
    cb = tabs["Cost Basis"]
    # the workbook IS the source of the hard-coded v2 tiers — every
    # (threshold, factor) of COST_BASIS_V2 appears verbatim
    for thr, fac in COST_BASIS_V2:
        if thr is not None:
            assert (float(thr), float(fac)) in cb, (thr, fac)
    assert cb[0] == (0.0, 1.0)  # the below-first-threshold default row
    assert cb == sorted(cb)  # ascending, ready for _ladder_lookup
    zips = tabs["Zip Code"]
    assert len(zips) >= 10 and zips == sorted(zips)


def test_ladder_join_matches_executed_engine_lookup(spark, xlsx):
    """J1 parity: our broadcast range join == the engine's executed
    _ladder_lookup over the SAME workbook-discovered table."""
    engine = reference_engine()
    tabs = load_ladder_tables(xlsx, PAIRS)
    cb = tabs["Cost Basis"]
    ref_table = pd.DataFrame(cb, columns=["threshold", "factor"])
    probes = [0.0, 1.0, 249_999.0, 250_000.0, 750_001.0, 999_999.99,
              1_000_000.0, 2_500_000.0, 9_999_999.0, 10_000_000.0, 50_000_000.0]
    expected = {
        x: engine.QuoteCalculator._ladder_lookup(x, ref_table) for x in probes
    }
    df = spark.createDataFrame([(i, x) for i, x in enumerate(probes)], "i int, x double")
    dim = ladder_dim_from_table(spark, cb, name="factor")
    got = {r["x"]: r["factor"] for r in ladder_join(df, "x", dim).collect()}
    assert got == expected


def _make_synthetic_xlsx(path, attr_order_flipped=True):
    """Hand-built minimal xlsx exercising what the golden workbook does
    NOT: flipped attribute order (r:id before name), an XML entity in a
    sheet name, inline strings, multi-run shared strings, and a formula
    cell with a cached value."""
    import zipfile

    wb = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        "<sheets>"
        + (
            '<sheet r:id="rId1" sheetId="1" name="P&amp;L Tables"/>'
            if attr_order_flipped
            else '<sheet name="P&amp;L Tables" sheetId="1" r:id="rId1"/>'
        )
        + "</sheets></workbook>"
    )
    rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Target="worksheets/sheet1.xml" Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"/>'
        "</Relationships>"
    )
    shared = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">'
        "<si><t>Cost Basis</t></si>"
        "<si><r><t>Cost Basis </t></r><r><t>Factor</t></r></si>"  # multi-run
        "</sst>"
    )
    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        '<row r="3">'
        '<c r="B3" t="s"><v>0</v></c>'             # shared string
        '<c r="C3" t="s"><v>1</v></c>'             # multi-run shared string
        "</row>"
        '<row r="4">'
        '<c r="B4"><v>250000</v></c>'
        '<c r="C4"><f>1+0.01</f><v>1.01</v></c>'   # formula: cached value used
        "</row>"
        '<row r="5">'
        '<c r="B5"><v>500000</v></c>'
        '<c r="C5" t="inlineStr"><is><t>1.02</t></is></c>'  # inline string
        "</row>"
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/sharedStrings.xml", shared)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_synthetic_xlsx_attr_order_and_entities(tmp_path):
    """Producer variations the golden workbook can't exercise: flipped
    attribute order, entity-bearing sheet names, multi-run shared
    strings, inline strings, cached formula values."""
    for flipped in (True, False):
        p = str(tmp_path / f"wb_{flipped}.xlsx")
        _make_synthetic_xlsx(p, attr_order_flipped=flipped)
        grid = read_sheet(p, "P&L Tables")  # entity round-trips to '&'
        assert grid[2][1] == "Cost Basis"
        assert grid[2][2] == "Cost Basis Factor"  # runs concatenated
        assert grid[3][1] == 250000.0
        assert grid[3][2] == 1.01              # cached formula value
        assert grid[4][2] == "1.02"            # inline string stays str


# ----------------------------------------------------------------------
# S4/S5 ladder loading
# ----------------------------------------------------------------------
def test_ladder_csv_discovery(tmp_path, spark):
    csv = tmp_path / "vlookup.csv"
    csv.write_text(
        ",,,\n"
        ",,,\n"
        "Cost Basis,Cost Basis Factor,Zip Code,Zip Code Factor\n"
        "0,1.0,0,1.11\n"
        "250000,1.01,10000,1.1\n"
        "500000,1.02,20000,1.05\n"
        "notanumber,x,30000,1.0\n"
    )
    tables = pricing.load_ladder_tables(
        str(csv),
        [("Cost Basis", "Cost Basis Factor"), ("Zip Code", "Zip Code Factor")],
    )
    assert tables["Cost Basis"] == [(0.0, 1.0), (250000.0, 1.01), (500000.0, 1.02)]
    assert len(tables["Zip Code"]) == 4
    # feed the discovered ladder through the broadcast range join
    dim = pricing.ladder_dim_from_table(spark, tables["Cost Basis"], name="cb_factor")
    df = spark.createDataFrame([(1, 100.0), (2, 260000.0), (3, 9e9)], "id long, x double")
    got = {r["id"]: r["cb_factor"] for r in pricing.ladder_join(df, "x", dim).collect()}
    assert got == {1: 1.0, 2: 1.01, 3: 1.02}


def test_ladder_xlsx_corrupt_file(tmp_path):
    """.xlsx now loads via the stdlib reader (no openpyxl gate);
    non-zip bytes fail loudly, not silently."""
    import zipfile

    fake = tmp_path / "wb.xlsx"
    fake.write_bytes(b"not really xlsx")
    with pytest.raises(zipfile.BadZipFile):
        pricing.load_ladder_tables(str(fake), [("A", "B")])
