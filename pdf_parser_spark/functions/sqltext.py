"""Literals and identifiers for the stages written as Spark-SQL text.

The record, validation, pricing and depreciation stages write their
expressions as Spark-SQL text and apply each stage with one
``selectExpr`` (or ``F.expr``): one py4j round trip per column, parsed
JVM-side, where a Column tree costs several round trips per node on
every plan. The text must build the same expression tree the Column
code would, so every literal keeps the type ``F.lit`` gives it:

- a float is a DOUBLE literal with the ``D`` suffix (a bare ``1.05``
  parses as DECIMAL);
- an int is an INT literal, a bool ``true``/``false``;
- a str is a string literal whose backslashes, quotes and non-ASCII
  characters are escaped, so regexes and Unicode survive the parser.

Identifiers are backtick-quoted, so any column name survives too.
This text is the engine's; the DuckDB oracle text lives in ``sqlgen``.
"""

from __future__ import annotations

from typing import Iterable, Tuple

from pyspark.sql import DataFrame


def ident(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sqld(v: float) -> str:
    """A DOUBLE literal: ``repr`` round-trips every double exactly."""
    return repr(float(v)) + "D"


def sql_str(s: str) -> str:
    """A string literal. Printable ASCII stays as is; everything else is
    written as ``\\uXXXX`` escapes of its UTF-16 code units, which the
    parser reassembles into the same Java string."""
    out = []
    for ch in s:
        if ch in "\\'":
            out.append("\\" + ch)
        elif " " <= ch <= "~":
            out.append(ch)
        else:
            u = ch.encode("utf-16-be")
            out.extend(f"\\u{u[i]:02x}{u[i + 1]:02x}" for i in range(0, len(u), 2))
    return "'" + "".join(out) + "'"


def lit(v) -> str:
    """The literal ``F.lit(v)`` would make, as SQL text."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return sqld(v)
    if isinstance(v, int):
        return str(v)
    return sql_str(v)


def with_sql(df: DataFrame, cols: Iterable[Tuple[str, str]]) -> DataFrame:
    """``df`` plus one column per ``(name, sql)`` pair, in one select."""
    return df.selectExpr("*", *(f"{sql} AS {ident(name)}" for name, sql in cols))
