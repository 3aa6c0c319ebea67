"""SQL text for generated columns.

The rules, verdict, metrics and report columns are generated from the
rule registry at plan-build time. Each is built as ONE SQL expression
string and parsed by a single `F.expr`/`selectExpr` call instead of a tree
of Column objects: every Column node is at least one py4j round trip, and
the verdict plan alone used to cost thousands of them per build.

Every string literal that goes into that text passes through `quote`,
every numeric threshold through `number`, and every column name generated
from the registry through `ident`, so registry values (rule descriptions,
blocklisted hosts, boilerplate phrases, cut-offs — all overridable by the
CLI's --threshold) reach the plan exactly, whatever characters they hold.
"""

from __future__ import annotations

import math


def quote(text: str) -> str:
    """A Spark SQL string literal that parses back to exactly `text`.

    Spark unescapes backslash sequences inside literals (the default
    spark.sql.parser.escapedStringLiterals=false), so a backslash is
    doubled before the quote is escaped; every other character, newline
    and double quote included, stands for itself."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def number(x: int | float | str) -> str:
    """A Spark SQL numeric literal for `x`: an int stays an integral
    literal; anything else is read as a float (the CLI's --threshold
    passes a value such as `inf` through as a string) and becomes a
    DOUBLE literal that parses back to exactly that double — repr is
    Python's shortest round-trip form, and the D suffix keeps Spark from
    reading it as a DECIMAL. Non-finite values have no literal form and
    go through a string cast."""
    if type(x) is int:
        return str(x)
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST({quote(repr(x))} AS DOUBLE)"


def ident(name: str) -> str:
    """A backquoted column reference."""
    return "`" + name.replace("`", "``") + "`"


def named_struct(fields: dict[str, str]) -> str:
    """`named_struct` over field name -> SQL expression text."""
    return "named_struct(" + ", ".join(f"{quote(k)}, {v}" for k, v in fields.items()) + ")"
