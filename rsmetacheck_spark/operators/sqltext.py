"""SQL text for generated columns.

The verdict, metrics and report columns are generated from the rule
registry at plan-build time. Each is built as ONE SQL expression string
and parsed by a single `F.expr` call instead of a tree of Column objects:
every Column node is at least one py4j round trip, and the verdict plan
alone used to cost thousands of them per build.

Every string literal that goes into that text passes through `quote`, and
every column name generated from the registry through `ident`, so registry
text (rule descriptions and suggestions, which the CLI's --threshold can
override) can hold any character.
"""

from __future__ import annotations


def quote(text: str) -> str:
    """A Spark SQL string literal that parses back to exactly `text`.

    Spark unescapes backslash sequences inside literals (the default
    spark.sql.parser.escapedStringLiterals=false), so a backslash is
    doubled before the quote is escaped; every other character, newline
    and double quote included, stands for itself."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident(name: str) -> str:
    """A backquoted column reference."""
    return "`" + name.replace("`", "``") + "`"


def named_struct(fields: dict[str, str]) -> str:
    """`named_struct` over field name -> SQL expression text."""
    return "named_struct(" + ", ".join(f"{quote(k)}, {v}" for k, v in fields.items()) + ")"
