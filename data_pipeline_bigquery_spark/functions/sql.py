"""Helpers for splicing values into parsed SQL expression text."""

from __future__ import annotations


def sql_str_lit(s: str) -> str:
    """``s`` as a Spark SQL string literal that parses back to exactly
    ``s``.  Spark unescapes backslash sequences inside literals, so both
    ``\\`` and ``'`` are escaped: a value's ``\\n`` stays two characters
    and a trailing backslash cannot swallow the closing quote."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
