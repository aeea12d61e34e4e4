"""Helpers for splicing names and values into parsed SQL expression text."""

from __future__ import annotations

import math


def sql_str_lit(s: str) -> str:
    """``s`` as a Spark SQL string literal that parses back to exactly
    ``s``.  Spark unescapes backslash sequences inside literals, so both
    ``\\`` and ``'`` are escaped: a value's ``\\n`` stays two characters
    and a trailing backslash cannot swallow the closing quote."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_num_lit(x: int | float) -> str:
    """``x`` as the SQL literal ``F.lit(x)`` builds: an int stays
    integral, a float becomes a DOUBLE (``D`` suffix; a bare ``2.5``
    would parse as DECIMAL).  Non-finite floats have no literal form
    and are refused."""
    if isinstance(x, float):
        if not math.isfinite(x):
            raise ValueError(f"no SQL literal for {x!r}")
        return f"{x!r}D"
    return str(int(x))


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier that resolves
    to exactly ``name``: embedded backticks are doubled, and dots,
    spaces or quotes stay part of the one name."""
    return "`" + name.replace("`", "``") + "`"
