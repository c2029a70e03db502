"""Spark SQL text from caller-supplied names and values.

The zonal path builds its DataFrames from SQL text (``selectExpr``,
``filter``, ``F.expr``): one parse per step instead of one py4j round
trip per Column operator.  Column names and values that come from
callers enter that text only through these two quoting functions.
"""

from __future__ import annotations

import datetime
import decimal
import math


def ident(name: str) -> str:
    """``name`` as a Spark SQL identifier: backquoted, inner backquotes doubled."""
    return "`" + name.replace("`", "``") + "`"


def lit(value) -> str:
    """``value`` as a Spark SQL literal of the type ``F.lit`` gives it.

    Strings escape backslashes and quotes, so the text is the value
    whatever it holds.  Supported: None, bool, int, float, Decimal, str,
    date and datetime (a datetime goes through ``TimestampType``'s own
    conversion, so it names the instant ``F.lit`` would).
    """
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        # an INT literal when it fits, BIGINT otherwise, as F.lit types it
        return str(value)
    if isinstance(value, float):
        if math.isfinite(value):
            return f"{value!r}D"
        return f"CAST('{value!r}' AS DOUBLE)"
    if isinstance(value, decimal.Decimal):
        return f"{value}BD"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, datetime.datetime):
        from pyspark.sql.types import TimestampType

        return f"timestamp_micros({TimestampType().toInternal(value)})"
    if isinstance(value, datetime.date):
        return f"DATE'{value.isoformat()}'"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")
