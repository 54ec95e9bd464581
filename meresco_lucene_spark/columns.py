"""Column helpers shared by builder/executor/compose/facade."""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

# Column types whose values pyarrow reads from a store's parquet files
# exactly as Spark returns them (the driver-side reads of query/driver.py
# and of the merge feed take only these): strings and integers, which
# also group and cast to string alike, then floats and booleans.
KEY_TYPES = (StringType, LongType, IntegerType, ShortType, ByteType)
PLAIN_TYPES = KEY_TYPES + (DoubleType, FloatType, BooleanType)


def qcol(name: str) -> Column:
    """F.col with the name backtick-quoted: reference field names
    routinely contain dots (untokenized.field2, __key__.field,
    sorted.intfield1 — fieldregistry.py:31-37 prefix conventions) which
    bare F.col would mis-parse as struct access."""
    return F.col(f"`{name}`")


def sql_literal(value: str | int | float | tuple) -> str:
    """``value`` as a SQL literal of the type ``F.lit`` gives it: a term
    as the cast of its UTF-8 bytes (no quoting or escaping to get wrong),
    an int as int or bigint by its range, a float as a double written in
    its shortest round-trip form, so it parses back to the same bits, a
    tuple as the array of its items."""
    if isinstance(value, str):
        return f"cast(X'{value.encode().hex()}' AS STRING)"
    if isinstance(value, int) and not isinstance(value, bool):
        return str(value)
    if isinstance(value, float) and math.isfinite(value):
        return f"{value!r}D"
    if isinstance(value, tuple):
        return f"array({', '.join(sql_literal(x) for x in value)})"
    raise TypeError(f"no SQL literal for {value!r}")
