"""Result checks: an order-insensitive checksum of a query result, and
the canonical row form used once to cross-check it against DuckDB.

Floating-point columns are rendered to 9 significant digits before
hashing: a double sum may differ in its last bits between runs when
partial aggregates merge in a different order, and such a run is not
wrong.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _canon_col(name: str, dtype: T.DataType):
    c = F.col(f"`{name}`")
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.format_string("%.9g", c.cast("double"))
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, (T.DoubleType, T.FloatType)
    ):
        return F.transform(c, lambda x: F.format_string("%.9g", x.cast("double")))
    return c


def checksum_frame(df: DataFrame) -> DataFrame:
    """One-row frame ``(n, x, s)``: row count, XOR and 32-bit-lane sum
    of a per-row xxhash64 over every column (columns in name order)."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.xxhash64(*[_canon_col(f.name, f.dataType) for f in fields])
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor("h").alias("x"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
    )


def checksum_value(chk: DataFrame) -> list[int]:
    row = chk.collect()[0]
    return [int(row["n"]), int(row["x"] or 0), int(row["s"] or 0)]


def pairs_digest(pairs) -> str:
    """Order-insensitive digest of ``(vec_id, kept)`` decisions."""
    import hashlib

    return hashlib.md5(json.dumps(sorted(map(list, pairs))).encode()).hexdigest()


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def scale_key(sf: float) -> str:
    return repr(float(sf))


# ---------------------------------------------------------------------------
# canonical rows: the one-time DuckDB cross-check in record.py
# ---------------------------------------------------------------------------

def _canon(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        v = float(v)
        return "∅" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.strftime("%Y-%m-%d") + " 00:00:00.000000"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canonical_rows(pdf) -> list[str]:
    """Sorted multiset of rows over name-sorted columns."""
    cols = sorted(pdf.columns)
    return sorted(
        "|".join(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
