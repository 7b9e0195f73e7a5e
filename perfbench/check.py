"""Result fingerprints in the driver's protocol: row count, schema and an
order-insensitive value hash, compared against the registry's DuckDB
oracle on the same inputs.

The schema is compared by declared type class, read from the Spark
DataFrame's ``dtypes`` and from the DuckDB result's column types. The
classes follow the driver's typed hash, as tests/conftest.py maps it:
integer widths share the class ``int``, float widths ``float``,
``timestamp`` and ``timestamp_ntz`` share ``timestamp``, and a decimal
keeps its precision and scale. A DuckDB type with no Spark counterpart
(HUGEINT, unsigned, UUID, STRUCT, ...) gets a class no Spark column has,
so it never matches. Values are hashed by their declared class, so an
integer column never hashes like a float one; the only coercion is an
``int`` column that pandas holds as float64 (nulls), which is turned back
into integers.
"""

from __future__ import annotations

import datetime
import decimal
import math
from dataclasses import dataclass

import numpy as np
import pandas as pd

_SPARK_CLASS = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float",
    "timestamp": "timestamp", "timestamp_ntz": "timestamp",
}
_DUCK_TO_SPARK = {
    "TINYINT": "tinyint", "SMALLINT": "smallint", "INTEGER": "int", "BIGINT": "bigint",
    "FLOAT": "float", "DOUBLE": "double", "VARCHAR": "string", "BOOLEAN": "boolean",
    "DATE": "date", "TIMESTAMP": "timestamp", "BLOB": "binary",
}


def spark_class(dtype: str) -> str:
    """Type class of a Spark ``DataFrame.dtypes`` string."""
    if dtype.startswith("array<") and dtype.endswith(">"):
        return f"array<{spark_class(dtype[6:-1])}>"
    return _SPARK_CLASS.get(dtype, dtype)


def duck_class(dtype: str) -> str:
    """Type class of a DuckDB result column type."""
    t = str(dtype).upper()
    if t in _DUCK_TO_SPARK:
        return spark_class(_DUCK_TO_SPARK[t])
    if t.startswith("DECIMAL"):
        return t.lower().replace(" ", "")
    if t.endswith("[]"):
        return f"array<{duck_class(t[:-2])}>"
    return f"duckdb:{t}"  # no Spark type serializes like it


@dataclass(frozen=True)
class Fingerprint:
    rows: int
    schema: tuple[tuple[str, str], ...]  # (column, type class), sorted by column
    digest: int

    def mismatch(self, other: "Fingerprint") -> str | None:
        """Why ``self`` differs from ``other``, or None when they agree."""
        if self.rows != other.rows:
            return f"rows {self.rows} != {other.rows}"
        if self.schema != other.schema:
            return f"schema {self.schema} != {other.schema}"
        if self.digest != other.digest:
            return "value hash differs"
        return None


def _canon(v, cls: str):
    """Canonical scalar of a value of type class ``cls``, for nested and
    object-typed values."""
    if v is None or v is pd.NaT:
        return None
    if cls.startswith("array<"):
        return tuple(_canon(x, cls[6:-1]) for x in v)
    if isinstance(v, (float, np.floating)) and math.isnan(v):
        return None if cls == "int" else "NaN"
    if cls == "int":
        return int(v)
    if cls == "float":
        return float(v) + 0.0  # -0.0 -> 0.0
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v}"
    if isinstance(v, datetime.datetime):
        ts = pd.Timestamp(v)
        return (ts.tz_convert("UTC").tz_localize(None) if ts.tzinfo else ts).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x, "")) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x, "") for x in v)
    if hasattr(v, "asDict"):  # pyspark Row
        return _canon(v.asDict(), "")
    return v


def _column(s: pd.Series, cls: str) -> pd.Series:
    """The column as a hashable series whose values depend on its type class."""
    if cls == "int":
        return s.astype("Int64")
    if cls == "float":
        return s.astype("float64") + 0.0
    if cls == "boolean":
        return s.astype("boolean")
    if cls == "string":
        return s.astype(object)
    if cls == "timestamp":
        return pd.to_datetime(s, utc=True).dt.tz_localize(None).astype("datetime64[us]")
    if cls == "date":
        return pd.to_datetime(s).dt.strftime("%Y-%m-%d")
    return s.map(lambda v: repr(_canon(v, cls)))


def fingerprint(pdf: pd.DataFrame, classes: dict[str, str]) -> Fingerprint:
    """Fingerprint of a result whose columns have the given type classes."""
    cols = sorted(pdf.columns)
    schema = tuple((c, classes[c]) for c in cols)
    if not cols or len(pdf) == 0:
        return Fingerprint(len(pdf), schema, 0)
    data = {f"c{i}": _column(pdf[c].reset_index(drop=True), classes[c]) for i, c in enumerate(cols)}
    row_hashes = pd.util.hash_pandas_object(pd.DataFrame(data), index=False).to_numpy(np.uint64)
    return Fingerprint(len(pdf), schema, int(row_hashes.sum(dtype=np.uint64)))


def spark_fingerprint(df, pdf: pd.DataFrame) -> Fingerprint:
    """Fingerprint of ``pdf``, collected from the Spark DataFrame ``df``."""
    return fingerprint(pdf, {c: spark_class(t) for c, t in df.dtypes})


def oracle_fingerprint(duck, sql: str) -> Fingerprint:
    rel = duck.sql(sql)
    classes = {c: duck_class(t) for c, t in zip(rel.columns, rel.types)}
    return fingerprint(rel.arrow().to_pandas(), classes)
