"""Type mappings between Python/numpy/pandas types and Spark SQL types.

Parity surface: the reference's ``dask_sql/mappings.py`` (``_PYTHON_TO_SQL``
at mappings.py:17-46, ``_SQL_TO_PYTHON_FRAMES`` at mappings.py:67-89).
Differences are deliberate upgrades:

- DECIMAL is *native* here (reference degrades DECIMAL to float64 on CPU,
  mappings.py:70); Spark ``DecimalType`` is exact.
- ARRAY/MAP/STRUCT are supported (reference has no nested types).
"""

from __future__ import annotations

import datetime
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import types as T

# numpy/python → Spark SQL type. Mirrors reference _PYTHON_TO_SQL
# (mappings.py:17-46): unsigned ints collapse into the same-width signed SQL
# type; str/object → VARCHAR (StringType); datetime64 → TIMESTAMP.
_PYTHON_TO_SPARK: dict[Any, T.DataType] = {
    float: T.DoubleType(),
    int: T.LongType(),
    str: T.StringType(),
    bool: T.BooleanType(),
    bytes: T.BinaryType(),
    datetime.datetime: T.TimestampType(),
    datetime.date: T.DateType(),
    np.float64: T.DoubleType(),
    np.float32: T.FloatType(),
    np.int64: T.LongType(),
    np.int32: T.IntegerType(),
    np.int16: T.ShortType(),
    np.int8: T.ByteType(),
    np.uint64: T.LongType(),
    np.uint32: T.IntegerType(),
    np.uint16: T.ShortType(),
    np.uint8: T.ByteType(),
    np.bool_: T.BooleanType(),
    np.str_: T.StringType(),
    np.object_: T.StringType(),
    np.datetime64: T.TimestampType(),
    np.timedelta64: T.DayTimeIntervalType(),
}

_DTYPE_NAME_TO_SPARK: dict[str, T.DataType] = {
    "float64": T.DoubleType(),
    "float32": T.FloatType(),
    "int64": T.LongType(),
    "int32": T.IntegerType(),
    "int16": T.ShortType(),
    "int8": T.ByteType(),
    "uint64": T.LongType(),
    "uint32": T.IntegerType(),
    "uint16": T.ShortType(),
    "uint8": T.ByteType(),
    "Int64": T.LongType(),
    "Int32": T.IntegerType(),
    "Int16": T.ShortType(),
    "Int8": T.ByteType(),
    "UInt64": T.LongType(),
    "UInt32": T.IntegerType(),
    "UInt16": T.ShortType(),
    "UInt8": T.ByteType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "object": T.StringType(),
    "string": T.StringType(),
    "str": T.StringType(),
    # pandas categorical: values collect as their string labels (the
    # reference's dask meta does the same); r9 probe gap
    "category": T.StringType(),
    "datetime64[ns]": T.TimestampType(),
    "datetime64[us]": T.TimestampType(),
    "timedelta64[ns]": T.DayTimeIntervalType(),
}

# SQL type-name → Spark type (reference _SQL_TO_PYTHON_FRAMES,
# mappings.py:67-89 — but DECIMAL/DATE/TIME/INTERVAL are native here).
_SQL_TO_SPARK: dict[str, T.DataType] = {
    "DOUBLE": T.DoubleType(),
    "FLOAT": T.FloatType(),
    "REAL": T.FloatType(),
    "BIGINT": T.LongType(),
    "INTEGER": T.IntegerType(),
    "INT": T.IntegerType(),
    "SMALLINT": T.ShortType(),
    "TINYINT": T.ByteType(),
    "BOOLEAN": T.BooleanType(),
    "VARCHAR": T.StringType(),
    "CHAR": T.StringType(),
    "STRING": T.StringType(),
    "TEXT": T.StringType(),
    "DATE": T.DateType(),
    "TIMESTAMP": T.TimestampType(),
    "TIMESTAMP_NTZ": T.TimestampNTZType(),
    "BINARY": T.BinaryType(),
    "VARBINARY": T.BinaryType(),
    "NULL": T.NullType(),
}


def python_to_spark_type(t: Any) -> T.DataType:
    """Best-effort conversion of a python/numpy/pandas/SQL-name/Spark type
    spec to a Spark ``DataType``.

    Used by :meth:`Context.register_function` to type UDF signatures the way
    the reference types them from numpy dtypes (context.py:324-413).
    """
    if isinstance(t, T.DataType):
        return t
    if isinstance(t, str):
        name = t.strip().upper()
        if name.startswith("DECIMAL"):
            import re

            m = re.match(r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", name)
            if m:
                return T.DecimalType(int(m.group(1)), int(m.group(2)))
            return T.DecimalType(38, 18)
        if name in _SQL_TO_SPARK:
            return _SQL_TO_SPARK[name]
        # fall through: maybe a pandas dtype string like "int64"
        if t in _DTYPE_NAME_TO_SPARK:
            return _DTYPE_NAME_TO_SPARK[t]
        # last resort: Spark's own DDL parser covers the compound and
        # parameterized names the tables above don't enumerate —
        # array<...>, map<...>, struct<...>, varchar(n)/char(n),
        # numeric(p,s), interval units (r9 probe; needs a live session,
        # which every register_function caller has)
        try:
            return T.DataType.fromDDL(t)
        except Exception:
            pass
        raise NotImplementedError(f"No Spark type known for {t!r}")
    if t in _PYTHON_TO_SPARK:
        return _PYTHON_TO_SPARK[t]
    # numpy dtype instances / pandas extension dtypes
    try:
        name = pd.api.types.pandas_dtype(t).name
        if name in _DTYPE_NAME_TO_SPARK:
            return _DTYPE_NAME_TO_SPARK[name]
    except TypeError:
        pass
    raise NotImplementedError(f"No Spark type known for {t!r}")


def spark_type_to_sql_name(dt: T.DataType) -> str:
    """Spark type → SQL type name, for SHOW COLUMNS / DESCRIBE output
    (reference python_to_sql_type, mappings.py:49-64). Struct FIELD
    names are identifiers, not keywords — they keep their case (the r9
    probe caught `struct<a:int>` rendering as STRUCT<A:INT>); only the
    type words themselves uppercase."""
    if isinstance(dt, T.StructType):
        inner = ",".join(
            f"{f.name}:{spark_type_to_sql_name(f.dataType)}" for f in dt.fields
        )
        return f"STRUCT<{inner}>"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{spark_type_to_sql_name(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return (
            f"MAP<{spark_type_to_sql_name(dt.keyType)},"
            f"{spark_type_to_sql_name(dt.valueType)}>"
        )
    return dt.simpleString().upper()


def column_rows(schema: T.StructType) -> list[tuple[str, str, str]]:
    """(name, SQL type name, nullable YES/NO) per field: the column listing
    that SHOW COLUMNS and ``system.jdbc.columns`` both answer with."""
    return [
        (f.name, spark_type_to_sql_name(f.dataType), "YES" if f.nullable else "NO")
        for f in schema.fields
    ]
