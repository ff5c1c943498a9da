"""Order-insensitive content hash of a query output.

Every row is hashed with ``xxhash64`` over a canonical form of its
columns and the row hashes are summed, so the hash ignores row order and
partitioning. Floating-point values are rendered with 10 significant
digits first: a shuffle or a different partition count may reorder a
floating-point sum and move its last bits, which the DuckDB oracle
comparison (``rtol=1e-9``) tolerates too. Maps become key-sorted entry
arrays because ``xxhash64`` cannot hash maps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def canonical(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        x = col.cast("double")
        return (
            F.when(F.isnan(x), F.lit("NaN"))
            .when(x == 0, F.lit("0"))
            .otherwise(F.format_string("%.9e", x))
        )
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda e: canonical(e, dtype.elementType))
    if isinstance(dtype, T.MapType):
        return F.array_sort(
            F.transform(
                F.map_entries(col),
                lambda e: F.struct(
                    canonical(e["key"], dtype.keyType).alias("k"),
                    canonical(e["value"], dtype.valueType).alias("v"),
                ),
            )
        )
    if isinstance(dtype, T.StructType):
        return F.struct(*[canonical(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    return col


def schema_string(df: DataFrame) -> str:
    """Column names and types, in column order, without nullability."""
    return df.schema.simpleString()


def content_hash(df: DataFrame) -> str:
    """``"<rows>:<sum of row hashes>"`` — one Spark job."""
    cols = [F.col("`" + f.name.replace("`", "``") + "`") for f in df.schema.fields]
    row = F.xxhash64(*[canonical(c, f.dataType) for c, f in zip(cols, df.schema.fields)])
    n, total = df.select(row.cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)), F.sum("h")
    ).first()
    return f"{n}:{total if total is not None else 0}"
