"""Salesforce extractor, modeled (SURVEY.md §2.1 S2; §1.1 type map).

There is no Salesforce endpoint in this environment, so the extractor
is modeled exactly at its seams:

- ``SF_TYPE_MAP``: the full Salesforce field-type → Spark type lattice
  from SURVEY.md §1.1 (the reference's describe()→DDL layer).
- ``schema_from_describe``: a ``describe()``-shaped field list (what
  the REST metadata endpoint returns) → StructType + PostgreSQL DDL.
- ``extract_pages``: the query/queryMore pagination loop against a
  pluggable page-fetcher; pages land as Arrow-backed DataFrames and
  union incrementally — in production the fetcher wraps
  simple-salesforce (REST) or Bulk-API CSV part files, and at scale
  each page maps to one input partition.

tests/test_salesforce_model.py drives all three with a deterministic
fake endpoint.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Salesforce field type → (Spark type, PostgreSQL type). SURVEY.md §1.1.
SF_TYPE_MAP: dict[str, tuple[T.DataType, str]] = {
    "id": (T.StringType(), "varchar(18)"),
    "reference": (T.StringType(), "varchar(18)"),
    "string": (T.StringType(), "text"),
    "textarea": (T.StringType(), "text"),
    "encryptedstring": (T.StringType(), "text"),
    "url": (T.StringType(), "text"),
    "email": (T.StringType(), "text"),
    "phone": (T.StringType(), "text"),
    "picklist": (T.StringType(), "varchar"),
    "multipicklist": (T.ArrayType(T.StringType()), "text"),
    "boolean": (T.BooleanType(), "boolean"),
    "int": (T.LongType(), "bigint"),
    "double": (T.DoubleType(), "double precision"),
    "percent": (T.DoubleType(), "double precision"),
    "currency": (T.DecimalType(18, 2), "numeric(18,2)"),
    "date": (T.DateType(), "date"),
    "datetime": (T.TimestampType(), "timestamptz"),
    "base64": (T.BinaryType(), "bytea"),  # multimodal hook (L7)
    "anyType": (T.StringType(), "jsonb"),
}


def schema_from_describe(fields: list[dict]) -> T.StructType:
    """describe() field list → StructType.

    ``fields``: [{"name": ..., "type": <sf type>, "nillable": bool}].
    Unknown types degrade to string (the reference's jsonb fallback).
    """
    out = []
    for f in fields:
        spark_t, _pg = SF_TYPE_MAP.get(f["type"], (T.StringType(), "text"))
        out.append(T.StructField(f["name"], spark_t, f.get("nillable", True)))
    return T.StructType(out)


def pg_ddl_from_describe(table: str, fields: list[dict]) -> str:
    """describe() field list → CREATE TABLE DDL (the reference's core move)."""
    cols = []
    for f in fields:
        _spark_t, pg = SF_TYPE_MAP.get(f["type"], (T.StringType(), "text"))
        null = "" if f.get("nillable", True) else " NOT NULL"
        cols.append(f'  "{f["name"].lower()}" {pg}{null}')
    pk = next((f["name"] for f in fields if f["type"] == "id"), None)
    pk_sql = f',  PRIMARY KEY ("{pk.lower()}")' if pk else ""
    return f'CREATE TABLE "{table.lower()}" (\n' + ",\n".join(cols) + pk_sql + "\n)"


PageFetcher = Callable[[str | None], tuple[list[dict], str | None]]
"""(cursor | None) → (records, next_cursor | None) — the queryMore loop."""


def extract_pages(
    spark: SparkSession,
    fields: list[dict],
    fetch: PageFetcher,
    max_pages: int = 10_000,
) -> DataFrame:
    """Paginated extract → one DataFrame (schema applied, not inferred)."""
    schema = schema_from_describe(fields)
    names = [f.name for f in schema.fields]

    def pages() -> Iterator[list[dict]]:
        cursor = None
        for _ in range(max_pages):
            records, cursor = fetch(cursor)
            if records:
                yield records
            if cursor is None:
                return
        raise RuntimeError("pagination did not terminate")

    df: DataFrame | None = None
    for recs in pages():
        rows = [tuple(r.get(n) for n in names) for r in recs]
        page_df = spark.createDataFrame(rows, schema)
        df = page_df if df is None else df.unionByName(page_df)
    if df is None:
        df = spark.createDataFrame([], schema)
    return df
