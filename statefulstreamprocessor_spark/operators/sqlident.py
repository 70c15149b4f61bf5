"""Column-name quoting for operators that build their plans as SQL strings.

SQL text parses once on the JVM side (one py4j round-trip per select
instead of several per Column call), but only if every column name in it is
quoted: a bare ``v.x`` reads as a struct field and a bare name with a
space or backtick does not parse. :func:`quote_ident` makes any name safe.
"""

from __future__ import annotations

from pyspark.sql.types import StructType

__all__ = ["quote_ident", "struct_sql", "null_struct_sql"]


def quote_ident(name: str) -> str:
    """Backtick-quote ``name`` for SQL text, doubling embedded backticks,
    so the result names exactly that top-level column."""
    return "`" + name.replace("`", "``") + "`"


def struct_sql(cols: list[str]) -> str:
    """``struct(...)`` over the named columns, each field keeping its name."""
    fields = ", ".join(f"{q} AS {q}" for q in map(quote_ident, cols))
    return f"struct({fields})"


def null_struct_sql(struct_type: StructType) -> str:
    """A NULL of ``struct_type`` in SQL, field names quoted by Spark's own
    DDL rendering."""
    return f"CAST(NULL AS STRUCT<{struct_type.toDDL()}>)"
