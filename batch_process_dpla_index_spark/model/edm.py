"""EDM/DPLA value-class reshape macros (SURVEY.md §1, D2).

Expression combinators, never UDFs, so Catalyst keeps constant-folding,
nested-schema pruning, and whole-stage codegen through every reshape
(the reference's own D2 style: ParquetDump.scala:54-113).

Two families:

- flatten-side (``edm_agent`` etc.): unwrap ``{value: string}``
  wrappers into plain strings while renaming web-resource fields —
  the ParquetDump direction (nested enriched → analyst-friendly).
  These are pure-Python SQL-text builders: each takes the SQL path of
  the value to reshape (a backtick-quoted column, field or lambda
  variable) and returns a SQL expression string. ``model/flatten``
  joins them into one ``selectExpr`` that the JVM parses in a single
  call; built as ``Column`` objects, every ``struct``, ``getItem``,
  ``alias`` and ``transform`` lambda was its own py4j round trip
  (about 6,200 per flatten).
- repair-side (``wrap_*``): the inverse direction used by SchemaRepair
  (SchemaRepair.scala:37-86): wrap plain strings back into
  ``{value}`` structs and inject typed-null placeholders for fields
  a provider never shipped. These stay ``Column -> Column``:
  ``repair_place`` needs ``withField``, which has no SQL spelling.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: DDL of the repaired/canonical edmWebResource (SchemaRepair.scala:64-70).
WEB_RESOURCE_DDL = (
    "struct<uri:struct<value:string>,fileFormat:array<string>,"
    "dcRights:array<string>,edmRights:string,"
    "isReferencedBy:struct<value:string>>"
)

VALUE_DDL = "struct<value:string>"


def sql_field(path: str, name: str) -> str:
    """SQL path of field ``name`` under ``path`` (ParquetDump.scala:55-56)."""
    return f"{path}.`{name}`"


def sql_struct(**fields: str) -> str:
    """``named_struct`` of ``name=sql`` pairs, in argument order."""
    return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + ")"


def sql_transform(path: str, builder, var: str = "x") -> str:
    """``transform`` over the array at ``path``, reshaping each element
    with ``builder`` (element SQL path → SQL). ``var`` names the lambda
    variable; a transform nested inside another takes a different one."""
    return f"transform({path}, {var} -> {builder(var)})"


def _de_value(path: str, name: str) -> str:
    """Unwrap a {value} wrapper field (ParquetDump.scala:58-59)."""
    return sql_field(sql_field(path, name), "value")


def de_value_array(path: str) -> str:
    """Unwrap every {value} element of the array at ``path``."""
    return sql_transform(path, lambda e: sql_field(e, "value"), var="v")


def edm_web_resource(path: str) -> str:
    """Flatten-side edmWebResource (ParquetDump.scala:106-113):
    uri unwrapped, fileFormat→format, dcRights→rights."""
    return sql_struct(
        uri=_de_value(path, "uri"),
        format=sql_field(path, "fileFormat"),
        rights=sql_field(path, "dcRights"),
        edmRights=sql_field(path, "edmRights"),
        isReferencedBy=_de_value(path, "isReferencedBy"),
    )


def edm_agent(path: str) -> str:
    """Flatten-side edmAgent (ParquetDump.scala:89-104)."""
    return sql_struct(
        uri=_de_value(path, "uri"),
        name=sql_field(path, "name"),
        providedLabel=sql_field(path, "providedLabel"),
        note=sql_field(path, "note"),
        scheme=_de_value(path, "scheme"),
        exactMatch=de_value_array(sql_field(path, "exactMatch")),
        closeMatch=de_value_array(sql_field(path, "closeMatch")),
    )


def skos_concept(path: str) -> str:
    """Flatten-side skosConcept (ParquetDump.scala:79-87)."""
    return sql_struct(
        concept=sql_field(path, "concept"),
        providedLabel=sql_field(path, "providedLabel"),
        note=sql_field(path, "note"),
        scheme=_de_value(path, "scheme"),
        exactMatch=de_value_array(sql_field(path, "exactMatch")),
        closeMatch=de_value_array(sql_field(path, "closeMatch")),
    )


def dpla_place(path: str) -> str:
    """Flatten-side dplaPlace (ParquetDump.scala:60-70)."""
    return sql_struct(
        name=sql_field(path, "name"),
        city=sql_field(path, "city"),
        county=sql_field(path, "county"),
        state=sql_field(path, "state"),
        country=sql_field(path, "country"),
        region=sql_field(path, "region"),
        coordinates=sql_field(path, "coordinates"),
        exactMatch=_de_value(path, "exactMatch"),
    )


def dcmi_type_collection(path: str) -> str:
    """Flatten-side dcmiTypeCollection (ParquetDump.scala:72-77)."""
    return sql_struct(
        title=sql_field(path, "title"),
        description=sql_field(path, "description"),
        isShownAt=edm_web_resource(sql_field(path, "isShownAt")),
    )


# --- repair-side (SchemaRepair direction: raw → canonical nested) ----------


def to_value_field(name: str) -> Column:
    """Wrap a plain string column into {value} (SchemaRepair.scala:37-38)."""
    return F.struct(F.col(name).alias("value")).alias(name)


def wrap_agent(col: Column) -> Column:
    """Repair-side edmAgent (SchemaRepair.scala:40-50): wrap uri/scheme/
    exactMatch/closeMatch scalars into {value} structs."""
    return F.struct(
        F.struct(col.getField("uri").alias("value")).alias("uri"),
        col.getField("name").alias("name"),
        col.getField("providedLabel").alias("providedLabel"),
        col.getField("note").alias("note"),
        F.struct(col.getField("scheme").alias("value")).alias("scheme"),
        F.transform(col.getField("exactMatch"), lambda x: F.struct(x.alias("value"))).alias("exactMatch"),
        F.transform(col.getField("closeMatch"), lambda x: F.struct(x.alias("value"))).alias("closeMatch"),
    )


def wrap_web_resource(col: Column) -> Column:
    """Repair-side edmWebResource (SchemaRepair.scala:55-62): wraps uri,
    injects a typed-null isReferencedBy the raw data never carried."""
    return F.struct(
        F.struct(col.getField("uri").alias("value")).alias("uri"),
        col.getField("fileFormat").alias("fileFormat"),
        col.getField("dcRights").alias("dcRights"),
        col.getField("edmRights").alias("edmRights"),
        F.lit(None).cast(VALUE_DDL).alias("isReferencedBy"),
    )


def wrap_skos_concept(col: Column) -> Column:
    """Repair-side skosConcept (SchemaRepair.scala:73-81)."""
    return F.struct(
        col.getField("concept").alias("concept"),
        col.getField("providedLabel").alias("providedLabel"),
        col.getField("note").alias("note"),
        F.struct(col.getField("scheme").alias("value")).alias("scheme"),
        F.transform(col.getField("exactMatch"), lambda x: F.struct(x.alias("value"))).alias("exactMatch"),
        F.transform(col.getField("closeMatch"), lambda x: F.struct(x.alias("value"))).alias("closeMatch"),
    )


def wrap_dcmi_type_collection(col: Column) -> Column:
    """Repair-side dcmiTypeCollection (SchemaRepair.scala:64-71):
    typed-null isShownAt placeholder."""
    return F.struct(
        col.getField("title").alias("title"),
        col.getField("description").alias("description"),
        F.lit(None).cast(WEB_RESOURCE_DDL).alias("isShownAt"),
    )


def repair_place(col: Column) -> Column:
    """Repair-side dplaPlace array (SchemaRepair.scala:83-86):
    withField-inject an exactMatch placeholder into every element."""
    return F.transform(
        col,
        lambda place: place.withField(
            "exactMatch", F.array(F.lit(None).cast(VALUE_DDL))
        ),
    )
