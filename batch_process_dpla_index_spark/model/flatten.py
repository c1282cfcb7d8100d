"""ParquetDump-equivalent flattener (ParquetDump.scala:10-52).

Nested enriched item → analyst-friendly flat(ter) record: wrapped
scalars unwrapped, heavy opaque columns dropped, every EDM class
reshaped through the D2 macros. One narrow projection over the scan;
nested-schema pruning drops the never-referenced branches (SURVEY.md
§4). No shuffle at any scale.

The projection is built as SQL text (the ``model/edm`` flatten-side
builders) and handed to ``selectExpr`` once, so the JVM parses it in a
single call (about 20 py4j round trips in all). Built from ``Column``
macros it cost about 6,200 round trips, one per ``struct``,
``getItem``, ``alias`` and ``transform`` lambda, and those, not
Catalyst analysis, were the flatten's driver time: on a 4-vCPU host
the ``withColumn`` chain built and analysed in 1.09 s, one ``select``
of the same Column macros in 0.91 s, and this SQL projection in
0.14 s (medians of 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from batch_process_dpla_index_spark.model.edm import (
    dcmi_type_collection,
    de_value_array,
    dpla_place,
    edm_agent,
    edm_web_resource,
    skos_concept,
    sql_field,
    sql_struct,
    sql_transform,
)

#: The reference's item-URI prefix (ParquetDump.scala:13).
ITEM_URI_PREFIX = "http://dp.la/api/items/"

#: Heavy or superseded columns the reshape drops (P4: the opaque
#: payloads analysts never read; dplaUri/edmRights become uri/rights).
DROPPED = ("dplaUri", "originalRecord", "edmRights", "sidecar", "messages", "tags")


def _sr(name: str) -> str:
    return sql_field("`sourceResource`", name)


#: Columns replaced in place by their reshaped SQL.
RESHAPED = {
    "hasView": sql_transform("`hasView`", edm_web_resource),
    "object": edm_web_resource("`object`"),
    "preview": edm_web_resource("`preview`"),
    "iiifManifest": sql_field("`iiifManifest`", "value"),
    "isShownAt": edm_web_resource("`isShownAt`"),
    "mediaMaster": sql_transform("`mediaMaster`", edm_web_resource),
    "provider": edm_agent("`provider`"),
    "dataProvider": edm_agent("`dataProvider`"),
    "intermediateProvider": edm_agent("`intermediateProvider`"),
    "sourceResource": sql_struct(
        alternateTitle=_sr("alternateTitle"),
        collection=sql_transform(_sr("collection"), dcmi_type_collection),
        contributor=sql_transform(_sr("contributor"), edm_agent),
        creator=sql_transform(_sr("creator"), edm_agent),
        date=_sr("date"),
        description=_sr("description"),
        extent=_sr("extent"),
        format=_sr("format"),
        identifier=_sr("identifier"),
        language=sql_transform(_sr("language"), skos_concept),
        place=sql_transform(_sr("place"), dpla_place),
        publisher=sql_transform(_sr("publisher"), edm_agent),
        relation=de_value_array(_sr("relation")),
        replacedBy=_sr("replacedBy"),
        replaces=_sr("replaces"),
        rights=_sr("rights"),
        rightsHolder=sql_transform(_sr("rightsHolder"), edm_agent),
        subject=sql_transform(_sr("subject"), skos_concept),
        temporal=_sr("temporal"),
        title=_sr("title"),
        type=_sr("type"),
    ),
}

#: New columns, appended after the kept ones in this order.
APPENDED = {
    "uri": sql_field("`dplaUri`", "value"),
    "id": f"substring_index({sql_field('`dplaUri`', 'value')}, '{ITEM_URI_PREFIX}', -1)",
    "rights": sql_field("`edmRights`", "value"),
}


def modify_columns(df: DataFrame) -> DataFrame:
    """The ParquetDump reshape (ParquetDump.scala:10-52), step-for-step:

    - uri/id derived from dplaUri.value (substring_index on the item
      URI prefix — F1)
    - originalRecord/sidecar/messages/tags dropped (P4: the heavy
      opaque payloads analysts never read)
    - rights from edmRights.value
    - every web resource / agent / concept / place / collection
      reshaped via the D2 macros

    Kept columns stay in input order (reshaped ones in place); uri, id
    and rights are appended last.
    """
    kept = [
        f"{RESHAPED[c]} AS `{c}`" if c in RESHAPED else f"`{c}`"
        for c in df.columns
        if c not in DROPPED
    ]
    return df.selectExpr(*kept, *(f"{sql} AS `{c}`" for c, sql in APPENDED.items()))
