"""Golden tests for the nested DPLA model: flatten, repair, align.

Covers what the DuckDB oracle can't express natively — byte-level
nested struct shapes — on hand-computed fixture rows (FIXTURES.md
style), plus the divergent-provider alignment path.
"""

from __future__ import annotations

import gc
import threading

import py4j.clientserver
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.model.fixtures import (
    synthesize_enriched,
    synthesize_raw,
)
from batch_process_dpla_index_spark.model.flatten import modify_columns
from batch_process_dpla_index_spark.model.repair import fix_schema
from batch_process_dpla_index_spark.model.schema import (
    align_to_schema,
    item_schema,
    schema_ddl,
)


def test_enriched_matches_canonical_schema(docs_small):
    """synthesize_enriched produces exactly the canonical item schema
    (modulo nullability flags, which lit() derivations tighten)."""
    enriched = synthesize_enriched(docs_small)
    assert enriched.schema.simpleString() == item_schema().simpleString()


def test_flatten_golden_row(spark, docs_small):
    """Byte-level golden check of one flattened record (doc_id=1)."""
    flat = modify_columns(synthesize_enriched(docs_small.filter(F.col("doc_id") == 1)))
    row = flat.collect()[0].asDict(recursive=True)
    assert row["id"] == "1"
    assert row["uri"] == "http://dp.la/api/items/1"
    assert row["rights"] == "http://rightsstatements.org/vocab/NoC-US/1.0/"
    # edm_agent macro: uri/scheme unwrapped to plain strings
    assert row["provider"]["uri"] == "http://dp.la/agent/src1"
    assert row["provider"]["name"] == "src1"
    assert row["provider"]["scheme"] == "http://dp.la/scheme"
    assert row["provider"]["exactMatch"] == ["em:src1"]
    # edm_web_resource macro: fileFormat→format, dcRights→rights
    assert row["isShownAt"]["uri"] == "http://example.org/item/1"
    assert row["isShownAt"]["format"] == ["text/html"]
    assert row["isShownAt"]["rights"] == ["free"]
    assert row["isShownAt"]["isReferencedBy"] == "http://example.org/item/1#ref"
    # skos_concept inside sourceResource.language
    doc_lang = docs_small.filter(F.col("doc_id") == 1).collect()[0]["lang"]
    lang = row["sourceResource"]["language"][0]
    assert lang["providedLabel"] == doc_lang and lang["scheme"] == "http://dp.la/scheme"
    # dropped heavy columns
    for gone in ("originalRecord", "sidecar", "messages", "tags", "dplaUri", "edmRights"):
        assert gone not in row
    # struct-over-null quirk: object is a non-null struct of nulls
    assert row["object"] is not None and row["object"]["uri"] == "http://example.org/item/1"


_WEB = (
    "struct<uri:string,format:array<string>,rights:array<string>,"
    "edmRights:string,isReferencedBy:string>"
)
_AGENT = (
    "struct<uri:string,name:string,providedLabel:string,note:string,"
    "scheme:string,exactMatch:array<string>,closeMatch:array<string>>"
)
_SKOS = (
    "struct<concept:string,providedLabel:string,note:string,scheme:string,"
    "exactMatch:array<string>,closeMatch:array<string>>"
)
_PLACE = (
    "struct<name:string,city:string,county:string,state:string,"
    "country:string,region:string,coordinates:string,exactMatch:array<string>>"
)
_DATE = "struct<originalSourceDate:string,begin:string,end:string>"
_SOURCE_RESOURCE = (
    "struct<alternateTitle:array<string>,"
    "collection:array<struct<title:string,description:string,isShownAt:" + _WEB + ">>,"
    "contributor:array<" + _AGENT + ">,creator:array<" + _AGENT + ">,"
    "date:array<" + _DATE + ">,description:array<string>,extent:array<string>,"
    "format:array<string>,identifier:array<string>,language:array<" + _SKOS + ">,"
    "place:array<" + _PLACE + ">,publisher:array<" + _AGENT + ">,"
    "relation:array<string>,replacedBy:array<string>,replaces:array<string>,"
    "rights:array<string>,rightsHolder:array<" + _AGENT + ">,"
    "subject:array<" + _SKOS + ">,temporal:array<" + _DATE + ">,"
    "title:array<string>,type:array<string>>"
)
#: The flattened item schema, field for field as the withColumn-chain
#: flatten produced it: kept columns in input order, reshaped ones in
#: place, uri/id/rights appended.
FLAT_SCHEMA = (
    "struct<sourceResource:" + _SOURCE_RESOURCE + ",dataProvider:" + _AGENT + ","
    "hasView:array<" + _WEB + ">,intermediateProvider:" + _AGENT + ","
    "isShownAt:" + _WEB + ",object:" + _WEB + ",preview:" + _WEB + ","
    "provider:" + _AGENT + ",originalId:string,iiifManifest:string,"
    "mediaMaster:array<" + _WEB + ">,uri:string,id:string,rights:string>"
)


def test_flatten_schema_pinned(docs_small):
    """Field order and types of the flattened record cannot drift."""
    flat = modify_columns(synthesize_enriched(docs_small))
    assert flat.schema.simpleString() == FLAT_SCHEMA


def test_flatten_builds_in_few_jvm_calls(docs_small, monkeypatch):
    """The flatten is one SQL projection: building it costs a handful of
    py4j round trips, not one per Column macro node (~6,200 when the
    EDM macros were Column DSL)."""
    enriched = synthesize_enriched(docs_small)
    calls = []
    send = py4j.clientserver.ClientServerConnection.send_command
    me = threading.current_thread()

    def counting(self, *args, **kwargs):
        # py4j's finalizer thread sends the "memory delete" commands of
        # earlier, freed objects at any time: count only this thread
        if threading.current_thread() is me:
            calls.append(1)
        return send(self, *args, **kwargs)

    # free the fixture's Column objects first: their py4j finalizers
    # would otherwise run (and be counted) inside the window
    gc.collect()
    gc.disable()
    try:
        monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
        modify_columns(enriched)
    finally:
        monkeypatch.undo()
        gc.enable()
    assert len(calls) <= 50, len(calls)


def test_repair_equals_enriched(docs_small):
    """fix_schema(raw) flattens to the same leaves as the directly
    synthesized enriched records (repair-injected typed nulls aside)."""
    flat_a = modify_columns(synthesize_enriched(docs_small))
    flat_b = modify_columns(fix_schema(synthesize_raw(docs_small)))
    cols = ["id", "rights", "provider.name", "sourceResource.title",
            "sourceResource.creator", "iiifManifest"]
    a = flat_a.select(*cols)
    b = flat_b.select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_repair_injects_typed_nulls(docs_small):
    repaired = fix_schema(synthesize_raw(docs_small))
    rows = repaired.select(
        F.col("isShownAt.isReferencedBy").alias("ref"),
        F.get(F.col("sourceResource.collection"), 0).getField("isShownAt").alias("coll_shown"),
    ).collect()
    assert all(r["ref"] is None for r in rows)
    assert all(r["coll_shown"] is None for r in rows)


def test_align_to_schema_missing_and_drifted(spark):
    from pyspark.sql.types import StructType

    df = spark.createDataFrame([(1, "a", 7), (2, "b", 8)], "id INT, name STRING, n INT")
    target = StructType.fromDDL("id BIGINT, name STRING, n BIGINT, extra STRING")
    aligned = align_to_schema(df, target)
    assert aligned.schema == target
    rows = aligned.orderBy("id").collect()
    assert rows[0]["extra"] is None and rows[0]["n"] == 7


def test_schema_ddl_roundtrip(docs_small):
    ddl = schema_ddl(synthesize_enriched(docs_small))
    assert "sourceResource" in ddl and "STRUCT" in ddl.upper()
