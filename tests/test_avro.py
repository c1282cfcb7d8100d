"""Avro I/O (S1/K2 — ParquetDump.scala:116, SchemaRepair.scala:33).

Exercises the real executable path in this environment: the
pure-Python OCF codec (io/avro_py.py) behind read_avro/write_avro.
Covers the wire format itself (magic, metadata, sync-marked deflate
blocks, zigzag varints), schema round-tripping, the distributed
plumbing, and the full nested-EDM-model round trip the reference's
monthly batch depends on.
"""

from __future__ import annotations

import io
import json
import os
import zlib

from pyspark.sql import functions as F

from batch_process_dpla_index_spark.io.avro_py import (
    DEFAULT_SYNC,
    MAGIC,
    avro_to_spark_schema,
    read_container,
    spark_to_avro_schema,
    write_container,
)
from batch_process_dpla_index_spark.io.sinks import read_avro, write_avro
from batch_process_dpla_index_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_container_wire_format():
    """Byte-level OCF invariants from the public spec: 4-byte magic,
    avro.schema/avro.codec metadata, 16-byte sync after the header and
    after every block, raw-deflate block bodies."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"}, {"name": "s", "type": ["null", "string"]}]}
    rows = [{"id": i, "s": None if i % 3 == 0 else f"v{i}"} for i in range(10)]
    buf = io.BytesIO()
    n = write_container(iter(rows), schema, buf, codec="deflate", block_records=4)
    raw = buf.getvalue()
    assert n == 10
    assert raw[:4] == MAGIC
    # header metadata is parseable and carries the schema verbatim
    got_schema, recs = read_container(raw)
    assert got_schema == schema
    assert list(recs) == rows
    # sync marker appears after header and after each of the 3 blocks
    assert raw.count(DEFAULT_SYNC) == 4


def test_container_null_codec_and_deflate_agree():
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "double"}]}
    rows = [{"x": float(i) / 7} for i in range(100)]
    plain, packed = io.BytesIO(), io.BytesIO()
    write_container(iter(rows), schema, plain, codec="null")
    write_container(iter(rows), schema, packed, codec="deflate")
    assert list(read_container(plain.getvalue())[1]) == rows
    assert list(read_container(packed.getvalue())[1]) == rows
    # and the deflate body really is raw deflate of the null body
    assert len(packed.getvalue()) != len(plain.getvalue())


def test_zigzag_longs_match_reference_vectors():
    """Known zigzag encodings from the Avro spec: 0→00, -1→01, 1→02,
    -2→03, 2→04; plus 64-bit extremes round-trip."""
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "v", "type": "long"}]}
    vals = [0, -1, 1, -2, 2, 2**62, -(2**62), 123456789012345]
    buf = io.BytesIO()
    write_container(iter([{"v": v} for v in vals]), schema, buf, codec="null")
    raw = buf.getvalue()
    body_start = raw.index(DEFAULT_SYNC) + 16
    blk = io.BytesIO(raw[body_start:])
    from batch_process_dpla_index_spark.io.avro_py import _read_zigzag

    assert _read_zigzag(blk) == len(vals)  # block record count
    _read_zigzag(blk)  # block byte size
    first_five = blk.read(5)
    assert first_five == bytes([0x00, 0x01, 0x02, 0x03, 0x04])
    assert [r["v"] for r in read_container(raw)[1]] == vals


def test_schema_mapping_round_trip(spark):
    ddl = (
        "id BIGINT, name STRING, score DOUBLE, flag BOOLEAN, blob BINARY, "
        "tags ARRAY<STRING>, kv MAP<STRING, BIGINT>, "
        "nested STRUCT<a: STRING, b: ARRAY<STRUCT<c: BIGINT, d: STRING>>>"
    )
    df = spark.createDataFrame([], ddl)
    avro = spark_to_avro_schema(df.schema)
    json.dumps(avro)  # must be JSON-serializable
    back = avro_to_spark_schema(avro)
    assert back.simpleString() == df.schema.simpleString()


def test_distributed_round_trip_preserves_values(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "Café", ["a", "b"], {"k": 2}, b"\x00\xffbin", None),
            (2, None, [], {}, None, "x"),
            (3, "", None, None, b"", ""),
        ],
        "id BIGINT, name STRING, tags ARRAY<STRING>, m MAP<STRING,BIGINT>, "
        "blob BINARY, opt STRING",
    )
    path = str(tmp_path / "rt.avro")
    write_avro(df, path)
    back = read_avro(spark, path)
    assert back.schema.simpleString() == df.schema.simpleString()
    a = {tuple(map(str, r)) for r in df.collect()}
    b = {tuple(map(str, r)) for r in back.collect()}
    assert a == b


def test_enriched_model_round_trip(spark, docs, tmp_path):
    """The reference's actual payload: the full nested EDM item model
    (structs of arrays of structs) survives Avro byte-for-byte —
    verified by comparing the flattened leaf projections."""
    from batch_process_dpla_index_spark.model.fixtures import synthesize_enriched
    from batch_process_dpla_index_spark.model.flatten import modify_columns

    enriched = synthesize_enriched(docs.limit(50))
    path = str(tmp_path / "enriched.avro")
    write_avro(enriched, path)
    back = read_avro(spark, path)
    want = modify_columns(enriched).select(
        "id", "uri", F.col("provider.name").alias("pname"),
        F.get("sourceResource.title", 0).alias("title0"),
    )
    got = modify_columns(back).select(
        "id", "uri", F.col("provider.name").alias("pname"),
        F.get("sourceResource.title", 0).alias("title0"),
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert back.count() == 50


def test_multi_path_scan(spark, tmp_path):
    """S1 is a VARIADIC scan (per-provider paths, ParquetDump.scala:116)."""
    d1, d2 = str(tmp_path / "p1.avro"), str(tmp_path / "p2.avro")
    a = spark.range(0, 10).select(F.col("id"), F.lit("p1").alias("src"))
    b = spark.range(10, 25).select(F.col("id"), F.lit("p2").alias("src"))
    write_avro(a, d1)
    write_avro(b, d2)
    both = read_avro(spark, d1, d2)
    assert both.count() == 25
    assert both.groupBy("src").count().count() == 2


def test_timestamp_and_date_logical_types(spark, tmp_path):
    import datetime

    rows = [
        (1, datetime.datetime(2024, 3, 1, 12, 30, 15, 123456), datetime.date(2024, 3, 1)),
        (2, None, None),
    ]
    df = spark.createDataFrame(rows, "id BIGINT, ts TIMESTAMP, d DATE")
    path = str(tmp_path / "ts.avro")
    write_avro(df, path)
    back = read_avro(spark, path)
    got = {r["id"]: (r["ts"], r["d"]) for r in back.collect()}
    want = {r["id"]: (r["ts"], r["d"]) for r in df.collect()}
    assert got == want


def test_overwrite_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "ow.avro")
    write_avro(spark.range(0, 100), path)
    write_avro(spark.range(0, 7), path)  # overwrite, not append
    assert read_avro(spark, path).count() == 7


def test_schema_inference_reads_only_the_header(spark, tmp_path, monkeypatch):
    """read_avro_py infers the schema from the first container's header
    alone: a container whose records dwarf its header still yields the
    right schema without decoding (or loading) the data blocks."""
    from batch_process_dpla_index_spark.io import avro_py

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"}, {"name": "blob", "type": "bytes"}]}
    out = tmp_path / "big"
    out.mkdir()
    part = out / "part-00000.avro"
    with open(part, "wb") as fh:
        # incompressible payload: ~4 MiB of records behind a <1 KiB header
        rows = ({"id": i, "blob": os.urandom(4096)} for i in range(1024))
        write_container(rows, schema, fh, codec="null")
    with open(part, "rb") as fh:
        got, codec, sync = avro_py.read_header(fh)
        header_len = fh.tell()
    assert (got, codec, sync) == (schema, "null", DEFAULT_SYNC)
    assert header_len * 1000 < os.path.getsize(part)

    def no_full_read(raw):
        raise AssertionError("schema inference decoded a whole container")

    with monkeypatch.context() as m:
        m.setattr(avro_py, "read_container", no_full_read)
        inferred = avro_py.read_avro_py(spark, str(out)).schema
    assert inferred.simpleString() == "struct<id:bigint,blob:binary>"
    # the scan itself (executor-side read_container) is unchanged
    assert avro_py.read_avro_py(spark, str(out)).count() == 1024


def test_write_sweeps_orphan_tmp(spark, tmp_path, monkeypatch):
    """A failed or retried attempt's leftover ``._tmp`` for this job's
    tag is swept after the write: a green job leaves no tmp debris."""
    import glob
    import uuid

    from batch_process_dpla_index_spark.io.avro_py import read_avro_py, write_avro_py

    pinned = uuid.UUID(int=0xABCDEF)
    monkeypatch.setattr(uuid, "uuid4", lambda: pinned)
    tag = pinned.hex[:12]
    out = tmp_path / "sweep"
    out.mkdir()
    # one-partition frame: no live task ever writes part-00001
    orphan = out / f"part-00001.avro.{tag}-a0._tmp"
    orphan.write_bytes(b"partial")
    write_avro_py(spark.range(5, numPartitions=1), str(out), overwrite=False)
    assert not glob.glob(str(out / "*._tmp"))
    assert read_avro_py(spark, str(out)).count() == 5


def test_compiled_encoder_matches_reference_bytes(spark):
    """The schema-compiled encoder (the write hot path) must stay
    byte-identical to the readable reference _encode on the full
    nested model, including unions, logical types, arrays, and maps."""
    import datetime

    from batch_process_dpla_index_spark.io.avro_py import (
        _compile_encoder,
        _encode,
        spark_to_avro_schema,
    )

    df = spark.createDataFrame(
        [
            (1, "a", [1, None, 3], {"k": 1.5, "j": None}, (7, "x"),
             datetime.datetime(2024, 1, 2, 3, 4, 5), datetime.date(2024, 6, 1),
             b"\x00\xff", 1.25, True),
            (2, None, [], {}, (None, None), None, None, None, None, None),
        ],
        "id long, s string, arr array<int>, m map<string,double>, "
        "st struct<a:int,b:string>, ts timestamp, d date, bin binary, "
        "f double, flag boolean",
    )
    schema = spark_to_avro_schema(df.schema)
    enc = _compile_encoder(schema)
    for row in df.collect():
        rec = row.asDict(recursive=True)
        a, b = bytearray(), bytearray()
        _encode(rec, schema, a)
        enc(rec, b)
        assert bytes(a) == bytes(b)


def test_compiled_decoder_matches_reference_values(spark):
    """The compiled decoder must reproduce reference _decode values on
    the full nested model (round trip through the compiled encoder)."""
    import datetime
    import io as _io

    from batch_process_dpla_index_spark.io.avro_py import (
        _compile_decoder,
        _compile_encoder,
        _decode,
        spark_to_avro_schema,
    )

    df = spark.createDataFrame(
        [
            (1, "héllo", [1, None, 3], {"k": 1.5}, (7, "x"),
             datetime.datetime(2024, 1, 2, 3, 4, 5), datetime.date(2024, 6, 1),
             b"\x00\xff", -1.25, False),
            (2, None, [], {}, (None, None), None, None, None, None, None),
        ],
        "id long, s string, arr array<int>, m map<string,double>, "
        "st struct<a:int,b:string>, ts timestamp, d date, bin binary, "
        "f double, flag boolean",
    )
    schema = spark_to_avro_schema(df.schema)
    enc = _compile_encoder(schema)
    dec = _compile_decoder(schema)
    for row in df.collect():
        rec = row.asDict(recursive=True)
        buf = bytearray()
        enc(rec, buf)
        assert dec(_io.BytesIO(bytes(buf))) == _decode(_io.BytesIO(bytes(buf)), schema)


def test_timestamp_micros_exact_far_future():
    """Round-trip must be µs-exact beyond ~2243 (2^53 µs), where the
    old float .timestamp() path lost 1µs on ~half of values — in all
    four codec paths (reference + compiled, encode + decode)."""
    import datetime
    import io as _io

    from batch_process_dpla_index_spark.io.avro_py import (
        _compile_decoder,
        _compile_encoder,
        _decode,
        _encode,
    )

    schema = {"type": "long", "logicalType": "timestamp-micros"}
    enc, dec = _compile_encoder(schema), _compile_decoder(schema)
    utc = datetime.timezone.utc
    for us in (1, 3, 123457, 999999):
        for year in (2024, 2200, 2255, 2400):
            v = datetime.datetime(year, 7, 2, 3, 4, 5, us, tzinfo=utc)
            for e in (lambda val, o: _encode(val, schema, o), enc):
                buf = bytearray()
                e(v, buf)
                raw = bytes(buf)
                assert _decode(_io.BytesIO(raw), schema) == v, (year, us)
                assert dec(_io.BytesIO(raw)) == v, (year, us)


def test_empty_write_read_roundtrip_helper_path(spark, tmp_path):
    """K2 symmetry: an all-empty-partitions write must leave a
    schema-only container so the read returns an empty frame with the
    written schema instead of FileNotFoundError."""
    from batch_process_dpla_index_spark.io.avro_py import read_avro_py, write_avro_py

    out = str(tmp_path / "empty_avro")
    df = spark.createDataFrame([], "a INT, b STRING")
    write_avro_py(df, out)
    back = read_avro_py(spark, out)
    assert back.count() == 0
    assert [f.name for f in back.schema.fields] == ["a", "b"]


def test_write_container_rejects_unknown_codec(spark, tmp_path):
    """A codec recorded in the header but not applied to the blocks
    would produce a file every conforming reader rejects — fail at
    write time."""
    import io as _io

    import pytest as _pytest

    from batch_process_dpla_index_spark.io.avro_py import write_container

    with _pytest.raises(ValueError, match="codec"):
        write_container(iter(()), {"type": "record", "name": "r", "fields": []},
                        _io.BytesIO(), codec="snappy")


def test_read_avro_py_accepts_glob_pattern(spark, tmp_path):
    """A part-file glob selects containers, like a directory path."""
    from batch_process_dpla_index_spark.io.avro_py import read_avro_py, write_avro_py

    out = str(tmp_path / "g")
    write_avro_py(spark.createDataFrame([(1,), (2,)], "a INT").coalesce(1), out)
    back = read_avro_py(spark, f"{out}/part-*.avro")
    assert sorted(r.a for r in back.collect()) == [1, 2]
