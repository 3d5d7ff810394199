"""Pure-python Avro container codec (sources/avro_lite.py) and the static
Iceberg metadata walk built on it (sources/iceberg.py).

The decoder's integer encoding is pinned against the byte examples
published in the Avro specification (NOT against this repo's writer), so
reader/writer round-trip tests are not circular at the encoding layer."""

import io
import json
import struct

import pytest

from tdigest_spark.sources import avro_lite as av


def test_zigzag_matches_avro_spec_examples():
    # table straight from the Avro spec's binary-encoding section
    spec = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03", 2: b"\x04",
            -64: b"\x7f", 64: b"\x80\x01", -65: b"\x81\x01", 65: b"\x82\x01"}
    for val, raw in spec.items():
        out = bytearray()
        av._write_long(out, val)
        assert bytes(out) == raw, val
        assert av._read_long(io.BytesIO(raw)) == val


def test_primitive_decode_bytes_hand_built():
    """Decode a record from hand-assembled bytes (no writer involved)."""
    schema = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "u", "type": ["null", "int"]},
        ],
    }
    body = (
        b"\x06abc"          # string len 3 (zigzag 6), 'abc'
        + b"\x07"            # long -4 (zigzag 7)
        + struct.pack("<d", 2.5)
        + b"\x02\x54"        # union branch 1 (int), value 42 (zigzag 0x54)
    )
    named = {}
    got = av._decode(schema, io.BytesIO(body), named)
    assert got == {"s": "abc", "n": -4, "d": 2.5, "u": 42}


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip_nested(tmp_path, codec):
    schema = {
        "type": "record", "name": "outer",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "props", "type": {"type": "map", "values": "long"}},
            {"name": "opt", "type": ["null", "double"]},
            {"name": "kind", "type": {
                "type": "enum", "name": "k", "symbols": ["A", "B"]}},
            {"name": "inner", "type": {
                "type": "record", "name": "inner_t",
                "fields": [{"name": "b", "type": "bytes"},
                           {"name": "ok", "type": "boolean"}]}},
            {"name": "inner2", "type": "inner_t"},  # named-type reference
        ],
    }
    recs = [
        {"id": i, "tags": [f"t{i}", "x"], "props": {"a": i, "b": -i},
         "opt": None if i % 2 else float(i) / 4,
         "kind": "A" if i % 2 else "B",
         "inner": {"b": bytes([i % 250]), "ok": bool(i % 3)},
         "inner2": {"b": b"zz", "ok": False}}
        for i in range(50)
    ]
    p = tmp_path / "t.avro"
    av.write_container(p, schema, recs, codec=codec)
    got_schema, got = av.read_container(p)
    assert got_schema == schema
    assert got == recs


def test_container_rejects_corruption(tmp_path):
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "long"}]}
    p = tmp_path / "c.avro"
    av.write_container(p, schema, [{"x": 1}], codec="null")
    raw = bytearray(p.read_bytes())
    raw[-3] ^= 0xFF  # corrupt the trailing sync marker
    with pytest.raises(ValueError, match="sync"):
        av.read_container(bytes(raw))
    with pytest.raises(ValueError, match="container"):
        av.read_container(b"NOPE" + bytes(raw))


# ---------------------------------------------------------------------------
# static Iceberg table walk
# ---------------------------------------------------------------------------

MANIFEST_SCHEMA = {
    "type": "record", "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2",
            "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
            ]}},
    ],
}
MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}


def _build_iceberg_table(spark, root):
    """Hand-build an Iceberg-shaped table: two LIVE data files, one DELETED
    manifest entry, and one ORPHAN parquet (an old snapshot's file still on
    disk) — the exact cases where a raw directory read returns wrong data."""
    data = root / "data"
    meta = root / "metadata"
    data.mkdir(parents=True)
    meta.mkdir()
    files = {}
    for name, lo in (("a", 0), ("b", 100), ("orphan", 900), ("dead", 500)):
        df = spark.range(lo, lo + 10).selectExpr(
            "id AS doc_id", "CAST(id % 3 AS INT) AS n_tok"
        )
        d = root / f"_stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(d))
        part = next(d.glob("*.parquet"))
        dst = data / f"{name}.parquet"
        part.rename(dst)
        files[name] = dst
        import shutil

        shutil.rmtree(d)

    def entry(name, status):
        return {
            "status": status,
            "data_file": {
                "content": 0,
                "file_path": f"file://{files[name]}",
                "file_format": "PARQUET",
                "record_count": 10,
            },
        }

    m1 = meta / "m1.avro"
    av.write_container(
        m1, MANIFEST_SCHEMA, [entry("a", 1), entry("dead", 2)]
    )
    m2 = meta / "m2.avro"
    av.write_container(m2, MANIFEST_SCHEMA, [entry("b", 0)])
    ml = meta / "snap-7.avro"
    av.write_container(
        ml,
        MANIFEST_LIST_SCHEMA,
        [
            {"manifest_path": f"file://{m}", "manifest_length": 1,
             "content": 0, "added_snapshot_id": 7}
            for m in (m1, m2)
        ],
    )
    (meta / "v1.metadata.json").write_text(json.dumps({
        "format-version": 2,
        "current-snapshot-id": 7,
        "snapshots": [{"snapshot-id": 7, "manifest-list": f"file://{ml}"}],
    }))
    (meta / "version-hint.text").write_text("1")
    return files


def test_iceberg_static_scan_paths(spark, tmp_path):
    from tdigest_spark.sources.iceberg import (
        is_static_iceberg_table,
        iceberg_scan_paths_static,
        read_sequences,
    )

    root = tmp_path / "ice_tbl"
    files = _build_iceberg_table(spark, root)
    assert is_static_iceberg_table(str(root))
    got = iceberg_scan_paths_static(str(root))
    # live files only: no orphan (not in any manifest), no DELETED entry
    assert got == sorted([str(files["a"]), str(files["b"])])

    # read_sequences routes through the static walk: 20 live rows, and the
    # orphan's ids (900..909) are absent — a raw dir read would return 40
    df = read_sequences(spark, str(root))
    ids = sorted(r.doc_id for r in df.collect())
    assert ids == list(range(0, 10)) + list(range(100, 110))
    raw = spark.read.parquet(str(root / "data"))
    assert raw.count() == 40  # proves the directory really holds junk


def test_iceberg_static_relocated_table(spark, tmp_path):
    """Metadata written with another host's absolute URIs still resolves
    after the table directory is copied (suffix re-rooting)."""
    import shutil

    from tdigest_spark.sources.iceberg import iceberg_scan_paths_static

    root = tmp_path / "orig"
    _build_iceberg_table(spark, root)
    moved = tmp_path / "moved"
    shutil.move(str(root), str(moved))
    got = iceberg_scan_paths_static(str(moved))
    assert [p.startswith(str(moved)) for p in got] == [True, True]


def test_iceberg_static_empty_table(tmp_path):
    from tdigest_spark.sources.iceberg import iceberg_scan_paths_static

    meta = tmp_path / "empty" / "metadata"
    meta.mkdir(parents=True)
    (meta / "v1.metadata.json").write_text(
        json.dumps({"format-version": 2, "current-snapshot-id": -1,
                    "snapshots": []})
    )
    assert iceberg_scan_paths_static(str(tmp_path / "empty")) == []


def test_union_multi_branch_encodes_by_value_type(tmp_path):
    """A >2-branch union must pick the branch matching the VALUE's type,
    not the first non-null branch (code-review regression)."""
    schema = {
        "type": "record", "name": "u",
        "fields": [{"name": "v", "type": ["null", "string", "long", "bytes"]}],
    }
    recs = [{"v": None}, {"v": "s"}, {"v": 5}, {"v": b"\x01\x02"}]
    p = tmp_path / "u.avro"
    av.write_container(p, schema, recs, codec="null")
    _, got = av.read_container(p)
    assert got == recs
    with pytest.raises(ValueError, match="union"):
        av.write_container(p, schema, [{"v": 1.5}], codec="null")


def test_truncated_boolean_raises():
    # direct decode on an empty buffer: must EOFError, not return True
    # (b'' != b'\x00' is truthy — the regression this guards)
    with pytest.raises(EOFError):
        av._decode("boolean", io.BytesIO(b""), {})
    assert av._decode("boolean", io.BytesIO(b"\x01"), {}) is True
    assert av._decode("boolean", io.BytesIO(b"\x00"), {}) is False


def test_union_numeric_promotion_and_record_vs_map(tmp_path):
    # int into ['null','double'] promotes (standard Avro int->double)
    schema = {"type": "record", "name": "p",
              "fields": [{"name": "v", "type": ["null", "double"]}]}
    p = tmp_path / "p.avro"
    av.write_container(p, schema, [{"v": 1}, {"v": None}], codec="null")
    _, got = av.read_container(p)
    assert got == [{"v": 1.0}, {"v": None}]
    # ...but an exact branch always wins over promotion
    schema2 = {"type": "record", "name": "p2",
               "fields": [{"name": "v", "type": ["null", "double", "long"]}]}
    av.write_container(p, schema2, [{"v": 7}], codec="null")
    _, got2 = av.read_container(p)
    assert got2 == [{"v": 7}] and isinstance(got2[0]["v"], int)
    # record-vs-map in one union: dicts route by exact field-name set when
    # the record branch is first
    schema3 = {"type": "record", "name": "p3", "fields": [{
        "name": "v",
        "type": [
            {"type": "record", "name": "R",
             "fields": [{"name": "a", "type": "long"}]},
            {"type": "map", "values": "long"},
        ]}]}
    av.write_container(
        p, schema3, [{"v": {"a": 5}}, {"v": {"x": 1, "y": 2}}], codec="null"
    )
    _, got3 = av.read_container(p)
    assert got3 == [{"v": {"a": 5}}, {"v": {"x": 1, "y": 2}}]


def test_avro_lite_source_rejects_mixed_writer_schemas(spark, tmp_path):
    """Every container must carry the same writer schema: a renamed or
    missing field would otherwise read back as null under the first
    file's schema."""
    from tdigest_spark.sources.datasource import (
        AvroLiteDataSource,
        _AvroLiteReader,
    )

    base = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"}, {"name": "name", "type": "string"}]}
    renamed = {**base, "fields": [
        {"name": "id", "type": "long"}, {"name": "title", "type": "string"}]}
    missing = {**base, "fields": [{"name": "id", "type": "long"}]}
    same = tmp_path / "same"
    same.mkdir()
    av.write_container(same / "a.avro", base, [{"id": 1, "name": "x"}])
    av.write_container(same / "b.avro", base, [{"id": 2, "name": "y"}])
    spark.dataSource.register(AvroLiteDataSource)
    rows = spark.read.format("avro_lite").option("path", str(same)).load()
    assert sorted(tuple(r) for r in rows.collect()) == [(1, "x"), (2, "y")]
    for other, recs in ((renamed, [{"id": 3, "title": "z"}]), (missing, [{"id": 3}])):
        mixed = tmp_path / f"mixed_{len(other['fields'])}"
        mixed.mkdir()
        av.write_container(mixed / "a.avro", base, [{"id": 1, "name": "x"}])
        av.write_container(mixed / "b.avro", other, recs)
        opts = {"path": str(mixed)}
        with pytest.raises(ValueError, match="b.avro"):
            AvroLiteDataSource(opts).schema()
        with pytest.raises(ValueError, match="b.avro"):
            _AvroLiteReader(opts)
