"""Avro OCF codec + DataSource tests.

The encoder/decoder pair could in principle agree on a WRONG reading of
the format, so the unit layer pins golden bytes taken directly from the
published Apache Avro specification (Binary encoding / Object Container
Files sections) — the same discipline the JPEG/PNG codecs use with their
spec-derived fixtures."""

from __future__ import annotations

import json
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.avro_ocf import (
    MAGIC,
    avro_schema_for,
    encode_double,
    encode_string,
    read_ocf,
    read_ocf_schema,
    write_ocf,
    zigzag_decode,
    zigzag_encode,
)

# --- spec golden pins -----------------------------------------------------

# Avro spec, "Binary encoding > Primitive types": the int/long zigzag
# varint example table, verbatim.
SPEC_ZIGZAG = [
    (0, b"\x00"),
    (-1, b"\x01"),
    (1, b"\x02"),
    (-2, b"\x03"),
    (2, b"\x04"),
    (-64, b"\x7f"),
    (64, b"\x80\x01"),
    (-65, b"\x81\x01"),
    (65, b"\x82\x01"),
]


@pytest.mark.parametrize("value,raw", SPEC_ZIGZAG)
def test_zigzag_matches_spec_table(value, raw):
    assert zigzag_encode(value) == raw
    got, pos = zigzag_decode(memoryview(raw), 0)
    assert got == value and pos == len(raw)


def test_string_framing_matches_spec_example():
    # spec: the 3-character string "foo" -> 06 66 6f 6f
    assert encode_string("foo") == b"\x06foo"


def test_double_is_little_endian_ieee():
    assert encode_double(1.0) == struct.pack("<d", 1.0)
    assert len(encode_double(-2.5)) == 8


def test_container_layout_matches_spec():
    """Magic, self-describing metadata map, 16-byte sync after the header
    and after every block — the structural invariants any conforming
    Avro reader relies on."""
    sch = avro_schema_for([("a", "bigint")])
    data = write_ocf(sch, [[1, 2, 3]], 3, block_rows=2)  # 2 blocks
    assert data[:4] == MAGIC
    buf = memoryview(data)
    pos = 4
    n, pos = zigzag_decode(buf, pos)
    assert n == 2  # avro.schema + avro.codec
    meta = {}
    for _ in range(n):
        klen, pos = zigzag_decode(buf, pos)
        key = bytes(buf[pos : pos + klen]).decode()
        pos += klen
        vlen, pos = zigzag_decode(buf, pos)
        meta[key] = bytes(buf[pos : pos + vlen])
        pos += vlen
    z, pos = zigzag_decode(buf, pos)
    assert z == 0  # end of metadata map
    assert meta["avro.codec"] == b"null"
    assert json.loads(meta["avro.schema"])["type"] == "record"
    sync = bytes(buf[pos : pos + 16])
    pos += 16
    # block 1: count=2, then block 2: count=1, sync repeats after each
    n1, pos = zigzag_decode(buf, pos)
    blen1, pos = zigzag_decode(buf, pos)
    assert n1 == 2
    pos += blen1
    assert bytes(buf[pos : pos + 16]) == sync
    pos += 16
    n2, pos = zigzag_decode(buf, pos)
    blen2, pos = zigzag_decode(buf, pos)
    assert n2 == 1
    pos += blen2
    assert bytes(buf[pos : pos + 16]) == sync
    assert pos + 16 == len(data)


def test_schema_header_readback():
    sch = avro_schema_for([("x", "double"), ("s", "string")])
    data = write_ocf(sch, [[1.0], ["a"]], 1)
    assert read_ocf_schema(data) == sch


def test_unsupported_type_raises_loudly():
    with pytest.raises(NotImplementedError):
        avro_schema_for([("m", "map<string,string>")])
    sch = avro_schema_for([("a", "bigint")])
    with pytest.raises(NotImplementedError):
        write_ocf(sch, [[1, None]], 2)  # NULL without a union


# --- property round-trip ---------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.floats(allow_nan=False),  # NaN != NaN breaks equality, not codec
            st.text(max_size=40),
            st.booleans(),
        ),
        max_size=200,
    )
)
def test_roundtrip_property(rows):
    sch = avro_schema_for(
        [("i", "bigint"), ("d", "double"), ("s", "string"), ("b", "boolean")]
    )
    cols = [list(c) for c in zip(*rows)] if rows else [[], [], [], []]
    back_sch, back = read_ocf(write_ocf(sch, cols, len(rows), block_rows=17))
    assert back_sch == sch
    # doubles must round-trip BIT-exactly (incl. -0.0, inf, subnormals)
    for orig, got in zip(cols[1], back[1]):
        assert struct.pack("<d", orig) == struct.pack("<d", got)
    assert back[0] == cols[0] and back[2] == cols[2] and back[3] == cols[3]


# --- Spark end-to-end -------------------------------------------------------


def test_spark_write_read_exact_rows(spark, tmp_path):
    """Every row survives the DataSource write -> staged commit -> per-file
    partitioned read, value-exact, with one part file per task."""
    import os

    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.avro_ocf import (
        register_avro_datasource,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
        load_tables,
    )

    register_avro_datasource(spark)
    ev = (
        load_tables(spark, "/root/testdata/sf0.001", names=("events",))["events"]
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    out = str(tmp_path / "avro")
    ev.repartition(4).write.format("avro_ocf").mode("overwrite").save(out)
    parts = [f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".avro")]
    assert len(parts) == 4 and os.path.exists(os.path.join(out, "_SUCCESS"))
    back = spark.read.format("avro_ocf").load(out)
    assert back.schema == ev.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, ev.collect()))


# --- sync-marker byte-range splits (r11) -------------------------------------


def _one_block_file(tmp_path, n_rows=500, block_rows=13):
    sch = avro_schema_for([("i", "bigint"), ("s", "string")])
    cols = [list(range(n_rows)), [f"row-{i:06d}" for i in range(n_rows)]]
    data = write_ocf(sch, cols, n_rows, block_rows=block_rows)
    p = tmp_path / "part-00000.avro"
    p.write_bytes(data)
    return str(p), cols, len(data)


def test_range_reader_exactly_once_at_every_split_size(tmp_path):
    """The split-ownership protocol (resync at first marker >= start, own
    blocks starting < end + 16) must yield every record EXACTLY ONCE for
    ANY byte-range partitioning — including boundaries that land inside
    varints, inside record data, and inside the sync marker itself. Sweep
    adversarial split sizes over a many-block file and compare against the
    whole-file decode."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.avro_ocf import (
        read_ocf_range,
    )

    path, cols, size = _one_block_file(tmp_path)
    for split in (1, 7, 16, 17, 64, 100, 333, 1024, size - 1, size, size + 10):
        got: list[int] = []
        got_s: list[str] = []
        n_nonempty = 0
        for start in range(0, size, split):
            _, out = read_ocf_range(path, start, min(start + split, size))
            if out[0]:
                n_nonempty += 1
            got.extend(out[0])
            got_s.extend(out[1])
        assert sorted(got) == cols[0], f"split={split}: {len(got)} rows"
        assert sorted(got_s) == cols[1], f"split={split}"
    # sanity: a small split really does split one file across partitions
    n_parts = 0
    rows = 0
    for start in range(0, size, 1024):
        _, out = read_ocf_range(path, start, min(start + 1024, size))
        if out[0]:
            n_parts += 1
            rows += len(out[0])
    assert n_parts >= 2 and rows == len(cols[0])


def test_spark_multisplit_single_file_hash_equal(spark, tmp_path):
    """One multi-block container file read through >= 2 InputPartitions
    (small split_size option) must produce the identical row multiset as
    the whole-file read — the r10 verdict's done-criterion for within-file
    splitting."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.avro_ocf import (
        register_avro_datasource,
    )

    register_avro_datasource(spark)
    path, cols, size = _one_block_file(tmp_path, n_rows=2000, block_rows=64)
    whole = spark.read.format("avro_ocf").load(str(tmp_path))
    split = (
        spark.read.format("avro_ocf")
        .option("split_size", 2048)
        .load(str(tmp_path))
    )
    assert split.rdd.getNumPartitions() >= 2
    a = sorted(map(tuple, whole.collect()))
    b = sorted(map(tuple, split.collect()))
    assert a == b and len(a) == 2000


def _big_meta_file(tmp_path, pad_len):
    """Foreign-producer OCF: identical blocks to write_ocf's output but a
    header padded past the reader's initial 64 KiB window with an extra
    metadata entry (the Avro spec allows arbitrary meta keys)."""
    import hashlib
    import io

    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.avro_ocf import (
        _read_header,
        encode_bytes,
    )

    sch = avro_schema_for([("i", "bigint"), ("s", "string")])
    cols = [list(range(300)), [f"row-{i:06d}" for i in range(300)]]
    body = write_ocf(sch, cols, 300, block_rows=29)
    _, _, body_start = _read_header(memoryview(body))
    schema_json = json.dumps(sch, separators=(",", ":"))
    out = io.BytesIO()
    out.write(MAGIC)
    out.write(zigzag_encode(3))
    out.write(encode_string("avro.schema"))
    out.write(encode_bytes(schema_json.encode()))
    out.write(encode_string("avro.codec"))
    out.write(encode_bytes(b"null"))
    out.write(encode_string("x.pad"))
    out.write(encode_bytes(b"x" * pad_len))
    out.write(zigzag_encode(0))
    out.write(hashlib.md5(schema_json.encode()).digest())  # write_ocf's sync
    out.write(body[body_start:])
    p = tmp_path / "part-00000.avro"
    p.write_bytes(out.getvalue())
    return str(p), cols


def test_header_larger_than_initial_window(tmp_path):
    """r12 ADVICE: a header exceeding the 64 KiB first read used to raise
    an opaque IndexError in every split; _read_file_header now grows the
    window until the header parses, and range reads still see every row."""
    import os

    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.avro_ocf import (
        _read_file_header,
        read_ocf_range,
    )

    path, cols = _big_meta_file(tmp_path, pad_len=200 * 1024)
    with open(path, "rb") as fh:
        schema, sync, body_start = _read_file_header(fh)
    assert [f["name"] for f in schema["fields"]] == ["i", "s"]
    assert len(sync) == 16 and body_start > 200 * 1024
    size = os.path.getsize(path)
    got = [[], []]
    for start in range(0, size, 4096):
        _, part = read_ocf_range(path, start, min(start + 4096, size))
        got[0] += part[0]
        got[1] += part[1]
    assert sorted(got[0]) == cols[0]
    assert sorted(got[1]) == sorted(cols[1])


def test_truncated_header_raises_clear_error(tmp_path):
    """A file cut inside its own header must name the problem, not fake a
    short sync slice or bubble an IndexError."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.avro_ocf import (
        _read_file_header,
    )

    path, _ = _big_meta_file(tmp_path, pad_len=200 * 1024)
    data = open(path, "rb").read()
    cut = tmp_path / "part-00001.avro"
    cut.write_bytes(data[: 80 * 1024])  # inside the padded metadata
    with pytest.raises(ValueError, match="truncated or corrupt Avro header"):
        with open(cut, "rb") as fh:
            _read_file_header(fh)
