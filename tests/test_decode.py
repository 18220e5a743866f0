"""Decode matrix golden + property tests (reference decode table
``src/mdp/plugins/transformers/decom.py:21-32,104-124``).

The numpy kernel runs on Arrow arrays directly: no Spark job."""

import struct

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from mission_data_pipeline_spark.functions import decode as dec
from mission_data_pipeline_spark.operators.decom import (
    ParameterDefinition,
    ParameterType,
    decom_batch,
)


def _one(payload: bytes, kind, byte_offset, n_bytes, little_endian=False):
    p = dec.Payloads(pa.array([payload], pa.binary()))
    return p.decode(kind, byte_offset, n_bytes, little_endian).to_pylist()[0]


CASES_INT = [
    # (fmt, n_bytes, little_endian, signed, values)
    (">B", 1, False, False, [0, 1, 127, 255]),
    (">H", 2, False, False, [0, 1024, 65535]),
    (">I", 4, False, False, [0, 70000, 2**32 - 1]),
    (">b", 1, False, True, [-128, -1, 0, 127]),
    (">h", 2, False, True, [-32768, -1, 0, 32767]),
    (">i", 4, False, True, [-(2**31), -1, 0, 2**31 - 1]),
    ("<H", 2, True, False, [0, 1024, 65535]),
    ("<I", 4, True, False, [0, 70000, 2**32 - 1]),
    ("<h", 2, True, True, [-32768, -1, 32767]),
    ("<i", 4, True, True, [-(2**31), -1, 2**31 - 1]),
]


@pytest.mark.parametrize("fmt,n,le,signed,values", CASES_INT)
def test_int_decode_matrix(fmt, n, le, signed, values):
    for v in values:
        payload = b"\xaa" + struct.pack(fmt, v) + b"\xbb"
        got = _one(payload, "int" if signed else "uint", 1, n, le)
        assert got == v, (fmt, v)


@pytest.mark.parametrize("le", [False, True])
def test_int64_decode(le):
    fmt = "<q" if le else ">q"
    ufmt = "<Q" if le else ">Q"
    for v in [-(2**63), -1, 0, 2**63 - 1]:
        assert _one(struct.pack(fmt, v), "int", 0, 8, le) == v
    for v in [0, 2**64 - 1, 2**63]:
        assert _one(struct.pack(ufmt, v), "uint", 0, 8, le) == v


@pytest.mark.parametrize("fmt,n,le", [(">f", 4, False), ("<f", 4, True), (">d", 8, False), ("<d", 8, True)])
def test_float_decode(fmt, n, le):
    for v in [0.0, 1.5, -273.15, 3.4e38 if n == 4 else 1.7e308]:
        payload = struct.pack(fmt, v)
        got = _one(payload, "float", 0, n, le)
        assert got == struct.unpack(fmt, payload)[0]


def test_bool_decode():
    assert _one(b"\x01", "bool", 0, 1) is True
    assert _one(b"\x00", "bool", 0, 1) is False
    assert _one(b"\xff", "bool", 0, 1) is True


def test_string_decode_strips_trailing_nuls():
    payload = b"MODE_SAFE\x00\x00\x00"
    assert _one(payload, "string", 0, len(payload)) == "MODE_SAFE"


def test_string_decode_replaces_non_ascii():
    # every byte >= 0x80 becomes U+FFFD; only TRAILING NULs are stripped
    assert _one(b"A\x00\xe9B\x00\x00", "string", 0, 6) == "A\x00�B"


def test_hex_passthrough():
    assert _one(b"\xde\xad\xbe\xef", "hex", 0, 4) == "DEADBEEF"


@pytest.mark.parametrize("signed", [False, True])
def test_int24_little_and_big_endian(signed):
    """3-byte fields: two's complement at the field's own width."""
    for v in [0, 1, 0x7FFFFF, 0x800000, 0xFFFFFF, 0x123456]:
        be, le = v.to_bytes(3, "big"), v.to_bytes(3, "little")
        exp = v - (1 << 24) if signed and v >= 0x800000 else v
        kind = "int" if signed else "uint"
        assert _one(b"\x00" + be, kind, 1, 3) == exp, (v, "be")
        assert _one(b"\x00" + le, kind, 1, 3, True) == exp, (v, "le")


def test_short_payload_is_null():
    data = pa.array([struct.pack(">f", 2.5), b"\x01\x02\x03"], pa.binary())
    p = dec.Payloads(data)
    assert p.decode("float", 0, 4).to_pylist() == [2.5, None]
    assert p.decode("uint", 1, 2).to_pylist() == [0x2000, 0x0203]
    assert p.decode("uint", 2, 2).to_pylist() == [0, None]


def test_null_payload_row_is_null():
    data = pa.array([b"\x00\x07", None, b"\x00\x09"], pa.binary())
    p = dec.Payloads(data)
    assert p.decode("uint", 0, 2).to_pylist() == [7, None, 9]
    assert p.decode("hex", 0, 2).to_pylist() == ["0007", None, "0009"]
    assert p.decode("string", 0, 1).to_pylist() == ["", None, ""]
    assert not p.fits(0, 1)[1]


def test_sliced_array_reads_its_own_rows():
    data = pa.array([b"\x01\x01", b"\x02\x02", b"\x03\x03", b"\x04\x04"], pa.binary())
    sliced = data.slice(1, 2)
    assert sliced.offset == 1
    assert dec.Payloads(sliced).decode("uint", 0, 2).to_pylist() == [0x0202, 0x0303]
    assert dec.Payloads(sliced).decode("hex", 1, 1).to_pylist() == ["02", "03"]


def test_large_binary_input():
    data = pa.array([struct.pack("<h", -3), None], pa.large_binary())
    assert dec.Payloads(data).decode("int", 0, 2, True).to_pylist() == [-3, None]


def test_empty_batch():
    p = dec.Payloads(pa.array([], pa.binary()))
    for kind, n in (("uint", 2), ("int", 8), ("float", 4), ("bool", 1),
                    ("string", 3), ("hex", 3)):
        out = p.decode(kind, 0, n)
        assert len(out) == 0 and out.type == dec.KINDS[kind]


def test_row_selection():
    data = pa.array([b"\x05", b"\x06", b"", b"\x08"], pa.binary())
    rows = np.array([3, 2, 0])
    assert dec.Payloads(data).decode("uint", 0, 1, rows=rows).to_pylist() == [8, None, 5]


@pytest.mark.parametrize(
    "kind,off,n",
    [("uint", 0, 9), ("int", 0, 0), ("float", 0, 2), ("uint", -1, 2), ("nope", 0, 1)],
)
def test_bad_field_rejected(kind, off, n):
    with pytest.raises(ValueError):
        _one(b"\x00" * 16, kind, off, n)


def test_non_binary_input_rejected():
    with pytest.raises(TypeError, match="binary"):
        dec.Payloads(pa.array(["x"]))


def _packets(rows):
    apid, seq, payload = zip(*rows) if rows else ((), (), ())
    return pa.RecordBatch.from_arrays(
        [
            pa.array(apid, pa.int32()),
            pa.array(seq, pa.int32()),
            pa.nulls(len(rows), pa.float64()),
            pa.array(payload, pa.binary()),
        ],
        names=["apid", "seq_count", "source_time_tai", "user_data"],
    )


def test_decom_batch_skips_fields_that_do_not_fit():
    defs = [
        ParameterDefinition("v", 0x10, 0, 32, ParameterType.UINT),
        ParameterDefinition("f", 0x10, 0, 16, ParameterType.FLOAT, unit="s"),
    ]
    batch = _packets(
        [(0x10, 0, struct.pack(">f", 1.0)), (0x10, 1, b"\x01\x02"), (0x10, 2, None)]
    )
    out = decom_batch(batch, defs).to_pylist()
    got = sorted((r["name"], r["seq_count"], r["raw_value"], r["unit"]) for r in out)
    # "v" needs 4 bytes: packet 1 gives no row; "f" fits its 2-byte bit
    # length in packet 1 but reads 4 bytes, so its value there is null
    assert got == [
        ("f", 0, 1.0, "s"),
        ("f", 1, None, "s"),
        ("v", 0, float(0x3F800000), None),
    ]


def test_decom_batch_unknown_apid():
    defs = [ParameterDefinition("v", 0x10, 0, 8)]
    batch = _packets([(0x10, 0, b"\x01"), (0x22, 1, b"\x02")])
    assert decom_batch(batch, defs).num_rows == 1
    with pytest.raises(ValueError, match="unknown APID: 34"):
        decom_batch(batch, defs, known_apids=np.array([0x10]))


def test_decom_batch_empty():
    defs = [ParameterDefinition("v", 0x10, 0, 8)]
    out = decom_batch(_packets([]), defs, known_apids=np.array([0x10]))
    assert out.num_rows == 0
    assert out.schema.names == [
        "name", "apid", "seq_count", "source_time_tai", "raw_value",
        "raw_value_str", "unit",
    ]


@pytest.mark.parametrize(
    "kwargs,match",
    [
        (dict(byte_offset=-1, bit_length=8), "byte_offset"),
        (dict(byte_offset=0, bit_length=0), "bit_length"),
        (dict(byte_offset=0, bit_length=65), "at most 64 bits"),
        (dict(byte_offset=0, bit_length=72, param_type="int"), "at most 64 bits"),
        (dict(byte_offset=0, bit_length=72, param_type="enumerated"), "at most 64 bits"),
        (dict(byte_offset=0, bit_length=8, param_type="bogus"), "param_type"),
    ],
)
def test_parameter_definition_validated(kwargs, match):
    with pytest.raises(ValueError, match=match) as e:
        ParameterDefinition("bad_param", 0x10, **kwargs)
    assert "bad_param" in str(e.value)


def test_parameter_definition_accepts_wide_strings():
    d = ParameterDefinition("label", 0x10, 0, 128, "string")
    assert d.param_type is ParameterType.STRING and d.n_bytes == 16


def test_tai_fallback(spark):
    df = spark.createDataFrame(
        [(1234.5, 7), (None, 9)], "source_time_tai double, seq_count int"
    )
    got = df.select(
        dec.tai_time(F.col("source_time_tai"), F.col("seq_count")).alias("t")
    ).collect()
    assert [r["t"] for r in got] == [1234.5, 9.0]
