"""Decom + calibration parity tests (reference
``tests/test_plugins_transformers.py:64-235``)."""

import math
import random
import struct

import pytest
from pyspark.sql import functions as F

from mission_data_pipeline_spark.models.ccsds import build_packet
from mission_data_pipeline_spark.operators import (
    Calibration,
    ParameterDefinition,
    apid_filter,
    apply_calibrations,
    decommutate,
)
from mission_data_pipeline_spark.operators.decom import ParameterType
from mission_data_pipeline_spark.sources import read_packets


@pytest.fixture(scope="module")
def hk_packets(spark, hk_bin):
    return read_packets(spark, hk_bin, sec_hdr_length=4)


HK_DEFS = [
    ParameterDefinition("obc_temp", 0x100, 0, 16, ParameterType.UINT),
    ParameterDefinition("mission_time_s", 0x100, 6, 32, ParameterType.FLOAT),
]


def test_decom_uint16_golden(spark, hk_packets):
    out = decommutate(hk_packets, HK_DEFS)
    r = {x["seq_count"]: x for x in out.filter("name = 'obc_temp'").collect()}
    for i in (0, 5, 100):
        assert r[i]["raw_value"] == int(2048 + 200 * math.sin(i / 20.0))
        assert r[i]["eng_value"] == r[i]["raw_value"]  # eng init = raw


def test_decom_float32_golden(spark, hk_packets):
    out = decommutate(hk_packets, HK_DEFS).filter("name = 'mission_time_s'")
    r = {x["seq_count"]: x["raw_value"] for x in out.collect()}
    assert r[13] == 52.0


def test_decom_unknown_apid_skip(spark, mixed_apid_bin):
    pk = read_packets(spark, mixed_apid_bin)
    out = decommutate(pk, [ParameterDefinition("x", 0x100, 0, 16)])
    assert out.count() == 10  # only 0x100 packets produce rows


def test_decom_unknown_apid_raise(spark, mixed_apid_bin):
    pk = read_packets(spark, mixed_apid_bin)
    out = decommutate(
        pk, [ParameterDefinition("x", 0x100, 0, 16)], skip_unknown_apids=False
    )
    with pytest.raises(Exception, match="unknown APID"):
        out.collect()


def test_decom_short_payload_silently_skipped(spark, tmp_root):
    # one 4-byte-payload packet + one 2-byte; def needs 4 bytes
    p = tmp_root / "short.bin"
    p.write_bytes(
        build_packet(0x10, 0, struct.pack(">I", 7)) + build_packet(0x10, 1, b"\x01\x02")
    )
    pk = read_packets(spark, str(p))
    out = decommutate(pk, [ParameterDefinition("v", 0x10, 0, 32, ParameterType.UINT)])
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["seq_count"] == 0


#: every ParameterType, across two APIDs; 0x30 packets have no definitions
ALL_TYPE_DEFS = [
    ParameterDefinition("u16", 0x10, 0, 16, ParameterType.UINT, unit="dn"),
    ParameterDefinition("i24_le", 0x10, 2, 24, ParameterType.INT, little_endian=True),
    ParameterDefinition("f32", 0x10, 5, 32, ParameterType.FLOAT, unit="s"),
    ParameterDefinition("f64_le", 0x10, 9, 64, ParameterType.DOUBLE, little_endian=True),
    ParameterDefinition("flag", 0x10, 17, 1, ParameterType.BOOLEAN),
    ParameterDefinition("mode", 0x10, 18, 8, ParameterType.ENUMERATED),
    ParameterDefinition("u32_tail", 0x10, 20, 32, ParameterType.UINT),
    ParameterDefinition("label", 0x20, 0, 48, ParameterType.STRING),
    ParameterDefinition("blob", 0x20, 6, 24, ParameterType.BINARY),
    ParameterDefinition("i16", 0x20, 9, 16, ParameterType.INT, unit="A"),
]

_LABELS = [b"SAFE\x00\x00", b"A\x00B\x00\x00\x00", b"OK\xe9\x00\x00\x00", b"\xff" * 6]


def _all_type_packets(n=90):
    """(apid, seq_count, user_data) triples: full and short 0x10 payloads,
    0x20 payloads with NUL-padded / non-ASCII labels, unknown 0x30."""
    rng = random.Random(7)
    out = []
    for i in range(n):
        apid = (0x10, 0x20, 0x30)[i % 3]
        if apid == 0x10:
            data = (
                struct.pack(">H", rng.getrandbits(16))
                + rng.getrandbits(24).to_bytes(3, "little")
                + struct.pack(">f", rng.uniform(-1e6, 1e6))
                + struct.pack("<d", rng.uniform(-1e300, 1e300))
                + bytes([0 if i % 4 == 0 else rng.getrandbits(8), rng.getrandbits(8)])
                + bytes([0x55])
                + struct.pack(">I", rng.getrandbits(32))
            )
            if i % 4 == 1:
                data = data[: rng.choice((3, 7, 12, 19))]  # short payloads
        elif apid == 0x20:
            data = _LABELS[i % 4] + bytes(rng.getrandbits(8) for _ in range(6))
        else:
            data = bytes(6)
        out.append((apid, i, data))
    return out


def _reference_rows(packets):
    """Per-packet struct.unpack decode (the reference's ``decom.py:104-124``)."""
    rows = []
    for apid, seq, data in packets:
        for d in ALL_TYPE_DEFS:
            off, n = d.byte_offset, d.n_bytes
            if d.apid != apid or len(data) < off + n:
                continue
            e = "<" if d.little_endian else ">"
            field = data[off : off + n]
            num = txt = None
            t = d.param_type
            if t in (ParameterType.UINT, ParameterType.ENUMERATED):
                num = float(struct.unpack(e + {1: "B", 2: "H", 4: "I"}[n], field)[0])
            elif t == ParameterType.INT:
                num = float(int.from_bytes(field, "little" if d.little_endian else "big", signed=True))
            elif t == ParameterType.FLOAT:
                num = struct.unpack(e + "f", data[off : off + 4])[0]
            elif t == ParameterType.DOUBLE:
                num = struct.unpack(e + "d", data[off : off + 8])[0]
            elif t == ParameterType.BOOLEAN:
                num = float(field[0] != 0)
            elif t == ParameterType.STRING:
                txt = field.decode("ascii", errors="replace").rstrip("\x00")
            else:
                txt = field.hex().upper()
            rows.append((d.name, apid, seq, float(seq), num, txt, num, txt, d.unit))
    return sorted(rows, key=repr)


def test_decom_all_types_match_struct_reference(spark, tmp_root):
    packets = _all_type_packets()
    p = tmp_root / "all_types.bin"
    p.write_bytes(b"".join(build_packet(a, s, d) for a, s, d in packets))
    out = decommutate(read_packets(spark, str(p)), ALL_TYPE_DEFS)
    got = sorted(
        (
            (r["name"], r["apid"], r["seq_count"], r["time_tai"], r["raw_value"],
             r["raw_value_str"], r["eng_value"], r["eng_value_str"], r["unit"])
            for r in out.collect()
        ),
        key=repr,
    )
    exp = _reference_rows(packets)
    assert {r[0] for r in exp} == {d.name for d in ALL_TYPE_DEFS}
    assert any(r[0] == "label" and "\ufffd" in r[5] for r in exp)
    assert any(r[0] == "label" and "\x00" in r[5] for r in exp)
    assert got == exp
    constants = out.select("validity", "calibration_id", "out_of_limit", "alarm_level").distinct()
    assert [tuple(r) for r in constants.collect()] == [(True, None, False, 0)]


def test_tai_time_fallback_is_seq_count(spark, hk_packets):
    out = decommutate(hk_packets, HK_DEFS)
    r = out.filter("name = 'obc_temp' AND seq_count = 42").collect()[0]
    assert r["time_tai"] == 42.0


def test_polynomial_golden(spark):
    # reference golden: poly [-273.15, 0.1]: raw 0 -> -273.15, raw 500 -> -223.15
    params = spark.createDataFrame(
        [("t", 0.0, 0.0), ("t", 1.0, 500.0)],
        "name string, time_tai double, raw_value double",
    ).withColumn("eng_value", F.col("raw_value"))
    out = apply_calibrations(params, [Calibration("t", "polynomial", (-273.15, 0.1))])
    r = {x["time_tai"]: x["eng_value"] for x in out.collect()}
    assert r[0.0] == pytest.approx(-273.15)
    assert r[1.0] == pytest.approx(-223.15)


def test_table_interpolation_golden_and_clamp(spark):
    cal = Calibration(
        "t", "table", table_raw=(0, 10, 20), table_eng=(0, 10, 30), unit="u"
    )
    params = spark.createDataFrame(
        [("t", float(i), v) for i, v in enumerate([5.0, 15.0, -3.0, 99.0, 10.0])],
        "name string, time_tai double, raw_value double",
    ).withColumn("eng_value", F.col("raw_value"))
    out = apply_calibrations(params, [cal])
    r = {x["time_tai"]: x["eng_value"] for x in out.collect()}
    assert r[0.0] == pytest.approx(5.0)  # mid segment 1
    assert r[1.0] == pytest.approx(20.0)  # mid segment 2
    assert r[2.0] == pytest.approx(0.0)  # clamp below
    assert r[3.0] == pytest.approx(30.0)  # clamp above
    assert r[4.0] == pytest.approx(10.0)  # exact knot


def test_identity_and_uncalibrated_untouched(spark):
    params = spark.createDataFrame(
        [("a", 3.0), ("b", 4.0)], "name string, raw_value double"
    ).withColumn("eng_value", F.col("raw_value") * 2)
    out = apply_calibrations(params, [Calibration("a", "identity")])
    r = {x["name"]: x for x in out.collect()}
    assert r["a"]["eng_value"] == 3.0  # identity: eng = raw
    assert r["a"]["calibration_id"] == "identity"
    assert r["b"]["eng_value"] == 8.0  # untouched
    assert r["b"]["calibration_id"] is None


def test_non_numeric_sample_kept_unchanged(spark):
    params = spark.createDataFrame(
        [("a", None, "MODE_SAFE", "MODE_SAFE")],
        "name string, raw_value double, raw_value_str string, eng_value_str string",
    ).withColumn("eng_value", F.lit(None).cast("double"))
    out = apply_calibrations(params, [Calibration("a", "polynomial", (1.0, 2.0))])
    r = out.collect()[0]
    assert r["eng_value"] is None and r["eng_value_str"] == "MODE_SAFE"
    assert r["calibration_id"] is None  # not applied


def test_unit_override(spark):
    params = spark.createDataFrame(
        [("a", 1.0, "old"), ("b", 1.0, "keep")],
        "name string, raw_value double, unit string",
    ).withColumn("eng_value", F.col("raw_value"))
    out = apply_calibrations(
        params,
        [Calibration("a", "identity", unit="degC"), Calibration("b", "identity")],
    )
    r = {x["name"]: x["unit"] for x in out.collect()}
    assert r["a"] == "degC" and r["b"] == "keep"


def test_bad_calibration_configs():
    with pytest.raises(ValueError):
        Calibration("x", "table", table_raw=(1,), table_eng=(1,))
    with pytest.raises(ValueError):
        Calibration("x", "bogus")


def test_unsorted_calibration_table_rejected():
    """A descending knot list used to interpolate silently wrong (raw 5.0
    mapped to 30.0); equal neighbouring knots stay allowed."""
    with pytest.raises(ValueError, match="'bat_current'.*table_raw"):
        Calibration("bat_current", "table", table_raw=(20, 10, 0), table_eng=(30, 10, 0))
    with pytest.raises(ValueError, match="table_raw"):
        Calibration("x", "table", table_raw=(0, 10, 5), table_eng=(0, 1, 2))
    Calibration("x", "table", table_raw=(0, 10, 10, 20), table_eng=(0, 1, 2, 3))


def test_apid_filter_include_exclude(spark, mixed_apid_bin):
    pk = read_packets(spark, mixed_apid_bin)
    assert apid_filter(pk, include=[0x100, 0x200]).count() == 20
    assert apid_filter(pk, exclude=[0x100]).count() == 20
    assert apid_filter(pk).count() == 30  # passthrough


def test_mixed_methods_hand_computed(spark):
    """Polynomial with unit override, table interpolation and clamp,
    identity and an uncalibrated passthrough in one pass, from a tuple of
    entries; on a duplicate name the first entry wins."""
    cals = (
        Calibration("p", "polynomial", (-55.0, 0.5), unit="degC"),
        Calibration("t", "table", table_raw=(0, 10), table_eng=(0, 100), unit="u"),
        Calibration("i", "identity"),
        Calibration("p", "polynomial", (0.0, 100.0), unit="K"),  # shadowed
    )
    params = spark.createDataFrame(
        [("p", 10.0), ("t", 5.0), ("t", 40.0), ("i", 7.0), ("other", 1.0)],
        "name string, raw_value double",
    ).withColumn("eng_value", F.col("raw_value"))
    rows = sorted(
        (r["name"], r["raw_value"], r["eng_value"], r["unit"], r["calibration_id"])
        for r in apply_calibrations(params, cals).collect()
    )
    assert rows == [
        ("i", 7.0, 7.0, None, "identity"),
        ("other", 1.0, 1.0, None, None),
        ("p", 10.0, -50.0, "degC", "polynomial"),  # -55 + 0.5 * 10
        ("t", 5.0, 50.0, "u", "table"),  # 0 + 5/10 * 100
        ("t", 40.0, 100.0, "u", "table"),  # clamp above
    ]


def test_non_sequence_calibrations_rejected(spark):
    """A DataFrame calibration table is no longer accepted: the error
    names the expected entry type instead of failing inside the plan."""
    params = spark.createDataFrame([("p", 1.0)], "name string, raw_value double")
    table = spark.createDataFrame([("p", "identity")], "name string, cal_method string")
    with pytest.raises(TypeError, match="Calibration"):
        apply_calibrations(params, table)
    with pytest.raises(TypeError, match="Calibration"):
        apply_calibrations(params, [("p", "identity")])


def test_decom_calibrate_is_shuffle_free(spark, hk_bin):
    """Scale-shape guard: config-as-plan-metadata means the entire
    scan → decom → calibrate chain is a narrow pipeline — zero
    exchanges, zero join nodes (the MIB compiles into expressions, so
    the fact side never shuffles)."""
    from mission_data_pipeline_spark.operators import (
        Calibration,
        ParameterDefinition,
        apply_calibrations,
        decommutate,
    )
    from mission_data_pipeline_spark.sources import read_packets

    pk = read_packets(spark, hk_bin, sec_hdr_length=4)
    defs = [ParameterDefinition("obc_temp", 0x100, 0, 16)]
    out = apply_calibrations(
        decommutate(pk, defs),
        [Calibration("obc_temp", "polynomial", (-55.0, 0.04394531), unit="degC")],
    )
    out.collect()
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    # read_packets plans one slice per scan range without a repartition,
    # so no Exchange of any kind may appear, and no join node either
    # (the MIB compiles into expressions).
    assert "Exchange" not in plan
    assert "Join" not in plan
