"""TM transfer frame model + frames→packets extraction (reference
src/mdp/models/frame.py parity plus the consumer the reference lacks)."""

import struct

import pytest
from pyspark.sql import functions as F

from mission_data_pipeline_spark.models.ccsds import (
    FHP_NO_FIRST_HEADER,
    TMFramePrimaryHeader,
    build_frame,
    build_packet,
    frame_packet_stream,
)
from mission_data_pipeline_spark.operators.frames import (
    frames_to_packets,
    parse_frame_headers,
)


def test_frame_header_roundtrip():
    hdr = TMFramePrimaryHeader(
        version=1,
        spacecraft_id=0x2AB,
        virtual_channel_id=5,
        ocf_flag=1,
        master_channel_frame_count=200,
        virtual_channel_frame_count=123,
        secondary_header_flag=1,
        sync_flag=0,
        packet_order_flag=1,
        segment_length_id=2,
        first_header_pointer=0x5C3,
    )
    assert TMFramePrimaryHeader.from_bytes(hdr.to_bytes()) == hdr
    assert len(hdr.to_bytes()) == 6


def test_frame_header_short_raises():
    with pytest.raises(ValueError, match="6 bytes"):
        TMFramePrimaryHeader.from_bytes(b"\x00\x01")


def _packets(n, size=40, apid=0x123):
    return [build_packet(apid, i, bytes([i % 256]) * size) for i in range(n)]


@pytest.fixture()
def frames_df(spark):
    """12 packets of 46 bytes segmented into 64-byte frames → packets
    span every frame boundary."""
    stream = b"".join(_packets(12))
    frames = frame_packet_stream(stream, frame_data_len=64)
    rows = [(i, f) for i, f in enumerate(frames)]
    return spark.createDataFrame(rows, "recv_order long, frame binary")


def test_parse_frame_headers_expression_only(spark, frames_df):
    out = parse_frame_headers(frames_df)
    rows = out.orderBy("recv_order").collect()
    assert [r["virtual_channel_frame_count"] for r in rows] == list(range(len(rows)))
    assert all(r["spacecraft_id"] == 0x42 for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_packet_spanning_three_frames(spark):
    """A packet longer than a whole frame produces pure-continuation
    (first_header_pointer = 0x7FF) frames and still reassembles."""
    stream = b"".join(_packets(3, size=150))  # 156-byte packets, 64-byte frames
    frames = frame_packet_stream(stream, frame_data_len=64)
    df = spark.createDataFrame(
        [(i, f) for i, f in enumerate(frames)], "recv_order long, frame binary"
    )
    hdrs = parse_frame_headers(df).orderBy("recv_order").collect()
    assert any(r["first_header_pointer"] == FHP_NO_FIRST_HEADER for r in hdrs)
    rows = sorted(
        frames_to_packets(df, order_col="recv_order").collect(),
        key=lambda r: r["seq_count"],
    )
    assert [r["seq_count"] for r in rows] == [0, 1, 2]
    assert all(r["user_data"] == bytes([r["seq_count"]]) * 150 for r in rows)


def test_frames_to_packets_golden_roundtrip(spark, frames_df):
    pk = frames_to_packets(frames_df, order_col="recv_order")
    rows = sorted(pk.collect(), key=lambda r: r["seq_count"])
    assert [r["seq_count"] for r in rows] == list(range(12))
    assert all(r["apid"] == 0x123 for r in rows)
    assert all(r["user_data"] == bytes([r["seq_count"]]) * 40 for r in rows)
    assert all(r["spacecraft_id"] == 0x42 for r in rows)
    # idle fill packet in the final frame was dropped
    assert all(r["apid"] != 0x7FF for r in rows)


def test_lost_frame_drops_only_spanning_packet(spark):
    stream = b"".join(_packets(12))
    frames = frame_packet_stream(stream, frame_data_len=64)
    lost = 3
    rows = [(i, f) for i, f in enumerate(frames) if i != lost]
    df = spark.createDataFrame(rows, "recv_order long, frame binary")
    got = sorted(
        r["seq_count"] for r in frames_to_packets(df, order_col="recv_order").collect()
    )
    expected = set(range(12))
    # every packet with a byte in the lost frame is gone, all others intact
    lo, hi = 64 * lost, 64 * (lost + 1)
    for i in range(12):
        span = (i * 46, (i + 1) * 46)
        if span[0] < hi and span[1] > lo:
            expected.discard(i)
    assert got == sorted(expected)
    assert len(got) < 12  # the cut actually removed something


def test_multi_vc_groups_stay_separate(spark):
    s1 = frame_packet_stream(b"".join(_packets(4)), frame_data_len=64,
                             virtual_channel_id=1)
    s2 = frame_packet_stream(b"".join(_packets(4, apid=0x55)), frame_data_len=64,
                             virtual_channel_id=2)
    rows = [(i, f) for i, f in enumerate(s1)] + [(i, f) for i, f in enumerate(s2)]
    df = spark.createDataFrame(rows, "recv_order long, frame binary")
    out = frames_to_packets(df, order_col="recv_order")
    per_vc = {
        (r["virtual_channel_id"], r["apid"]) for r in out.collect()
    }
    assert per_vc == {(1, 0x123), (2, 0x55)}
    assert out.count() == 8


def test_reed_solomon_corrects_to_sixteen_and_flags_beyond():
    """RS(255,223) codec: any <=16 injected symbol errors (data or
    parity positions, full or shortened code) correct byte-exactly;
    >16 errors are flagged, never silently wrong; zero-error words
    decode with n_corrected=0."""
    import random

    from mission_data_pipeline_spark.functions.reed_solomon import (
        RS_K,
        rs_decode,
        rs_encode,
    )

    rng = random.Random(42)
    for trial in range(40):
        klen = rng.choice([RS_K, 128, 64, 7, 1])
        data = bytes(rng.randrange(256) for _ in range(klen))
        cw = bytearray(rs_encode(data))
        n_err = rng.randrange(0, 17)
        for p in rng.sample(range(len(cw)), n_err):
            cw[p] ^= rng.randrange(1, 256)
        dec, n = rs_decode(cw)
        assert dec == data and n == n_err
    # beyond the radius: flagged (or at minimum never "corrected" back
    # to the original, which would be impossible with >16 corruptions)
    for trial in range(15):
        data = bytes(rng.randrange(256) for _ in range(RS_K))
        cw = bytearray(rs_encode(data))
        for p in rng.sample(range(len(cw)), rng.randrange(17, 35)):
            cw[p] ^= rng.randrange(1, 256)
        dec, n = rs_decode(cw)
        assert dec is None or dec != data
    # degenerate inputs
    assert rs_decode(b"") == (None, -1)
    assert rs_decode(b"\x00" * 10) == (None, -1)  # shorter than parity
    import pytest as _pt

    with _pt.raises(ValueError):
        rs_encode(b"x" * (RS_K + 1))


def test_correct_rs_frames_operator(spark):
    """Executor-side FEC: corrected frames return exact data; an
    uncorrectable frame and a garbage payload come back ok=false with
    null data (quarantine semantics)."""
    import random

    from mission_data_pipeline_spark.functions.reed_solomon import (
        rs_encode,
    )
    from mission_data_pipeline_spark.operators.frames import (
        correct_rs_frames,
    )

    rng = random.Random(3)
    data = bytes(rng.randrange(256) for _ in range(60))
    good = bytearray(rs_encode(data))
    for p in rng.sample(range(len(good)), 10):
        good[p] ^= rng.randrange(1, 256)
    dead = bytearray(rs_encode(data))
    for p in rng.sample(range(len(dead)), 30):
        dead[p] ^= rng.randrange(1, 256)
    df = spark.createDataFrame(
        [(0, bytearray(good)), (1, bytearray(dead)), (2, bytearray(b"xx"))],
        "frame_id long, codeword binary",
    )
    rows = {r["frame_id"]: r for r in correct_rs_frames(df).collect()}
    assert rows[0]["ok"] and bytes(rows[0]["data"]) == data
    assert rows[0]["n_corrected"] == 10
    assert not rows[1]["ok"] and rows[1]["data"] is None
    assert not rows[2]["ok"] and rows[2]["data"] is None


def test_correct_rs_frames_interleaved_burst(spark):
    """Interleave depth 5: a 60-byte BURST (~12 errors per lane) far
    beyond a single codeword's 16-symbol radius corrects cleanly —
    the reason real CCSDS links interleave."""
    import random

    from mission_data_pipeline_spark.functions.reed_solomon import (
        rs_encode,
    )
    from mission_data_pipeline_spark.operators.frames import (
        correct_rs_frames,
    )

    rng = random.Random(9)
    I = 5
    lanes = [bytes(rng.randrange(256) for _ in range(200)) for _ in range(I)]
    cws = [rs_encode(d) for d in lanes]
    frame = bytearray(len(cws[0]) * I)
    for lane, cw in enumerate(cws):
        frame[lane::I] = cw
    start = rng.randrange(0, len(frame) - 60)
    for p in range(start, start + 60):  # contiguous burst
        frame[p] ^= rng.randrange(1, 256)
    df = spark.createDataFrame(
        [(0, bytearray(frame))], "frame_id long, codeword binary"
    )
    (row,) = correct_rs_frames(df, interleave=I).collect()
    assert row["ok"] and row["n_corrected"] == 60
    got = bytes(row["data"])
    expect = bytearray(200 * I)
    for lane, d in enumerate(lanes):
        expect[lane::I] = d
    assert got == bytes(expect)
    # length not divisible by I -> quarantine, not crash
    df2 = spark.createDataFrame(
        [(1, bytearray(frame[:-1]))], "frame_id long, codeword binary"
    )
    (r2,) = correct_rs_frames(df2, interleave=I).collect()
    assert not r2["ok"] and r2["data"] is None
