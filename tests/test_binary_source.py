"""Binary scan parity tests (reference ``tests/test_plugins_extractor_binary.py``)."""

import pytest

from mission_data_pipeline_spark.models.ccsds import generate_housekeeping_stream
from mission_data_pipeline_spark.sources import read_packets


def test_read_all(spark, simple_bin):
    df = read_packets(spark, simple_bin)
    rows = df.orderBy("seq_count").collect()
    assert len(rows) == 10
    assert [r["seq_count"] for r in rows] == list(range(10))
    assert all(r["apid"] == 0x100 for r in rows)
    # user_data = uint32 BE i*1000
    assert rows[3]["user_data"] == (3000).to_bytes(4, "big")


def test_apid_filter_hit_and_miss(spark, mixed_apid_bin):
    hit = read_packets(spark, mixed_apid_bin, apid_filter=[0x200])
    assert hit.count() == 10
    assert hit.select("apid").distinct().collect()[0][0] == 0x200
    miss = read_packets(spark, mixed_apid_bin, apid_filter=[0x999])
    assert miss.count() == 0


def test_file_not_found(spark, tmp_root):
    with pytest.raises(FileNotFoundError):
        read_packets(spark, str(tmp_root / "nope.bin"))


def test_sync_marker_with_garbage(spark, tmp_root):
    p = tmp_root / "sync.bin"
    p.write_bytes(
        generate_housekeeping_stream(
            25, with_sync_marker=True, garbage_prefix=b"\xff\xff\x13"
        )
    )
    df = read_packets(spark, str(p), sec_hdr_length=4, frame_sync=True)
    assert df.count() == 25
    # without frame_sync, inter-packet garbage defeats the contiguity
    # assumption — the chain-validated heuristic refuses every mid-file
    # lock; only the trailing packet (a 1-packet contiguous run ending
    # exactly at EOF) is recoverable (marker framing exists for this layout)
    df2 = read_packets(spark, str(p), sec_hdr_length=4)
    assert df2.count() == 1


def test_heuristic_recovers_after_garbage_prefix(spark, tmp_root):
    # garbage prefix, then contiguous packets: heuristic locks onto the
    # first validated header chain and recovers everything
    p = tmp_root / "prefix.bin"
    p.write_bytes(b"\xff\x13\x37" * 7 + generate_housekeeping_stream(25))
    df = read_packets(spark, str(p), sec_hdr_length=4)
    assert df.count() == 25


def test_truncated_tail_dropped(spark, tmp_root, simple_bin):
    data = open(simple_bin, "rb").read()
    p = tmp_root / "trunc.bin"
    p.write_bytes(data[:-2])
    assert read_packets(spark, str(p)).count() == 9


def test_multi_range_exactly_once(spark, tmp_root):
    p = tmp_root / "big.bin"
    p.write_bytes(generate_housekeeping_stream(500))
    whole = read_packets(spark, str(p), sec_hdr_length=4)
    split = read_packets(spark, str(p), sec_hdr_length=4, split_size=777)
    assert whole.count() == 500
    assert split.count() == 500
    assert split.select("file_offset").distinct().count() == 500


def test_sec_hdr_split(spark, hk_bin):
    df = read_packets(spark, hk_bin, sec_hdr_length=4)
    r = df.filter("seq_count = 9").collect()[0]
    assert r["sec_hdr"] == (9).to_bytes(4, "big")
    assert len(r["user_data"]) == 12


def test_empty_file(spark, tmp_root):
    p = tmp_root / "empty.bin"
    p.write_bytes(b"")
    assert read_packets(spark, str(p)).count() == 0


def test_glob_multi_file(spark, tmp_root):
    from mission_data_pipeline_spark.models.ccsds import generate_simple_stream

    for i in range(3):
        (tmp_root / f"part{i}.bin").write_bytes(generate_simple_stream(5))
    df = read_packets(spark, str(tmp_root / "part*.bin"))
    assert df.count() == 15
    assert df.select("file_path").distinct().count() == 3


def test_resync_no_false_lock_on_periodic_payload(tmp_root):
    """Range resync must not lock mid-packet on periodic payloads.

    Regression: slowly-varying housekeeping payloads let a misaligned
    offset chain "plausible" headers whose fake APIDs never repeat, so a
    mere no-violation rule accepted them (phantom packets + dropped
    real ones). The validator now demands positive same-APID
    seq-continuity confirmations; every range boundary must lock on the
    true packet alignment.
    """
    from mission_data_pipeline_spark.sources.binary import _resync_heuristic

    data = generate_housekeeping_stream(40_000)  # 22-byte packets
    split = 128 * 1024
    tail = 65542 * 4 + 4
    for rs in range(split, len(data), split):
        re_ = min(len(data), rs + split)
        read_end = min(len(data), re_ + tail)
        buf = data[rs:read_end]
        lock = _resync_heuristic(buf, 0, re_ - rs, 65542, 2, read_end >= len(data))
        assert lock == (22 - rs % 22) % 22, f"false lock at range_start={rs}"


def test_multi_range_exactly_once_large(spark, tmp_root):
    # end-to-end exactly-once across many range boundaries
    p = tmp_root / "wide.bin"
    p.write_bytes(generate_housekeeping_stream(20_000))
    df = read_packets(spark, str(p), sec_hdr_length=4, split_size=64 * 1024)
    agg = df.groupBy("apid").count().collect()
    assert [(r["apid"], r["count"]) for r in agg] == [(0x100, 20_000)]


def test_sec_hdr_clamped_to_packet_boundary(spark, tmp_root):
    """A packet whose data field is shorter than sec_hdr_length must
    truncate its sec_hdr at its own boundary, not leak the next packet's
    header bytes into it (and its user_data must be empty, not negative)."""
    from mission_data_pipeline_spark.models.ccsds import build_packet

    short = build_packet(0x100, 0, b"", sec_hdr=b"\x01\x02")  # 2-byte data field
    normal = build_packet(0x100, 1, b"\xaa\xbb", sec_hdr=b"\x03\x04\x05\x06")
    p = tmp_root / "short_sec.bin"
    p.write_bytes(short + normal)
    rows = {
        r["seq_count"]: r
        for r in read_packets(spark, str(p), sec_hdr_length=4).collect()
    }
    assert len(rows) == 2
    # the short packet's sec_hdr stops at its data field (2 bytes, not 4)
    assert rows[0]["sec_hdr"] == b"\x01\x02"
    assert rows[0]["user_data"] == b""
    assert rows[1]["sec_hdr"] == b"\x03\x04\x05\x06"
    assert rows[1]["user_data"] == b"\xaa\xbb"


def test_weak_fallback_recovers_nonrepeating_apid_stream(spark, tmp_root):
    """A split range whose APIDs never repeat can't satisfy the strict
    confirmation rule; the weak complete-count fallback must still lock
    (previously: the range silently emitted zero packets)."""
    from mission_data_pipeline_spark.models.ccsds import build_packet

    stream = b"".join(
        build_packet(i + 1, 0, bytes([i % 256]) * 40) for i in range(300)
    )
    p = tmp_root / "distinct_apids.bin"
    p.write_bytes(stream)
    whole = read_packets(spark, str(p))
    assert whole.count() == 300
    split = read_packets(spark, str(p), split_size=1000)
    # exactly-once across ranges, via the weak fallback lock
    assert split.count() == 300
    assert split.select("file_offset").distinct().count() == 300


def test_ccsds_datasource_matches_read_packets(spark, tmp_path):
    """spark.read.format('ccsds') must be row-identical to read_packets
    for the same options — single and multi-range, filtered and not."""
    from mission_data_pipeline_spark.models.ccsds import (
        generate_housekeeping_stream,
    )
    from mission_data_pipeline_spark.sources import (
        read_packets,
        register_ccsds_source,
    )

    p = str(tmp_path / "hk.bin")
    with open(p, "wb") as f:
        f.write(generate_housekeeping_stream(300))
    register_ccsds_source(spark)
    for opts in (
        {"sec_hdr_length": 4},
        {"sec_hdr_length": 4, "split_size": 2048},
        {"sec_hdr_length": 4, "split_size": 2048, "apid_filter": [0x100]},
    ):
        rd = spark.read.format("ccsds")
        for k, v in opts.items():
            rd = rd.option(
                k, ",".join(map(str, v)) if isinstance(v, list) else v
            )
        a = sorted(map(tuple, rd.load(p).collect()))
        b = sorted(map(tuple, read_packets(spark, p, **opts).collect()))
        assert a == b and a, opts


def test_ccsds_datasource_empty_file_and_missing_path(spark, tmp_path):
    from mission_data_pipeline_spark.sources import register_ccsds_source

    register_ccsds_source(spark)
    empty = str(tmp_path / "empty.bin")
    open(empty, "wb").close()
    assert spark.read.format("ccsds").load(empty).count() == 0
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises((FileNotFoundError, Py4JJavaError, Exception)):
        spark.read.format("ccsds").load(str(tmp_path / "nope.bin")).collect()


def test_ccsds_streaming_tail_exactly_once(spark, tmp_path):
    """Streaming ccsds source: offsets advance only past COMPLETE
    packets, so file growth + restart replays nothing and loses
    nothing (the partial trailing packet is withheld, then emitted
    once its bytes arrive); new files are picked up; APID-filtered
    trailing packets advance the offset without being emitted."""
    import os
    import struct

    from mission_data_pipeline_spark.models.ccsds import build_packet
    from mission_data_pipeline_spark.sources import register_ccsds_source

    register_ccsds_source(spark)
    src = str(tmp_path / "stream"); os.makedirs(src)
    ckpt = str(tmp_path / "ckpt"); out = str(tmp_path / "out")

    def pkt(i, apid=0x123):
        return build_packet(apid, i, struct.pack(">I", i * 7))

    def run_once():
        q = (
            spark.readStream.format("ccsds")
            .option("path", src)
            .option("apid_filter", "291")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    boundary = pkt(40)
    # trailing packet of ANOTHER apid: must advance the offset silently
    with open(f"{src}/f1.bin", "wb") as f:
        f.write(b"".join(pkt(i) for i in range(40)))
        f.write(pkt(9999 % 16384, apid=0x200))
        f.write(boundary[:4])  # partial: withheld
    run_once()
    got1 = sorted(
        r["seq_count"] for r in spark.read.parquet(out).collect()
    )
    assert got1 == list(range(40))  # filtered + partial both absent
    with open(f"{src}/f1.bin", "ab") as f:
        f.write(boundary[4:] + b"".join(pkt(i) for i in range(41, 60)))
    with open(f"{src}/f2.bin", "wb") as f:
        f.write(b"".join(pkt(i) for i in range(100, 120)))
    run_once()
    got2 = sorted(
        r["seq_count"] for r in spark.read.parquet(out).collect()
    )
    assert got2 == list(range(60)) + list(range(100, 120))


def test_ccsds_stream_reader_byte_budget_and_stuck_tail(tmp_path):
    """Driver-side micro-batch controls (no Spark needed — the reader is
    plain Python): max_bytes_per_batch drains a backlog across batches
    on packet boundaries; skip_stuck_tail_after advances past a garbage
    tail only after N no-progress batches (and only when enabled)."""
    import os
    import struct

    from mission_data_pipeline_spark.models.ccsds import build_packet
    from mission_data_pipeline_spark.sources.ccsds_datasource import (
        CcsdsStreamReader,
    )

    src = str(tmp_path / "s"); os.makedirs(src)
    pkts = [build_packet(0x123, i, struct.pack(">I", i)) for i in range(50)]
    plen = len(pkts[0])
    with open(f"{src}/a.bin", "wb") as f:
        f.write(b"".join(pkts))

    # budget of ~10 packets per batch: 50 packets drain in 5 batches,
    # each offset on a packet boundary, nothing duplicated or lost
    r = CcsdsStreamReader({"path": src, "max_bytes_per_batch": str(10 * plen)})
    off = r.initialOffset()
    seen = []
    for _ in range(6):
        it, off = r.read(off)
        batch = list(it)
        assert len(batch) <= 10
        seen += [row[5] for row in batch]  # seq_count field
        assert off["files"][f"{src}/a.bin"] % plen == 0
    assert seen == list(range(50))

    # garbage tail: default (0) never skips; N=3 skips on the 3rd
    # consecutive no-progress batch with the offset jumping to EOF
    with open(f"{src}/a.bin", "ab") as f:
        f.write(b"\xde\xad\xbe\xef" * 3)
    size = os.path.getsize(f"{src}/a.bin")
    stay = CcsdsStreamReader({"path": src})
    o = stay.initialOffset()
    for _ in range(5):
        _, o = stay.read(o)
        assert o["files"][f"{src}/a.bin"] == 50 * plen  # never advances

    skip = CcsdsStreamReader({"path": src, "skip_stuck_tail_after": "3"})
    o = skip.initialOffset()
    _, o = skip.read(o)          # batch 1: parses the 50 packets, tail stuck
    assert o["files"][f"{src}/a.bin"] == 50 * plen
    _, o = skip.read(o)          # no-progress 2
    assert o["files"][f"{src}/a.bin"] == 50 * plen
    _, o = skip.read(o)          # no-progress 3 -> skip to EOF
    assert o["files"][f"{src}/a.bin"] == size
    it, o = skip.read(o)
    assert list(it) == []        # clean: nothing re-read afterwards


def test_per_apid_counted_stream_identical_offsets_across_splits(spark, tmp_root):
    """A mixed-length, mixed-APID stream whose sequence counters count
    per APID (CCSDS 133.0-B-2) yields the same file_offset set at 4 KiB,
    64 KiB and default splits, with one scan task per range and no
    shuffle in the plan."""
    import random

    from mission_data_pipeline_spark.models.ccsds import build_packet
    from mission_data_pipeline_spark.sources.binary import plan_ranges

    rng = random.Random(7)
    user_len = {0x100: 12, 0x200: 8, 0x300: 10}
    seq = dict.fromkeys(user_len, 0)
    out, offsets = bytearray(), set()
    for _ in range(8_000):
        apid = rng.choices(list(user_len), weights=[5, 3, 2])[0]
        offsets.add(len(out))
        user = bytes(rng.getrandbits(8) for _ in range(user_len[apid]))
        out += build_packet(apid, seq[apid], user, sec_hdr=len(out).to_bytes(4, "big"))
        seq[apid] += 1
    p = tmp_root / "per_apid.bin"
    p.write_bytes(bytes(out))

    for split in (4 * 1024, 64 * 1024, None):
        kw = {"split_size": split} if split else {}
        df = read_packets(spark, str(p), sec_hdr_length=4, **kw)
        n_ranges = len(plan_ranges(str(p), **kw))
        assert df.rdd.getNumPartitions() == n_ranges
        assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
        got = [r["file_offset"] for r in df.select("file_offset").collect()]
        assert len(got) == len(offsets), f"split {split}"
        assert set(got) == offsets, f"split {split}"


def test_gathered_binary_refuses_offsets_past_2gib():
    """Arrow binary offsets are int32: a range whose column reaches
    2 GiB must fail loudly, not wrap into corrupt offsets."""
    import numpy as np

    from mission_data_pipeline_spark.sources.binary import _gathered_binary

    a = np.zeros(16, dtype=np.uint8)
    starts = np.zeros(2, dtype=np.int64)
    with pytest.raises(ValueError, match="2 GiB"):
        _gathered_binary(a, starts, np.array([2**30, 2**30], dtype=np.int64))
    small = _gathered_binary(a, starts, np.array([3, 5], dtype=np.int64))
    assert [len(v) for v in small.to_pylist()] == [3, 5]
