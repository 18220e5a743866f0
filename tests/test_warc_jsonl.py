"""WARC record reader + JSONL source/sink (LLM-corpus ingest formats)."""

from __future__ import annotations

import gzip
import json

import pytest

from mission_data_pipeline_spark.sources.jsonl import (
    jsonl_corrupt_stats,
    read_jsonl,
)
from mission_data_pipeline_spark.sources.warc import (
    build_warc_record,
    parse_warc_buffer,
    read_warc,
    warc_to_documents,
)
from mission_data_pipeline_spark.sinks.jsonl import write_jsonl


@pytest.fixture(scope="module")
def warc_file(tmp_path_factory):
    d = tmp_path_factory.mktemp("warc")
    buf = b"".join(
        build_warc_record(
            f"document body {i} " .encode() * (i + 1),
            record_id=f"<urn:doc:{i}>",
            target_uri=f"http://example.com/{i}",
        )
        for i in range(5)
    )
    p = d / "sample.warc"
    p.write_bytes(buf)
    return str(p)


def test_parse_warc_buffer_roundtrip():
    payloads = [b"alpha", b"", b"gamma" * 100]
    buf = b"".join(
        build_warc_record(p, record_id=f"<urn:r:{i}>")
        for i, p in enumerate(payloads)
    )
    recs, errors = parse_warc_buffer(buf)
    assert errors == 0
    assert [r["payload"] for r in recs] == payloads
    assert [r["content_length"] for r in recs] == [len(p) for p in payloads]
    assert recs[2]["record_id"] == "<urn:r:2>"


def test_parse_warc_truncated_counts_error():
    buf = build_warc_record(b"full record") + build_warc_record(b"cut short")[:-12]
    recs, errors = parse_warc_buffer(buf)
    assert len(recs) == 1 and errors == 1
    # garbage prefix: no records, one error
    recs2, errors2 = parse_warc_buffer(b"NOT A WARC FILE")
    assert recs2 == [] and errors2 == 1
    assert parse_warc_buffer(b"") == ([], 0)


def test_parse_warc_negative_length_terminates():
    # A record declaring Content-Length = -(its framing size) would pin
    # `pos` in place forever without the length >= 0 guard; the parse
    # must terminate and count it as a framing error.
    good = build_warc_record(b"ok payload")
    evil = good.replace(b"Content-Length: 10", b"Content-Length: -44")
    recs, errors = parse_warc_buffer(good + evil)
    assert len(recs) == 1 and errors == 1
    # negative length alone, first record
    recs2, errors2 = parse_warc_buffer(evil)
    assert recs2 == [] and errors2 == 1


def test_read_warc_distributed(spark, warc_file):
    out = read_warc(spark, warc_file).orderBy("record_idx")
    rows = out.collect()
    assert len(rows) == 5
    assert [r["record_idx"] for r in rows] == list(range(5))
    assert rows[3]["target_uri"] == "http://example.com/3"
    assert rows[3]["payload"] == b"document body 3 " * 4
    assert all(r["n_parse_errors"] == 0 for r in rows)
    docs = warc_to_documents(out).collect()
    assert {d["text"][:13] for d in docs} == {"document body"}
    assert all(d["source"].startswith("http://example.com/") for d in docs)


def test_read_warc_gzip(spark, tmp_path):
    buf = b"".join(build_warc_record(f"r{i}".encode()) for i in range(3))
    p = tmp_path / "sample.warc.gz"
    p.write_bytes(gzip.compress(buf))
    out = read_warc(spark, str(p))
    assert out.count() == 3


def test_jsonl_roundtrip_and_corrupt_stats(spark, tmp_path):
    src = spark.createDataFrame(
        [(i, f"text {i}", "en", "unit", 6) for i in range(20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out_dir = str(tmp_path / "shards")
    write_jsonl(src, out_dir, n_shards=3)
    back = read_jsonl(spark, out_dir)
    assert back.count() == 20
    assert sorted(r["doc_id"] for r in back.collect()) == list(range(20))

    # corrupt line surfaces in stats and is dropped from the clean read
    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    lines = [json.dumps({"doc_id": 1, "text": "ok"}), "{not json", ""]
    (bad_dir / "part-0.jsonl").write_text("\n".join(lines))
    stats = jsonl_corrupt_stats(spark, str(bad_dir)).collect()[0]
    assert stats["n_rows"] == 2 and stats["n_corrupt"] == 1
    clean = read_jsonl(spark, str(bad_dir))
    assert clean.count() == 1


def test_read_warc_multimember_gzip(spark, tmp_path):
    """Common Crawl .warc.gz files are CONCATENATED per-record gzip
    members; the decompression path must walk every member, not stop at
    the first (a zlib-based refactor would silently truncate here)."""
    import gzip as _gzip

    buf = b"".join(
        _gzip.compress(build_warc_record(f"member {i}".encode()))
        for i in range(4)
    )
    p = tmp_path / "cc.warc.gz"
    p.write_bytes(buf)
    out = read_warc(spark, str(p)).orderBy("record_idx")
    rows = out.collect()
    assert [r["payload"] for r in rows] == [f"member {i}".encode() for i in range(4)]
    assert all(r["n_parse_errors"] == 0 for r in rows)


def test_read_zip_members_and_corruption(spark, tmp_path):
    """ZIP member fan-out: names/payloads/codec survive; a member whose
    stored bytes are flipped surfaces as crc_ok=false, not a task
    failure; directory entries are skipped."""
    import io
    import zipfile

    from mission_data_pipeline_spark.sources.archive import read_zip

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("dir/", b"")
        zf.writestr(
            zipfile.ZipInfo("a.txt"), b"alpha",
            compress_type=zipfile.ZIP_STORED,
        )
        zf.writestr(
            zipfile.ZipInfo("b.txt"), b"beta" * 100,
            compress_type=zipfile.ZIP_DEFLATED,
        )
    raw = bytearray(buf.getvalue())
    # corrupt the STORED payload of a.txt in place ("alpha" -> "alphA")
    i = raw.find(b"alpha")
    raw[i + 4] ^= 0x20
    p = tmp_path / "arch.zip"
    p.write_bytes(bytes(raw))
    rows = {
        r["member_name"]: r
        for r in read_zip(spark, str(p)).collect()
    }
    assert set(rows) == {"a.txt", "b.txt"}  # dir entry skipped
    a, b = rows["a.txt"], rows["b.txt"]
    # corrupted member is QUARANTINED: flagged, payload withheld, size
    # still reported from the directory entry
    assert a["crc_ok"] is False and a["payload"] is None and a["size"] == 5
    assert b["crc_ok"] is True and bytes(b["payload"]) == b"beta" * 100
    assert a["compress_type"] == "stored"
    assert b["compress_type"] == "deflated"
    assert b["compressed_size"] < b["size"]  # deflate actually compressed
    assert a["member_idx"] == 0 and b["member_idx"] == 1
