"""Parallel CCSDS binary packet scan.

Capability parity: reference ``src/mdp/plugins/extractors/binary.py:58-136``
(contiguous packet parse, optional 0x1ACFFC1D sync-marker scan, malformed
header skip, truncation stop, APID pushdown). The reference reads one
file sequentially on one core; here the scan is a *split-range* scan in
the style of Hadoop's FileInputFormat: the file set is carved into byte
ranges, each Spark task parses its range and must first **resynchronize**
to a packet boundary, because a range may start mid-packet. Two resync
modes:

- ``frame_sync=True``: scan forward for the attached sync marker
  (0x1ACFFC1D) — exact, O(range).
- ``frame_sync=False``: validated-header-chain heuristic: accept an
  offset iff a plausible primary header parses there AND the *next*
  ``resync_chain`` packets chain-parse with plausible headers. This is
  the standard recovery strategy of CCSDS ground processors; the
  probability of a false lock on random bytes falls geometrically with
  chain length.

A task parses from its first locked boundary through the first packet
that *starts* at or beyond ``range_end`` (reading into the next range's
bytes for the tail packet) — the same overlap convention that makes
line-based text splitting exact. Every packet is therefore emitted
exactly once, by exactly one task — **provided the stream's sequence
counters count per APID**, as CCSDS 133.0-B-2 §4.1.3.4 requires. The
resync locks only on a header chain whose same-APID sequence counts
step by exactly 1, so in a stream with one counter shared by all APIDs
a range start can fail to lock at the true boundary, and the packets
before its first lock are lost without an error. Scan such a stream
with one range per file (a ``split_size`` at least the file size) or
with ``frame_sync``.

At 100 TB this is the right shape: no driver-side parse, no shuffle —
the scan is embarrassingly parallel over ranges, and the APID filter is
applied inside the range parser (predicate pushdown into the scan).
"""

from __future__ import annotations

import logging
import os
from collections.abc import Iterator
from glob import glob

from pyspark.sql import DataFrame, SparkSession

from mission_data_pipeline_spark.models.ccsds import (
    CCSDS_SYNC_MARKER,
    PRIMARY_HEADER_LEN,
)
from mission_data_pipeline_spark.models.schemas import PACKET_SCHEMA

_RANGE_SCHEMA = (
    "path string, range_start long, range_end long, file_size long, "
    "sec_hdr_length int, frame_sync boolean, source_id string, "
    "ground_receipt_time double, max_packet_len int, resync_chain int, "
    "weak_resync boolean, apid_filter array<int>"
)


logger = logging.getLogger(__name__)


def _find_sync(buf: bytes, start: int) -> int:
    i = buf.find(CCSDS_SYNC_MARKER, start)
    return -1 if i < 0 else i + len(CCSDS_SYNC_MARKER)


def _chain_locks(
    buf: bytes,
    pos: int,
    max_packet_len: int,
    chain: int,
    eof_in_buf: bool,
    weak: bool = False,
) -> bool:
    """Does a validated header chain lock at ``pos``?

    Acceptance demands *positive* evidence, not mere absence of a
    violation: the walk must observe at least ``chain`` same-APID
    sequence-counter increments of exactly 1 (mod 16384) — CCSDS
    133.0-B-2 §4.1.3.4 mandates per-APID continuous counting, so a true
    boundary accumulates confirmations as fast as APIDs repeat, while a
    misaligned offset reads its "seq_count" from payload bytes, which do
    not count 1-by-1 (chance ≈ 1/16384 per fake link). Requiring only
    the *absence* of violations is not enough: a fake chain whose random
    lengths hop between ever-different fake APIDs never triggers the
    continuity check at all, and version==0 alone passes 1-in-8 per hop.

    The **first** header's APID must itself be confirmed. Without this, a
    single fake header whose fake length happens to land on a *true*
    packet boundary "merges" into the real chain and inherits all of its
    confirmations — emitting one phantom packet and dropping the real
    packets its fake extent spanned. A merged fake prefix carries a fake
    APID that never recurs (probability of a payload byte pair faking
    both a live APID *and* its exact next seq_count ≈ 1/2^25 per
    candidate), while a true first packet is confirmed by its own
    stream. Cost of the rule: a range whose first packet carries an APID
    that never repeats in-range locks onto the *next* boundary instead
    (that one packet is skipped) — strictly better than phantoms.

    Two accepted terminations that cannot reach ``chain`` confirmations:
    - the chain lands **exactly on true EOF** with either zero
      confirmations (isolated tail run) or a confirmed first header —
      the precise landing is itself strong evidence (a random length
      jumps *past* EOF with probability ~1, lands on it with
      probability ~1/packet_len), and it is the only way to recover a
      short trailing run;
    - ``chain == 0`` — explicit weak mode (first plausible header wins),
      the escape hatch for streams whose APIDs never repeat within a
      range (then run with a single range or frame_sync instead).

    ``weak=True`` lowers the bar to ``chain`` *plausible complete*
    packets with no observed seq violation (the pre-confirmation rule).
    It exists solely as the fallback for ranges where the strict rule can
    never confirm — many distinct APIDs, none repeating within the tail
    window — where the strict-only behavior is silent loss of the whole
    range. Callers use it only after a full strict pass found nothing,
    and log a warning when they do.
    """
    n = len(buf)
    p = pos
    complete = 0
    confirm = 0
    first_apid = -1
    first_confirmed = False
    last_seq: dict[int, int] = {}
    while p + PRIMARY_HEADER_LEN <= n:
        if buf[p] >> 5:  # version != 0
            return False
        plen = ((buf[p + 4] << 8) | buf[p + 5]) + PRIMARY_HEADER_LEN + 1
        if plen > max_packet_len:
            return False
        if chain == 0:
            return True
        apid = ((buf[p] << 8) | buf[p + 1]) & 0x7FF
        seq = ((buf[p + 2] << 8) | buf[p + 3]) & 0x3FFF
        if first_apid < 0:
            first_apid = apid
        prev = last_seq.get(apid)
        if prev is not None:
            if (seq - prev) % 16384 != 1:
                return False
            confirm += 1
            if apid == first_apid:
                first_confirmed = True
            if first_confirmed and confirm >= chain:
                return True
        last_seq[apid] = seq
        if p + plen > n:
            return False  # claims bytes beyond the buffer before confirming
        complete += 1
        if weak and complete >= chain:
            return True
        p += plen
    # Ran out of header-sized bytes without a violation: only an exact
    # landing on true EOF is acceptable below the confirmation bar — and
    # only when the evidence is consistent (no partially-confirmed chain
    # whose own first header never was).
    at_eof = eof_in_buf and p == n
    return at_eof and complete >= 1 and (confirm == 0 or first_confirmed)


def _resync_heuristic(
    buf: bytes,
    start: int,
    limit: int,
    max_packet_len: int,
    chain: int,
    eof_in_buf: bool = False,
    allow_weak_fallback: bool = False,
) -> int:
    """First offset in [start, limit) where a validated header chain locks
    (see ``_chain_locks`` for the acceptance rule).

    With ``allow_weak_fallback``, a range where the strict rule confirms
    *nowhere* is rescanned under the weak complete-count rule instead of
    silently emitting zero packets — the legitimate case is a stream
    whose APIDs never repeat inside one range/tail window, where strict
    confirmation is unattainable by construction. The fallback is logged:
    a weak lock on genuinely corrupt bytes can admit phantom packets, so
    operators should prefer frame_sync or larger ranges for such streams.
    """
    pos = start
    while pos < limit:
        if _chain_locks(buf, pos, max_packet_len, chain, eof_in_buf):
            return pos
        pos += 1
    if allow_weak_fallback and chain > 0 and limit > start:
        pos = start
        while pos < limit:
            if _chain_locks(buf, pos, max_packet_len, chain, eof_in_buf, weak=True):
                logger.warning(
                    "binary scan: strict resync confirmed nowhere in a "
                    "%d-byte range; locked at +%d under the weak "
                    "complete-count rule (APIDs may never repeat in-range "
                    "— consider frame_sync or larger split_size)",
                    limit - start,
                    pos - start,
                )
                return pos
            pos += 1
    return -1


def _walk_offsets(buf: bytes, row: dict, *, eof_in_buf: bool) -> list[int]:
    """Packet start offsets in ``buf`` (resync, malformed-skip, truncation).

    The walk itself touches only 3 header bytes per packet (version
    nibble + 16-bit length), so it stays cheap even at millions of
    packets per range; field extraction happens vectorized afterwards.
    """
    range_start = int(row["range_start"])
    range_end = int(row["range_end"])
    frame_sync = bool(row["frame_sync"])
    max_packet_len = int(row["max_packet_len"])
    chain = int(row["resync_chain"])
    local_end = range_end - range_start  # packets must *start* before this
    n = len(buf)
    offs: list[int] = []
    pos = 0
    # trusted_start: the caller guarantees the buffer begins ON a packet
    # boundary (the streaming reader's offsets only ever advance past
    # complete packets), so no resync — a resync here could skip the
    # first real packet when its APID never repeats in-buffer.
    if (range_start > 0 and not row.get("trusted_start")) or frame_sync:
        if frame_sync:
            pos = _find_sync(buf, 0)
        else:
            # Weak fallback only when the caller opted in: a range that is
            # entirely the interior of one huge packet legitimately owns
            # zero packets, and a weak lock there would emit phantom rows
            # duplicating bytes the previous range already consumed. The
            # default is strict + a loud warning so silent-loss streams
            # (APIDs never repeating in-range) are at least diagnosable.
            pos = _resync_heuristic(
                buf, 0, local_end, max_packet_len, chain, eof_in_buf,
                allow_weak_fallback=bool(row.get("weak_resync")),
            )
            if pos < 0 and local_end > 0:
                logger.warning(
                    "binary scan: no validated header chain locked anywhere "
                    "in a %d-byte range starting at file offset %d — range "
                    "emits zero packets (interior of a larger packet, or a "
                    "stream whose APIDs never repeat in-range; for the "
                    "latter pass weak_resync=True, frame_sync, or a larger "
                    "split_size)",
                    local_end,
                    range_start,
                )
        if pos < 0:
            return offs

    while pos < local_end and pos + PRIMARY_HEADER_LEN <= n:
        plen = ((buf[pos + 4] << 8) | buf[pos + 5]) + PRIMARY_HEADER_LEN + 1
        if (buf[pos] >> 5) or plen > max_packet_len:
            # Malformed header: skip forward to next lock point
            # (reference skips a single byte and rescans for sync).
            if frame_sync:
                nxt = _find_sync(buf, pos + 1)
            else:
                nxt = _resync_heuristic(
                    buf, pos + 1, local_end, max_packet_len, chain, eof_in_buf
                )
            if nxt < 0:
                return offs
            pos = nxt
            continue
        end = pos + plen
        if end > n:
            return offs  # truncated trailing packet — stop (reference behavior)
        offs.append(pos)
        pos = end
        if frame_sync and pos < local_end:
            nxt = _find_sync(buf, pos)
            if nxt < 0:
                return offs
            pos = nxt
    return offs


def _header_fields(buf: bytes, offs: list[int], row: dict) -> tuple:
    """Shared vectorized header-field extraction (APID pushdown applied).

    Returns ``(a, o, w0, w1, w2, apid, sec_hdr_flag, data_start,
    user_start, data_end)`` — consumed by both the row-dict builder
    (:func:`_columns_from_offsets`) and the Arrow-batch builder
    (:func:`_arrow_batch_from_offsets`)."""
    import numpy as np

    sec_hdr_length = int(row["sec_hdr_length"])
    apids = row["apid_filter"]

    a = np.frombuffer(buf, dtype=np.uint8)
    o = np.asarray(offs, dtype=np.int64)
    w0 = (a[o].astype(np.int32) << 8) | a[o + 1]
    w1 = (a[o + 2].astype(np.int32) << 8) | a[o + 3]
    w2 = (a[o + 4].astype(np.int32) << 8) | a[o + 5]
    apid = w0 & 0x7FF
    if apids is not None and len(apids):
        keep = np.isin(apid, np.asarray(list(apids), dtype=np.int32))
        o, w0, w1, w2, apid = o[keep], w0[keep], w1[keep], w2[keep], apid[keep]

    sec_hdr_flag = (w0 >> 11) & 0x1
    data_start = o + PRIMARY_HEADER_LEN
    data_end = data_start + w2 + 1
    n_sec = np.where(sec_hdr_flag == 1, sec_hdr_length, 0)
    # Clamp to the packet's own data field: a malformed packet whose data
    # field is shorter than sec_hdr_length must truncate its sec_hdr at
    # the packet boundary, never leak the next packet's header bytes.
    user_start = np.minimum(data_start + n_sec, data_end)
    return (a, o, w0, w1, w2, apid, sec_hdr_flag, data_start, user_start,
            data_end)


def _columns_from_offsets(buf: bytes, offs: list[int], row: dict) -> dict:
    """Vectorized header-field extraction → column dict (PACKET_SCHEMA order)."""
    range_start = int(row["range_start"])
    sec_hdr_length = int(row["sec_hdr_length"])
    (a, o, w0, w1, w2, apid, sec_hdr_flag, data_start, user_start,
     data_end) = _header_fields(buf, offs, row)
    # Binary columns need one Python bytes object per packet regardless;
    # this zip loop is the only remaining per-packet work.
    if sec_hdr_length:
        sec_hdr = [
            buf[s:u] if u > s else None
            for s, u in zip(data_start.tolist(), user_start.tolist())
        ]
    else:
        sec_hdr = [None] * len(o)
    user_data = [buf[u:e] for u, e in zip(user_start.tolist(), data_end.tolist())]

    k = len(o)
    return {
        "apid": apid,
        "version": (w0 >> 13) & 0x7,
        "packet_type": (w0 >> 12) & 0x1,
        "sec_hdr_flag": sec_hdr_flag,
        "seq_flags": (w1 >> 14) & 0x3,
        "seq_count": w1 & 0x3FFF,
        "data_length": w2,
        "sec_hdr": sec_hdr,
        "user_data": user_data,
        "source_time_tai": [None] * k,
        "ground_receipt_time": [row["ground_receipt_time"]] * k,
        "source_id": [row["source_id"]] * k,
        "file_path": [row["path"]] * k,
        "file_offset": o + range_start,
    }


def _read_range_buffer(row: dict) -> tuple[bytes, bool]:
    """Read one scan range plus the tail overlap (so the packet
    straddling range_end can be completed by *this* task). Returns
    ``(buf, eof_in_buf)``."""
    path = row["path"]
    range_start = int(row["range_start"])
    range_end = int(row["range_end"])
    file_size = int(row["file_size"])
    max_packet_len = int(row["max_packet_len"])
    chain = int(row["resync_chain"])

    tail = max_packet_len * (chain + 2) + len(CCSDS_SYNC_MARKER)
    read_end = min(file_size, range_end + tail)
    with open(path, "rb") as f:
        f.seek(range_start)
        buf = f.read(read_end - range_start)
    return buf, read_end >= file_size


def _parse_range(row: dict) -> dict:
    """Parse one byte range of one file into a packet column dict."""
    buf, eof = _read_range_buffer(row)
    return _columns_from_offsets(buf, _walk_offsets(buf, row, eof_in_buf=eof), row)


def _gathered_binary(a, starts, ends):
    """Arrow binary array of ``buf[starts[i]:ends[i]]`` slices, built by
    ONE vectorized gather over the range buffer instead of one Python
    bytes object per packet (guide §4.2: re-slicing bytes is an offsets
    computation, not a copy loop). ``a`` is the uint8 view of the
    buffer."""
    import numpy as np
    import pyarrow as pa

    lens = ends - starts
    total = int(lens.sum())
    if total >= 2**31:
        raise ValueError(
            f"binary scan: one range's column holds {total} bytes, past the "
            "2 GiB limit of Arrow binary offsets (int32); use a smaller "
            "split_size"
        )
    # concatenated gather indices: for each packet i, the range
    # [starts[i], ends[i]) — built with repeat/arange, no Python loop
    pos = np.cumsum(lens) - lens
    idx = np.repeat(starts - pos, lens) + np.arange(total, dtype=np.int64)
    values = a[idx] if total else np.empty(0, dtype=np.uint8)
    offsets = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    return pa.Array.from_buffers(
        pa.binary(),
        len(lens),
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(values.tobytes())],
    )


def _arrow_batch_from_offsets(buf: bytes, offs: list[int], row: dict):
    """PACKET_SCHEMA Arrow record batch for one parsed range.

    The batch path of :func:`read_packets`: header fields become
    zero-copy int arrays and the binary payload columns are built by one
    vectorized gather each — no per-packet Python objects, no pandas
    object columns. The row-dict builder (:func:`_columns_from_offsets`)
    stays for the streaming/datasource consumers."""
    import numpy as np
    import pyarrow as pa

    range_start = int(row["range_start"])
    (a, o, w0, w1, w2, apid, sec_hdr_flag, data_start, user_start,
     data_end) = _header_fields(buf, offs, row)
    k = len(o)

    sec_hdr = _gathered_binary(a, data_start, user_start)
    if int(row["sec_hdr_length"]):
        # zero-length sec_hdr is NULL (row-dict builder parity)
        valid = user_start > data_start
        if not valid.all():
            sec_hdr = pa.Array.from_buffers(
                pa.binary(),
                k,
                [
                    pa.py_buffer(np.packbits(valid, bitorder="little").tobytes()),
                    sec_hdr.buffers()[1],
                    sec_hdr.buffers()[2],
                ],
            )
    else:
        sec_hdr = pa.nulls(k, pa.binary())

    def const(value, typ):
        if value is None:
            return pa.nulls(k, typ)
        return pa.repeat(pa.scalar(value, typ), k)

    arrays = [
        pa.array(apid, pa.int32()),
        pa.array((w0 >> 13) & 0x7, pa.int32()),
        pa.array((w0 >> 12) & 0x1, pa.int32()),
        pa.array(sec_hdr_flag, pa.int32()),
        pa.array((w1 >> 14) & 0x3, pa.int32()),
        pa.array(w1 & 0x3FFF, pa.int32()),
        pa.array(w2, pa.int32()),
        sec_hdr,
        _gathered_binary(a, user_start, data_end),
        pa.nulls(k, pa.float64()),  # source_time_tai
        const(row["ground_receipt_time"], pa.float64()),
        const(row["source_id"], pa.string()),
        const(row["path"], pa.string()),
        pa.array(o + range_start, pa.int64()),
    ]
    return pa.RecordBatch.from_arrays(
        arrays, [f.name for f in PACKET_SCHEMA.fields]
    )


def _parse_buffer(buf: bytes, row: dict, *, eof_in_buf: bool) -> Iterator[dict]:
    """Parse packets out of one in-memory buffer as row dicts (streaming path)."""
    cols = _columns_from_offsets(
        buf, _walk_offsets(buf, row, eof_in_buf=eof_in_buf), row
    )
    names = list(cols)
    for i in range(len(cols["apid"])):
        yield {name: _py(cols[name][i]) for name in names}


def _py(v):  # numpy scalar → python scalar for row-dict consumers
    return v.item() if hasattr(v, "item") else v


def _split_ranges_arrow(batches):
    """mapInArrow body: range-descriptor batches in, packet batches out."""
    for b in batches:
        for row in b.to_pylist():
            buf, eof = _read_range_buffer(row)
            offs = _walk_offsets(buf, row, eof_in_buf=eof)
            yield _arrow_batch_from_offsets(buf, offs, row)


def plan_ranges(
    path: str | list[str],
    *,
    apid_filter: list[int] | None = None,
    sec_hdr_length: int = 0,
    frame_sync: bool = False,
    source_id: str | None = None,
    ground_receipt_time: float | None = None,
    split_size: int = 128 * 1024 * 1024,
    max_packet_len: int = 65542,
    resync_chain: int = 2,
    weak_resync: bool = False,
) -> list[dict]:
    """Resolve paths/globs and carve them into scan-range descriptors
    (one per future task) — shared by :func:`read_packets` and the
    ``ccsds`` DataSource's ``partitions()``."""
    paths: list[str] = []
    for p in [path] if isinstance(path, str) else list(path):
        matches = sorted(glob(p)) if any(c in p for c in "*?[") else [p]
        for m in matches:
            if not os.path.exists(m):
                raise FileNotFoundError(m)
            paths.append(m)
    if not paths:
        raise FileNotFoundError(str(path))

    ranges = []
    for p in paths:
        size = os.path.getsize(p)
        start = 0
        while start < size:
            ranges.append(
                {
                    "path": os.path.abspath(p),
                    "range_start": start,
                    "range_end": min(size, start + split_size),
                    "file_size": size,
                    "sec_hdr_length": sec_hdr_length,
                    "frame_sync": frame_sync,
                    "source_id": source_id,
                    "ground_receipt_time": ground_receipt_time,
                    "max_packet_len": max_packet_len,
                    "resync_chain": resync_chain,
                    "weak_resync": weak_resync,
                    "apid_filter": apid_filter,
                }
            )
            start += split_size
    return ranges


def read_packets(
    spark: SparkSession,
    path: str | list[str],
    *,
    apid_filter: list[int] | None = None,
    sec_hdr_length: int = 0,
    frame_sync: bool = False,
    source_id: str | None = None,
    ground_receipt_time: float | None = None,
    split_size: int = 128 * 1024 * 1024,
    max_packet_len: int = 65542,
    resync_chain: int = 2,
    weak_resync: bool = False,
) -> DataFrame:
    """Scan CCSDS binary file(s) into a ``packets_df`` (PACKET_SCHEMA).

    ``split_size`` controls scan parallelism: each file is carved into
    ceil(size / split_size) ranges, one Spark task each. The default
    128 MiB matches ``spark.sql.files.maxPartitionBytes``.

    Precondition for files split into more than one range: sequence
    counters count per APID (CCSDS 133.0-B-2 §4.1.3.4). Only then is
    every packet emitted exactly once at any ``split_size``; a stream
    with one counter shared by all APIDs can silently lose packets at
    range starts (module docstring). Without ``frame_sync``, read such
    a stream with one range per file.

    ``apid_filter`` is pushed into the range parser (packets are dropped
    before they ever materialize as rows — reference behavior
    ``binary.py:103-104``).

    ``weak_resync=True`` lets a range where the strict chain-confirmation
    rule locks nowhere fall back to the weaker complete-count rule
    (logged). Off by default: the fallback can emit phantom packets from
    payload bytes of a packet owned by the previous range, breaking the
    multi-range exactly-once invariant — enable it only for streams whose
    APIDs genuinely never repeat within a split.
    """
    ranges = plan_ranges(
        path,
        apid_filter=apid_filter,
        sec_hdr_length=sec_hdr_length,
        frame_sync=frame_sync,
        source_id=source_id,
        ground_receipt_time=ground_receipt_time,
        split_size=split_size,
        max_packet_len=max_packet_len,
        resync_chain=resync_chain,
        weak_resync=weak_resync,
    )
    if not ranges:  # all files empty
        return spark.createDataFrame([], schema=PACKET_SCHEMA)
    # One task per range, so no two ranges serialize behind each other
    # on one core: one slice per range. A repartition would give the same
    # tasks through a shuffle that runs as a job of its own before the scan.
    ranges_df = spark.createDataFrame(
        spark.sparkContext.parallelize(ranges, len(ranges)), schema=_RANGE_SCHEMA
    )
    # mapInArrow, not mapInPandas: packet columns are built as Arrow
    # arrays directly (vectorized binary gathers, zero-copy ints) —
    # pandas object columns for 200k binary cells cost more than the
    # parse itself (guide §4.1/4.2; measured 2x on the scan stage).
    return ranges_df.mapInArrow(_split_ranges_arrow, schema=PACKET_SCHEMA)
