"""``spark.read.format("ccsds")`` — Python Data Source (V2) wrapper
around the split-range CCSDS binary scan.

The engine's batch scan is :func:`sources.binary.read_packets`
(ranges DataFrame + ``mapInArrow``); this module packages the SAME
range planner and packet builder as a PySpark 4 ``DataSource`` so the
scan gets first-class reader ergonomics: a registered format name,
options through ``.option(...)``, a real scan node in the plan (with
scan metrics), and composability with ``.schema()``-less loading.
SURVEY §4.2 option (b). ``spark.readStream.format("ccsds")`` is the
engine's one streaming packet source.

    from mission_data_pipeline_spark.sources import register_ccsds_source
    register_ccsds_source(spark)
    pk = (spark.read.format("ccsds")
          .option("sec_hdr_length", 4)
          .option("apid_filter", "291,292")
          .load("/data/telemetry/*.bin"))

Scale shape is identical to ``read_packets``: ``partitions()`` plans one
``InputPartition`` per byte range on the driver (file metadata only —
no data is read), ``read()`` parses its range on the executor and
emits one Arrow ``RecordBatch`` (zero row-by-row Python), with the
APID pushdown applied inside the range parser. Exactly-once across
ranges comes from the same resync + tail-overlap convention. Both
readers build every packet row with the batch scan's
``_arrow_batch_from_offsets``.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Iterator
from glob import glob

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from mission_data_pipeline_spark.models.schemas import PACKET_SCHEMA
from mission_data_pipeline_spark.sources.binary import (
    _arrow_batch_from_offsets,
    _scan_range,
    _walk_offsets,
    plan_ranges,
)

_TRUE = {"true", "1", "yes"}

log = logging.getLogger("mission_data_pipeline_spark.sources.ccsds")


def _scan_options(options: dict) -> dict:
    """The ``ccsds`` options both readers share, parsed from their
    string form into :func:`plan_ranges` keyword arguments."""
    apids = options.get("apid_filter")
    grt = options.get("ground_receipt_time")
    return {
        "apid_filter": (
            [int(a) for a in str(apids).split(",") if a.strip()]
            if apids
            else None
        ),
        "sec_hdr_length": int(options.get("sec_hdr_length", 0)),
        "frame_sync": str(options.get("frame_sync", "false")).lower() in _TRUE,
        "source_id": options.get("source_id"),
        "ground_receipt_time": float(grt) if grt is not None else None,
    }


class CcsdsDataSource(DataSource):
    """Format name ``ccsds``; schema is the fixed PACKET_SCHEMA."""

    @classmethod
    def name(cls) -> str:
        return "ccsds"

    def schema(self) -> StructType:
        return PACKET_SCHEMA

    def reader(self, schema: StructType) -> "CcsdsReader":
        return CcsdsReader(dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> "CcsdsStreamReader":
        return CcsdsStreamReader(dict(self.options))


class CcsdsReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError(
                "ccsds source needs a path: spark.read.format('ccsds')"
                ".load('/data/*.bin') or .option('path', ...)"
            )
        self._ranges = plan_ranges(
            path,
            split_size=int(options.get("split_size", 128 * 1024 * 1024)),
            **_scan_options(options),
        )

    def partitions(self) -> list[InputPartition]:
        # Degenerate all-empty-file case still needs >= 1 partition
        # (Spark requires a non-empty partition list); the parser of a
        # zero-byte range emits zero rows.
        if not self._ranges:
            return [InputPartition(None)]
        return [InputPartition(r) for r in self._ranges]

    def read(self, partition: InputPartition) -> Iterator[pa.RecordBatch]:
        if partition.value is None:
            return
        yield _scan_range(partition.value)


class CcsdsStreamReader(SimpleDataSourceStreamReader):
    """Live telemetry tail: ``spark.readStream.format("ccsds")`` over a
    directory (or glob) of growing/arriving ``.bin`` files — the mission
    ops ingest shape (a ground-station writer appends packets; the
    pipeline consumes them with exactly-once micro-batches).

    The offset is ``{"files": {path: consumed_bytes}}`` and, by
    construction, ``consumed_bytes`` always sits ON a packet boundary:
    each batch parses only COMPLETE packets from the newly-visible
    region (a partial packet at end-of-file stays unconsumed until its
    remaining bytes arrive), so restarts replay nothing and lose
    nothing, and no resync heuristic is ever needed mid-file
    (``trusted_start``). SimpleDataSourceStreamReader reads on the
    driver — right for telemetry-downlink rates (Mbps); a
    partition-based streamReader is the upgrade path for higher rates.

    Backpressure & poison tails:

    - ``max_bytes_per_batch`` (default 64 MiB) bounds the bytes the
      driver reads per micro-batch ACROSS files; a large backlog (first
      start against months of recordings) drains over several batches
      instead of one driver-memory spike. Splitting mid-file is safe by
      construction: the walk consumes only complete packets inside the
      window and the offset stays on a packet boundary. An
      ``availableNow`` run drains at most ONE such window: Spark asks
      for the latest offset once per run, so the rest of a backlog
      waits for the next run, which continues from the committed
      offset.
    - ``skip_stuck_tail_after`` (default 0 = off): a *garbage* tail
      after the last complete packet can never parse, so the offset
      would re-read and re-parse it every micro-batch forever. When set
      to N, a file whose (offset, size) makes no progress for N
      consecutive batches gets its tail skipped with a loud warning.
      OFF by default because the same signature describes a stalled
      writer mid-packet — skipping would drop the packet's prefix and
      desync the remainder; enable it for sources known to terminate
      recordings with trailer garbage.
    """

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("ccsds stream source needs a path")
        self._path = path
        self._max_bytes = int(
            options.get("max_bytes_per_batch", 64 * 1024 * 1024)
        )
        if self._max_bytes <= 0:
            raise ValueError("max_bytes_per_batch must be positive")
        self._skip_stuck_after = int(options.get("skip_stuck_tail_after", 0))
        #: path -> [(offset, size), consecutive_no_progress_batches]
        self._stall: dict[str, list] = {}
        self._opts = _scan_options(options)

    def _files(self) -> list[str]:
        p = self._path
        if any(c in p for c in "*?["):
            return sorted(glob(p))
        if os.path.isdir(p):
            return sorted(
                os.path.join(p, f)
                for f in os.listdir(p)
                if not f.startswith((".", "_"))
            )
        return [p] if os.path.exists(p) else []

    def initialOffset(self) -> dict:
        return {"files": {}}

    def read(self, start: dict):
        consumed = dict(start.get("files", {}))
        batches: list[pa.RecordBatch] = []
        budget = self._max_bytes
        for path in self._files():
            if budget <= 0:
                break  # backlog drains over subsequent micro-batches
            done = int(consumed.get(path, 0))
            size = os.path.getsize(path)
            if size <= done:
                self._stall.pop(path, None)
                continue
            to_read = min(size - done, budget)
            with open(path, "rb") as f:
                f.seek(done)
                buf = f.read(to_read)
            budget -= len(buf)
            row = {
                "path": os.path.abspath(path),
                "range_start": done,
                "range_end": done + len(buf),
                "file_size": size,
                "trusted_start": True,
                **self._opts,
            }
            # eof_in_buf=False: a packet claiming bytes past the current
            # size is NOT truncated-forever — it is still arriving; it
            # stays unconsumed and the offset does not advance past it.
            # The offset advances over the WALK (all complete packets,
            # including APID-filtered ones — a filtered tail packet must
            # not stall the offset), while rows carry the filtered set.
            offs = _walk_offsets(buf, row, eof_in_buf=False)
            new_done = done
            if offs:
                o = offs[-1]
                plen = ((buf[o + 4] << 8) | buf[o + 5]) + 7
                new_done = done + o + plen
                consumed[path] = new_done
            # Stuck-tail escape hatch: only considered when this batch
            # saw the file's WHOLE remaining region (a budget-limited
            # window legitimately makes no terminal progress).
            if self._skip_stuck_after > 0 and to_read == size - done:
                if new_done < size:
                    key = (new_done, size)
                    st = self._stall.get(path)
                    if st is not None and st[0] == key:
                        st[1] += 1
                        if st[1] >= self._skip_stuck_after:
                            log.warning(
                                "ccsds stream: %d unparseable tail bytes in "
                                "%s made no progress for %d batches — "
                                "skipping to EOF (skip_stuck_tail_after=%d)",
                                size - new_done,
                                path,
                                st[1],
                                self._skip_stuck_after,
                            )
                            consumed[path] = size
                            self._stall.pop(path, None)
                    else:
                        self._stall[path] = [key, 1]
                else:
                    self._stall.pop(path, None)
            batch = _arrow_batch_from_offsets(buf, offs, row)
            # Keep only batches with rows: when no offset moves (a stuck
            # tail), Spark refuses a read that yields anything at all,
            # an empty batch included.
            if batch.num_rows:
                batches.append(batch)
        return iter(batches), {"files": consumed}

    def readBetweenOffsets(self, start: dict, end: dict):
        # Replay for recovery: re-read exactly [start, end) per file.
        batches: list[pa.RecordBatch] = []
        for path, end_off in end.get("files", {}).items():
            done = int(start.get("files", {}).get(path, 0))
            end_off = int(end_off)
            if end_off <= done or not os.path.exists(path):
                continue
            batch = _scan_range(
                {
                    "path": os.path.abspath(path),
                    "range_start": done,
                    "range_end": end_off,
                    "file_size": end_off,
                    "trusted_start": True,
                    **self._opts,
                }
            )
            if batch.num_rows:
                batches.append(batch)
        return iter(batches)

    def commit(self, end: dict) -> None:
        pass  # offsets are file positions; nothing to clean up


def register_ccsds_source(spark: SparkSession) -> None:
    """Register the ``ccsds`` format on this session (idempotent)."""
    spark.dataSource.register(CcsdsDataSource)
