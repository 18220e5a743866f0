"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed`` (and the scale
arguments): the same seed writes byte-identical files, so a result's
``input_sha256`` stamp identifies its inputs exactly.

- :func:`write_tables` writes the ten relational/curation tables the
  declared queries read (same names, column types and value domains as
  the TPC-H-style test tables of TESTDATA.md), one single-row-group
  parquet file each. Like those files at every scale, ``events.ts``,
  ``o_orderdate`` and ``l_shipdate`` are tz-naive timestamp[us];
  FIXTURES.md §1 lists ``ts`` as timestamp[ns] and the dates as
  timestamp[ms], a layout the test tables no longer ship in, so
  ``sources/tables.py:load_table`` takes its plain-TIMESTAMP branch here
  as it does on the test tables.
- :func:`write_packet_files` writes CCSDS space-packet files for the
  ingest workload and returns a numpy reference of every decommutated
  and calibrated value, so the pipeline's output can be checked without
  Spark.
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mission_data_pipeline_spark.models.ccsds import build_packet

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "spring"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _write(table: pa.Table, path: str) -> None:
    # One row group, like the DuckDB-written driver tables: scan
    # parallelism then comes from the engine's own split sizing.
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; ~5% are copies of an earlier document
    with a `` dup`` suffix (near-duplicates for the dedup operators)."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float, n_documents: int) -> dict:
    """Write the ten query tables at scale factor ``sf`` (sf=1 is 6M
    lineitem rows) and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, n_ev * 15 // 1000)
    n_emb = 2_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), pa.string()),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(rng.choice(names, n_part), pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": pa.array(rng.choice(_PTYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(
                _EPOCH_1995_US + rng.integers(0, 2404, n_ord) * _DAY_US,
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), pa.string()),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), pa.string()),
            "l_shipdate": pa.array(
                _EPOCH_1995_US + _DAY_US + rng.integers(0, 2498, n_li) * _DAY_US,
                pa.timestamp("us"),
            ),
        }
    )
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev), pa.string()),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
            ),
        }
    )
    t["documents"] = _documents(rng, n_documents)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


# -- CCSDS packet files ---------------------------------------------------

#: (name, apid, byte offset, bits, type) decommutated by the ingest
#: pipeline; APID 0x300 packets carry no definitions, so decom skips them.
PARAMETERS = [
    ("obc_temp", 0x100, 0, 16, "uint"),
    ("bus_voltage", 0x100, 2, 16, "uint"),
    ("bat_current", 0x100, 4, 16, "uint"),
    ("mission_time_s", 0x100, 6, 32, "float"),
    ("wheel_speed", 0x200, 0, 16, "uint"),
    ("star_temp", 0x200, 2, 16, "uint"),
]

#: (parameter, method, coefficients, table_raw, table_eng, unit)
CALIBRATIONS = [
    ("obc_temp", "polynomial", [-55.0, 0.04394531], [], [], "degC"),
    ("bus_voltage", "polynomial", [0.0, 0.008056640625], [], [], "V"),
    ("bat_current", "table", [], [0, 1024, 2048, 3072, 4095], [-2, -1, 0, 1, 2], "A"),
    ("star_temp", "polynomial", [-273.15, 0.1, 1e-6], [], [], "degC"),
]

_APIDS = np.array([0x100, 0x200, 0x300])
_APID_P = [0.5, 0.3, 0.2]
_USER_LEN = {0x100: 12, 0x200: 8, 0x300: 10}
_SEC_HDR = 4


def _horner(raw: np.ndarray, coeffs: list[float]) -> np.ndarray:
    acc = np.full(raw.shape, float(coeffs[-1]))
    for c in reversed(coeffs[:-1]):
        acc = acc * raw + float(c)
    return acc


def _piecewise(raw: np.ndarray, xs: list[float], ys: list[float]) -> np.ndarray:
    out = np.full(raw.shape, float(ys[-1]))
    done = raw <= xs[0]
    out[done] = float(ys[0])
    for (x0, y0), (x1, y1) in zip(zip(xs, ys), list(zip(xs, ys))[1:]):
        sel = ~done & (raw <= x1)
        out[sel] = float(y0) + (raw[sel] - float(x0)) / (float(x1) - float(x0)) * (
            float(y1) - float(y0)
        )
        done |= sel
    return out


def calibrated(name: str, raw: np.ndarray) -> np.ndarray:
    """numpy twin of the engine's calibration for one parameter."""
    for p, method, coeffs, xs, ys, _unit in CALIBRATIONS:
        if p == name:
            if method == "polynomial":
                return _horner(raw, coeffs)
            return _piecewise(raw, xs, ys)
    return raw


def _packets(rng: np.random.Generator, n: int, seq0: int) -> tuple[bytes, dict]:
    """``n`` packets (vectorized) plus each parameter's raw values."""
    apid = rng.choice(_APIDS, n, p=_APID_P)
    plen = np.array([6 + _SEC_HDR + _USER_LEN[int(a)] for a in _APIDS])[
        np.searchsorted(_APIDS, apid)
    ]
    ends = np.cumsum(plen)
    starts = ends - plen
    buf = np.zeros(int(ends[-1]), np.uint8)
    seq = (seq0 + np.arange(n)) % (1 << 14)

    def put(offs: np.ndarray, value: np.ndarray, width: int) -> None:
        be = value.astype(f">u{width}").view(np.uint8).reshape(-1, width)
        for b in range(width):
            buf[offs + b] = be[:, b]

    put(starts, (1 << 11) | apid, 2)  # version 0, TM, sec hdr flag, APID
    put(starts + 2, (0b11 << 14) | seq, 2)  # unsegmented
    put(starts + 4, plen - 7, 2)  # data_length = data field bytes - 1
    put(starts + 6, (seq0 + np.arange(n)).astype(np.uint32), 4)  # sec hdr
    user = starts + 6 + _SEC_HDR
    raw: dict[str, np.ndarray] = {}
    for a, fields in ((0x100, PARAMETERS[:4]), (0x200, PARAMETERS[4:])):
        sel = apid == a
        for name, _apid, off, bits, ptype in fields:
            if ptype == "float":
                v = rng.uniform(0.0, 1e6, int(sel.sum())).astype(np.float32)
                put(user[sel] + off, v.view(np.uint32), 4)
            else:
                v = rng.integers(0, 4096, int(sel.sum())).astype(np.uint16)
                put(user[sel] + off, v, bits // 8)
            raw[name] = v.astype(np.float64)
    sel = apid == 0x100
    put(user[sel] + 10, np.full(int(sel.sum()), 0xABCD), 2)  # checksum
    sel = apid == 0x300
    put(user[sel], rng.integers(0, 1 << 16, (int(sel.sum()))), 2)
    data = buf.tobytes()
    # The vectorized layout must be exactly what the model's encoder
    # writes: rebuild a prefix packet by packet and compare.
    for i in range(min(n, 64)):
        s, e = int(starts[i]), int(ends[i])
        a = int(apid[i])
        user_bytes = data[s + 6 + _SEC_HDR : e]
        expect = build_packet(
            a, seq0 + i, user_bytes, sec_hdr=struct.pack(">I", seq0 + i)
        )
        if data[s:e] != expect:
            raise AssertionError(f"packet {i} differs from build_packet")
    return data, raw


def write_packet_files(
    out_dir: str, seed: int, n_files: int, packets_per_file: int
) -> dict:
    """Write ``n_files`` packet files; return paths, packet count and the
    per-parameter (rows, eng_value sum) reference."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    paths, rows, sums = [], dict.fromkeys([p[0] for p in PARAMETERS], 0), {}
    sums = dict.fromkeys(rows, 0.0)
    for f in range(n_files):
        data, raw = _packets(rng, packets_per_file, f * packets_per_file)
        path = os.path.join(out_dir, f"tm_{f:03d}.bin")
        with open(path, "wb") as fh:
            fh.write(data)
        paths.append(path)
        for name, v in raw.items():
            rows[name] += len(v)
            sums[name] += float(np.sum(calibrated(name, v)))
    return {
        "paths": paths,
        "packets": n_files * packets_per_file,
        "rows": rows,
        "eng_sums": sums,
    }


def sha256_files(paths: list[str]) -> str:
    """One digest over the named files' bytes, in the order given."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()
