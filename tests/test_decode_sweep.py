"""Seeded randomized sweep of the full decode matrix vs struct.unpack.

The numpy kernel decodes thousands of cases straight from Arrow arrays
(no Spark job): uint/int at 1/2/4/8 bytes, float32/64, both
endiannesses, with adversarial patterns (all-zero, all-FF, sign
boundaries, subnormals, inf, NaN) mixed into the random pool.
"""

import math
import random
import struct

import pyarrow as pa
import pytest

from mission_data_pipeline_spark.functions import decode as dec

N_RANDOM = 1500


def _cases():
    rng = random.Random(0xC0FFEE)
    edge8 = [0, 1, 0x7F, 0x80, 0xFF]
    edge16 = [0, 1, 0x7FFF, 0x8000, 0xFFFF]
    edge32 = [0, 1, 0x7FFFFFFF, 0x80000000, 0xFFFFFFFF]
    edge64 = [0, 1, 0x7FFFFFFFFFFFFFFF, 0x8000000000000000, 0xFFFFFFFFFFFFFFFF]
    f32 = [0x00000000, 0x80000000, 0x00000001, 0x00800000, 0x7F7FFFFF,
           0x7F800000, 0xFF800000, 0x7FC00000, 0x3F800000]
    f64 = [0x0, 0x8000000000000000, 0x1, 0x0010000000000000,
           0x7FEFFFFFFFFFFFFF, 0x7FF0000000000000, 0xFFF0000000000000,
           0x7FF8000000000000, 0x3FF0000000000000]
    out = []
    for i in range(N_RANDOM):
        out.append(
            (
                i,
                struct.pack(">B", (edge8 + [rng.getrandbits(8)])[i % (len(edge8) + 1)] if i < 60 else rng.getrandbits(8)),
                struct.pack(">H", edge16[i % len(edge16)] if i < 30 else rng.getrandbits(16)),
                struct.pack(">I", edge32[i % len(edge32)] if i < 30 else rng.getrandbits(32)),
                struct.pack(">Q", edge64[i % len(edge64)] if i < 30 else rng.getrandbits(64)),
                struct.pack(">I", f32[i % len(f32)] if i < 45 else rng.getrandbits(32)),
                struct.pack(">Q", f64[i % len(f64)] if i < 45 else rng.getrandbits(64)),
            )
        )
    return out


@pytest.fixture(scope="module")
def decoded():
    rows = _cases()
    cols = {
        name: dec.Payloads(pa.array([r[j] for r in rows], pa.binary()))
        for j, name in enumerate(("b1", "b2", "b4", "b8", "f4", "f8"), start=1)
    }
    got = {}
    for n, col in ((1, "b1"), (2, "b2"), (4, "b4"), (8, "b8")):
        for le in (False, True):
            tag = f"{n}{'le' if le else 'be'}"
            got[f"u{tag}"] = cols[col].decode("uint", 0, n, le).to_pylist()
            got[f"s{tag}"] = cols[col].decode("int", 0, n, le).to_pylist()
    for n, col in ((4, "f4"), (8, "f8")):
        for le in (False, True):
            tag = f"{n}{'le' if le else 'be'}"
            got[f"f{tag}"] = cols[col].decode("float", 0, n, le).to_pylist()
    out = {i: {k: v[i] for k, v in got.items()} for i in range(len(rows))}
    return rows, out


def test_uint_int_matrix(decoded):
    rows, out = decoded
    fmt_u = {1: "B", 2: "H", 4: "I", 8: "Q"}
    fmt_s = {1: "b", 2: "h", 4: "i", 8: "q"}
    for row in rows:
        i = row[0]
        bufs = {1: row[1], 2: row[2], 4: row[3], 8: row[4]}
        for n in (1, 2, 4, 8):
            for le, e in ((False, ">"), (True, "<")):
                tag = f"{n}{'le' if le else 'be'}"
                exp_u = struct.unpack(e + fmt_u[n], bufs[n])[0]
                exp_s = struct.unpack(e + fmt_s[n], bufs[n])[0]
                assert int(out[i][f"u{tag}"]) == exp_u, (i, tag)
                assert out[i][f"s{tag}"] == exp_s, (i, tag)


def test_float_matrix(decoded):
    rows, out = decoded
    for row in rows:
        i = row[0]
        for n, buf in ((4, row[5]), (8, row[6])):
            for le, e in ((False, ">"), (True, "<")):
                tag = f"{n}{'le' if le else 'be'}"
                exp = struct.unpack(e + ("f" if n == 4 else "d"), buf)[0]
                got = out[i][f"f{tag}"]
                if math.isnan(exp):
                    assert math.isnan(got), (i, tag)
                else:
                    assert got == exp, (i, tag, got, exp)
