"""Pure-Python HDF5 writer/reader for the telemetry-export subset.

The sandbox cannot install ``h5py``, but the HDF5 **file format is a
public specification** (HDF5 File Format Specification v3.0), so the
subset the reference layout needs — classic version-0 superblock,
symbol-table groups, gzip-compressed chunked 1-D datasets, string/
numeric datatypes, object-header attributes — is writable with
``struct`` + ``zlib``, the same move that closed the PNG/JPEG/ADPCM
codec boundaries. Parity target: reference
``src/mdp/plugins/loaders/hdf5.py:50-134`` (``/telemetry/<param>/...``,
gzip level 4, ``unit`` group attrs).

Scope (loudly guarded, not silently wrong):

- groups via v1 B-trees + symbol nodes: one SNOD per group, up to
  ``2*K_LEAF`` links per group;
- 1-D datasets only (the telemetry export shape), chunked + gzip, at
  most 64 chunks per dataset (v0-superblock chunk B-trees default to
  K=32 → one leaf node holds 64 chunks; the chunk size auto-scales so
  this bounds nothing in practice);
- fixed-width ASCII/UTF-8 strings (``S{n}``), f8/i4/i1 numerics;
- string scalar attributes.

The reader parses exactly what the writer emits (plus anything else
inside the same subset) and exists so the writer is READ-BACK-VERIFIED
from inside the sandbox; on hosts with h5py the files open in h5py
directly — every structure below follows the public spec, not an
invented container.

An ``h5py``-compatible facade (:class:`File`, :func:`string_dtype`)
lets ``sinks/hdf5.py`` run unchanged on either backend: datasets are
held in memory (resizable), serialized on close; append mode re-reads
the existing file into the model first. This is a driver-side EXPORT
boundary (bounded data by contract), not a distributed sink.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF
K_LEAF = 256  # SNOD capacity = 2*K_LEAF links per group
K_INTERNAL = 16  # group B-tree node capacity (we use 1 child)
K_ISTORE = 32  # chunk B-tree capacity = 2*K (v0 superblock default)
MAX_CHUNKS = 2 * K_ISTORE
_SNOD_SIZE = 8 + 2 * K_LEAF * 40
_GBT_SIZE = 24 + 8 * (2 * K_INTERNAL + 1) + 8 * (2 * K_INTERNAL)


# -- in-memory model ---------------------------------------------------------


class _DatasetModel:
    def __init__(self, data: np.ndarray, compression_opts: int | None):
        self.data = data
        self.level = compression_opts
        self.attrs: dict[str, str] = {}


class _GroupModel:
    def __init__(self) -> None:
        self.groups: dict[str, _GroupModel] = {}
        self.datasets: dict[str, _DatasetModel] = {}
        self.attrs: dict[str, str] = {}


# -- low-level writer --------------------------------------------------------


class _Writer:
    def __init__(self) -> None:
        self.buf = bytearray(96)  # superblock placeholder at address 0

    def alloc(self, size: int) -> int:
        addr = len(self.buf)
        self.buf += b"\x00" * size
        return addr

    def put(self, addr: int, data: bytes) -> None:
        self.buf[addr : addr + len(data)] = data


def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _msg(mtype: int, body: bytes, flags: int = 0) -> bytes:
    body = _pad8(body)
    return struct.pack("<HHB3x", mtype, len(body), flags) + body


def _dt_fixed(size: int) -> bytes:
    """Signed little-endian fixed-point datatype of ``size`` bytes."""
    return struct.pack("<B3BI", 0x10, 0x08, 0, 0, size) + struct.pack(
        "<HH", 0, 8 * size
    )


def _dt_f64() -> bytes:
    # IEEE F64LE: mantissa-normalization=implied(2) in bits 4-5 of byte0,
    # sign bit location 63 in byte1.
    return struct.pack("<B3BI", 0x11, 0x20, 0x3F, 0x00, 8) + struct.pack(
        "<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023
    )


def _dt_string(size: int) -> bytes:
    # class 3, null-terminated (pad 0), ASCII charset (0)
    return struct.pack("<B3BI", 0x13, 0x00, 0x00, 0x00, size)


def _dataspace_1d(n: int) -> bytes:
    return struct.pack("<BBB5xQQ", 1, 1, 1, n, UNDEF)  # maxdim unlimited


def _dataspace_scalar() -> bytes:
    return struct.pack("<BBB5x", 1, 0, 0)


def _fill_value() -> bytes:
    # v2, alloc time late(2), write time if-set(2), undefined fill
    return struct.pack("<BBBB", 2, 2, 2, 0)


def _attr_msg(name: str, value: str) -> bytes:
    nm = _pad8(name.encode() + b"\x00")
    raw = value.encode()
    dt = _pad8(_dt_string(max(len(raw), 1)))
    ds = _pad8(_dataspace_scalar())
    body = (
        struct.pack("<BxHHH", 1, len(name) + 1, len(dt), len(ds))
        + nm
        + dt
        + ds
        + raw
    )
    return _msg(0x000C, body)


def _object_header(w: _Writer, messages: list[bytes]) -> int:
    blob = b"".join(messages)
    hdr = struct.pack("<BxHII4x", 1, len(messages), 1, len(blob))
    addr = w.alloc(len(hdr) + len(blob))
    w.put(addr, hdr + blob)
    return addr


def _numpy_to_h5(arr: np.ndarray) -> tuple[bytes, int, np.ndarray]:
    """(datatype message body, element size, normalized array)."""
    if arr.dtype == object or arr.dtype.kind in ("U", "S"):
        enc = [
            (x if isinstance(x, bytes) else str(x).encode("utf-8"))
            for x in arr.tolist()
        ]
        width = max([len(x) for x in enc] or [0]) or 1
        out = np.zeros(len(enc), dtype=f"S{width}")
        out[:] = enc
        return _dt_string(width), width, out
    arr = np.ascontiguousarray(arr)
    if arr.dtype == np.float64:
        return _dt_f64(), 8, arr
    if arr.dtype == np.int32:
        return _dt_fixed(4), 4, arr
    if arr.dtype == np.int8:
        return _dt_fixed(1), 1, arr
    if arr.dtype == np.int64:
        return _dt_fixed(8), 8, arr
    raise NotImplementedError(
        f"pure-HDF5 writer supports f8/i8/i4/i1/strings, got {arr.dtype}"
    )


def _write_dataset(w: _Writer, d: _DatasetModel) -> int:
    dt_body, esize, arr = _numpy_to_h5(d.data)
    n = len(arr)
    level = d.level if d.level is not None else 4
    # chunk size auto-scales so one chunk B-tree leaf always suffices
    chunk_elems = max(16384, -(-n // (MAX_CHUNKS - 2))) if n else 16384
    raw = arr.tobytes()
    chunks: list[tuple[int, bytes]] = []  # (logical offset, compressed)
    off = 0
    while off < n:
        seg = raw[off * esize : (off + chunk_elems) * esize]
        if len(seg) < chunk_elems * esize:  # pad tail chunk to full size
            seg = seg + b"\x00" * (chunk_elems * esize - len(seg))
        chunks.append((off, zlib.compress(seg, level)))
        off += chunk_elems
    assert len(chunks) <= MAX_CHUNKS
    chunk_addrs = [w.alloc(len(c)) for _, c in chunks]
    for a, (_, c) in zip(chunk_addrs, chunks):
        w.put(a, c)
    # chunk B-tree: one leaf, N entries, N+1 keys
    key_size = 8 + 16  # size + mask + offsets (elem dim + trailing 0)
    bt_size = 24 + (len(chunks) + 1) * key_size + len(chunks) * 8
    bt_addr = w.alloc(max(bt_size, 24 + key_size))
    bt = struct.pack("<4sBBHQQ", b"TREE", 1, 0, len(chunks), UNDEF, UNDEF)
    for (coff, cbytes), caddr in zip(chunks, chunk_addrs):
        bt += struct.pack("<IIQQ", len(cbytes), 0, coff, 0)
        bt += struct.pack("<Q", caddr)
    bt += struct.pack("<IIQQ", 0, 0, len(chunks) * chunk_elems, 0)
    w.put(bt_addr, bt)
    layout = struct.pack("<BBB", 3, 2, 2) + struct.pack(
        "<QII", bt_addr, chunk_elems, esize
    )
    pipeline = struct.pack("<BB6x", 1, 1) + struct.pack(
        "<HHHHI4x", 1, 0, 1, 1, level
    )
    messages = [
        _msg(0x0001, _dataspace_1d(n)),
        _msg(0x0003, dt_body, flags=1),
        _msg(0x0005, _fill_value(), flags=1),
        _msg(0x000B, pipeline),
        _msg(0x0008, layout),
    ]
    messages += [_attr_msg(k, v) for k, v in d.attrs.items()]
    return _object_header(w, messages)


def _write_group(w: _Writer, g: _GroupModel) -> tuple[int, int, int]:
    """Returns (object header addr, btree addr, heap addr)."""
    links = sorted(list(g.groups) + list(g.datasets))
    if len(links) > 2 * K_LEAF:
        raise NotImplementedError(
            f"pure-HDF5 writer: group has {len(links)} links > {2*K_LEAF}"
        )
    # children first (addresses needed in the SNOD)
    child: dict[str, tuple[int, int, int]] = {}
    for name, sub in g.groups.items():
        child[name] = _write_group(w, sub)
    for name, d in g.datasets.items():
        child[name] = (_write_dataset(w, d), UNDEF, UNDEF)
    # local heap: offset 0 reserved for the empty string
    heap_data = bytearray(8)
    name_off = {}
    for name in links:
        name_off[name] = len(heap_data)
        heap_data += _pad8(name.encode() + b"\x00")
    heap_data_addr = w.alloc(max(len(heap_data), 8))
    w.put(heap_data_addr, bytes(heap_data))
    heap_addr = w.alloc(32)
    w.put(
        heap_addr,
        struct.pack(
            "<4sB3xQQQ", b"HEAP", 0, len(heap_data), UNDEF, heap_data_addr
        ),
    )
    snod_addr = w.alloc(_SNOD_SIZE)
    snod = struct.pack("<4sBBH", b"SNOD", 1, 0, len(links))
    for name in links:
        oh, bt, hp = child[name]
        if bt != UNDEF:  # cached group: btree+heap in scratch
            snod += struct.pack("<QQII QQ".replace(" ", ""),
                                name_off[name], oh, 1, 0, bt, hp)
        else:
            snod += struct.pack("<QQII16x", name_off[name], oh, 0, 0)
    w.put(snod_addr, snod)
    bt_addr = w.alloc(_GBT_SIZE)
    bt = struct.pack("<4sBBHQQ", b"TREE", 0, 0, 1, UNDEF, UNDEF)
    bt += struct.pack("<Q", 0)  # key 0: empty string (heap offset 0)
    bt += struct.pack("<Q", snod_addr)
    bt += struct.pack("<Q", name_off[links[-1]] if links else 0)
    w.put(bt_addr, bt)
    messages = [_msg(0x0011, struct.pack("<QQ", bt_addr, heap_addr))]
    messages += [_attr_msg(k, v) for k, v in g.attrs.items()]
    oh_addr = _object_header(w, messages)
    return oh_addr, bt_addr, heap_addr


def write_h5(root: _GroupModel, path: str) -> None:
    w = _Writer()
    oh, bt, hp = _write_group(w, root)
    sb = struct.pack(
        "<8s8BHHI", b"\x89HDF\r\n\x1a\n", 0, 0, 0, 0, 0, 8, 8, 0,
        K_LEAF, K_INTERNAL, 0,
    )
    sb += struct.pack("<QQQQ", 0, UNDEF, len(w.buf), UNDEF)
    sb += struct.pack("<QQII QQ".replace(" ", ""), 0, oh, 1, 0, bt, hp)
    w.put(0, sb)
    with open(path, "wb") as f:
        f.write(bytes(w.buf))


# -- reader (same subset) ----------------------------------------------------


class _Reader:
    def __init__(self, raw: bytes):
        self.raw = raw
        if raw[:8] != b"\x89HDF\r\n\x1a\n":
            raise ValueError("not an HDF5 file")
        if raw[8] != 0:
            raise NotImplementedError("only v0 superblocks supported")
        self.root_oh = struct.unpack_from("<Q", raw, 64)[0]

    def u(self, fmt: str, off: int):
        return struct.unpack_from("<" + fmt, self.raw, off)

    def messages(self, oh_addr: int) -> list[tuple[int, bytes]]:
        ver, nmsg, _refs, hsize = self.u("BxHII", oh_addr)
        if ver != 1:
            raise NotImplementedError("only v1 object headers supported")
        out = []
        off = oh_addr + 16
        end = off + hsize
        while off < end and len(out) < nmsg:
            mtype, msize, _flags = self.u("HHB3x", off)
            body = self.raw[off + 8 : off + 8 + msize]
            if mtype == 0x0010:  # continuation
                caddr, clen = struct.unpack_from("<QQ", body)
                out += self._messages_block(caddr, clen, nmsg - len(out) - 1)
            else:
                out.append((mtype, body))
            off += 8 + msize
        return out

    def _messages_block(self, addr, length, maxn):
        out, off, end = [], addr, addr + length
        while off < end and len(out) < maxn:
            mtype, msize, _f = self.u("HHB3x", off)
            out.append((mtype, self.raw[off + 8 : off + 8 + msize]))
            off += 8 + msize
        return out

    def read_group(self, oh_addr: int) -> _GroupModel:
        g = _GroupModel()
        for mtype, body in self.messages(oh_addr):
            if mtype == 0x0011:
                bt_addr, heap_addr = struct.unpack_from("<QQ", body)
                self._read_links(g, bt_addr, heap_addr)
            elif mtype == 0x000C:
                k, v = self._parse_attr(body)
                g.attrs[k] = v
        return g

    def _heap_name(self, heap_addr: int, off: int) -> str:
        sig, _v, _size, _free, data_addr = self.u("4sB3xQQQ", heap_addr)
        assert sig == b"HEAP"
        s = self.raw[data_addr + off :]
        return s[: s.index(b"\x00")].decode()

    def _read_links(self, g: _GroupModel, bt_addr: int, heap_addr: int):
        sig, ntype, level, nused, _l, _r = self.u("4sBBHQQ", bt_addr)
        assert sig == b"TREE" and ntype == 0
        off = bt_addr + 24 + 8  # skip key 0
        for _ in range(nused):
            (snod_addr,) = self.u("Q", off)
            self._read_snod(g, snod_addr, heap_addr)
            off += 16
        if level != 0:
            raise NotImplementedError("multi-level group btrees")

    def _read_snod(self, g: _GroupModel, snod_addr: int, heap_addr: int):
        sig, _v, _r, nsym = self.u("4sBBH", snod_addr)
        assert sig == b"SNOD"
        off = snod_addr + 8
        for _ in range(nsym):
            name_off, oh = self.u("QQ", off)
            name = self._heap_name(heap_addr, name_off)
            node = self._read_object(oh)
            if isinstance(node, _GroupModel):
                g.groups[name] = node
            else:
                g.datasets[name] = node
            off += 40

    def _read_object(self, oh_addr: int):
        msgs = self.messages(oh_addr)
        if any(t == 0x0011 for t, _ in msgs):
            return self.read_group(oh_addr)
        return self._read_dataset(msgs)

    def _read_dataset(self, msgs) -> _DatasetModel:
        n = None
        dtype = None
        level = None
        chunk = None
        attrs = {}
        for mtype, body in msgs:
            if mtype == 0x0001:
                ver, rank, flags = struct.unpack_from("<BBB", body)
                n = struct.unpack_from("<Q", body, 8)[0] if rank else 1
            elif mtype == 0x0003:
                dtype = self._parse_dtype(body)
            elif mtype == 0x000B:
                nf = body[1]
                off = 8
                for _ in range(nf):
                    fid, nlen, _fl, ncd = struct.unpack_from("<HHHH", body, off)
                    off += 8 + nlen
                    cd = struct.unpack_from(f"<{ncd}I", body, off)
                    off += 4 * ncd + (4 if ncd % 2 else 0)
                    if fid == 1:
                        level = cd[0] if cd else 4
            elif mtype == 0x0008:
                ver, cls = struct.unpack_from("<BB", body)
                if ver != 3 or cls != 2:
                    raise NotImplementedError("only v3 chunked layout")
                bt_addr, chunk_elems, esize = struct.unpack_from(
                    "<QII", body, 3
                )
                chunk = (bt_addr, chunk_elems, esize)
            elif mtype == 0x000C:
                k, v = self._parse_attr(body)
                attrs[k] = v
        bt_addr, chunk_elems, esize = chunk
        parts = []
        sig, ntype, lvl, nused, _l, _r = self.u("4sBBHQQ", bt_addr)
        assert sig == b"TREE" and ntype == 1 and lvl == 0
        off = bt_addr + 24
        for _ in range(nused):
            csize, _mask, coff, _z = self.u("IIQQ", off)
            (caddr,) = self.u("Q", off + 24)
            parts.append(zlib.decompress(self.raw[caddr : caddr + csize]))
            off += 32
        raw = b"".join(parts)[: n * esize]
        arr = np.frombuffer(raw, dtype=dtype.str if dtype.kind != "S" else f"S{esize}")
        d = _DatasetModel(arr.copy(), level)
        d.attrs = attrs
        return d

    def _parse_dtype(self, body: bytes) -> np.dtype:
        clsver, b0 = body[0], body[1]
        cls = clsver & 0x0F
        size = struct.unpack_from("<I", body, 4)[0]
        if cls == 0:
            return np.dtype(f"<i{size}" if b0 & 0x08 else f"<u{size}")
        if cls == 1:
            return np.dtype(f"<f{size}")
        if cls == 3:
            return np.dtype(f"S{size}")
        raise NotImplementedError(f"datatype class {cls}")

    def _parse_attr(self, body: bytes) -> tuple[str, str]:
        _ver, nsize, dtsize, dssize = struct.unpack_from("<BxHHH", body)
        off = 8
        name = body[off : off + nsize - 1].decode()
        off += (nsize + 7) // 8 * 8
        dt = self._parse_dtype(body[off : off + dtsize])
        off += (dtsize + 7) // 8 * 8
        off += (dssize + 7) // 8 * 8
        raw = body[off : off + dt.itemsize]
        return name, raw.rstrip(b"\x00").decode()


def read_h5(path: str) -> _GroupModel:
    with open(path, "rb") as f:
        raw = f.read()
    r = _Reader(raw)
    return r.read_group(r.root_oh)


# -- h5py-compatible facade --------------------------------------------------


class _Attrs:
    def __init__(self, node):
        self._node = node

    def __setitem__(self, k, v):
        self._node.attrs[k] = str(v)

    def __getitem__(self, k):
        return self._node.attrs[k]

    def __contains__(self, k):
        return k in self._node.attrs


class Dataset:
    def __init__(self, model: _DatasetModel):
        self._m = model

    @property
    def shape(self):
        return (len(self._m.data),)

    @property
    def attrs(self):
        return _Attrs(self._m)

    def resize(self, n: int, axis: int = 0) -> None:
        old = self._m.data
        if old.dtype == object or old.dtype.kind in ("S", "U"):
            new = np.empty(n, dtype=object)
            new[: len(old)] = old[: min(n, len(old))]
            new[len(old) :] = b""
        else:
            new = np.zeros(n, dtype=old.dtype)
            new[: min(n, len(old))] = old[: min(n, len(old))]
        self._m.data = new

    def __setitem__(self, sl, values):
        self._m.data[sl] = np.asarray(values, dtype=self._m.data.dtype)

    def __getitem__(self, sl):
        return self._m.data[sl]

    def __len__(self):
        return len(self._m.data)


class Group:
    def __init__(self, model: _GroupModel):
        self._m = model

    @property
    def attrs(self):
        return _Attrs(self._m)

    def require_group(self, name: str) -> "Group":
        if name not in self._m.groups:
            self._m.groups[name] = _GroupModel()
        return Group(self._m.groups[name])

    def create_dataset(
        self,
        name: str,
        data=None,
        maxshape=None,
        compression=None,
        compression_opts=None,
    ) -> Dataset:
        if name in self._m.datasets:
            raise ValueError(f"dataset exists: {name}")
        arr = np.asarray(data)
        if arr.ndim != 1:
            raise NotImplementedError("pure-HDF5 backend is 1-D only")
        level = compression_opts if compression == "gzip" else 4
        self._m.datasets[name] = _DatasetModel(arr.copy(), level)
        return Dataset(self._m.datasets[name])

    def __contains__(self, name: str) -> bool:
        return name in self._m.datasets or name in self._m.groups

    def __getitem__(self, name: str):
        if name in self._m.groups:
            return Group(self._m.groups[name])
        return Dataset(self._m.datasets[name])

    def keys(self):
        return sorted(list(self._m.groups) + list(self._m.datasets))


class File(Group):
    def __init__(self, path: str, mode: str = "r"):
        self.path = path
        self.mode = mode
        if mode in ("r", "r+") or (mode == "a" and os.path.exists(path)):
            model = read_h5(path)
        elif mode in ("w", "a"):
            model = _GroupModel()
        else:
            raise ValueError(f"unsupported mode {mode!r}")
        super().__init__(model)

    def close(self) -> None:
        if self.mode != "r":
            write_h5(self._m, self.path)

    def __enter__(self) -> "File":
        return self

    def __exit__(self, *exc) -> None:
        if exc[0] is None:
            self.close()


def string_dtype():
    """h5py.string_dtype() stand-in: object dtype; fixed-width S strings
    are chosen per dataset at serialization time."""
    return np.dtype(object)
