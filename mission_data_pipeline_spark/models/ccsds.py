"""CCSDS Space Packet primitives (CCSDS 133.0-B-2).

Behavioral parity target: reference ``src/mdp/models/packet.py:34-176``
(6-byte big-endian bit-packed primary header, ``data_length`` =
len(user_data_field) - 1, 14-bit wrapping sequence counter). This module
is the *driver/task-side* codec used by the binary source's packet
splitter and by test fixture generators; inside Spark plans the same
fields are recomputed with native expressions (see ``sources/binary.py``).

No code is copied from the reference — the bit layout is the public
CCSDS 133.0-B-2 standard.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

#: Attached-sync-marker pattern used by CCSDS channel frames; the
#: reference optionally scans for it between packets
#: (``src/mdp/plugins/extractors/binary.py:125-136``).
CCSDS_SYNC_MARKER = b"\x1a\xcf\xfc\x1d"

PRIMARY_HEADER_LEN = 6
SEQ_COUNT_MOD = 1 << 14  # 14-bit sequence counter wraps at 16384
APID_MAX = (1 << 11) - 1


@dataclass(frozen=True)
class CCSDSPrimaryHeader:
    """Parsed 48-bit CCSDS primary header.

    Field widths (bits): version 3, packet_type 1, sec_hdr_flag 1,
    apid 11, seq_flags 2, seq_count 14, data_length 16.
    ``data_length`` is the CCSDS convention: one fewer than the number
    of bytes in the packet data field.
    """

    version: int = 0
    packet_type: int = 0
    sec_hdr_flag: int = 0
    apid: int = 0
    seq_flags: int = 0b11  # unsegmented
    seq_count: int = 0
    data_length: int = 0

    @classmethod
    def from_bytes(cls, buf: bytes) -> "CCSDSPrimaryHeader":
        if len(buf) < PRIMARY_HEADER_LEN:
            raise ValueError(
                f"CCSDS primary header needs {PRIMARY_HEADER_LEN} bytes, got {len(buf)}"
            )
        w0, w1, w2 = struct.unpack(">HHH", buf[:PRIMARY_HEADER_LEN])
        return cls(
            version=(w0 >> 13) & 0x7,
            packet_type=(w0 >> 12) & 0x1,
            sec_hdr_flag=(w0 >> 11) & 0x1,
            apid=w0 & 0x7FF,
            seq_flags=(w1 >> 14) & 0x3,
            seq_count=w1 & 0x3FFF,
            data_length=w2,
        )

    def to_bytes(self) -> bytes:
        w0 = ((self.version & 0x7) << 13) | ((self.packet_type & 0x1) << 12) | (
            (self.sec_hdr_flag & 0x1) << 11
        ) | (self.apid & 0x7FF)
        w1 = ((self.seq_flags & 0x3) << 14) | (self.seq_count & 0x3FFF)
        return struct.pack(">HHH", w0, w1, self.data_length & 0xFFFF)

    @property
    def packet_length(self) -> int:
        """Total packet bytes: header + data field (data_length + 1)."""
        return PRIMARY_HEADER_LEN + self.data_length + 1


def build_packet(
    apid: int,
    seq_count: int,
    user_data: bytes,
    *,
    sec_hdr: bytes = b"",
    packet_type: int = 0,
    seq_flags: int = 0b11,
) -> bytes:
    """Serialize one space packet (header + optional sec hdr + user data)."""
    data_field = sec_hdr + user_data
    if len(data_field) == 0:
        raise ValueError("CCSDS packet data field must be non-empty")
    hdr = CCSDSPrimaryHeader(
        version=0,
        packet_type=packet_type,
        sec_hdr_flag=1 if sec_hdr else 0,
        apid=apid,
        seq_flags=seq_flags,
        seq_count=seq_count % SEQ_COUNT_MOD,
        data_length=len(data_field) - 1,
    )
    return hdr.to_bytes() + data_field


def generate_housekeeping_stream(
    n_packets: int,
    *,
    apid: int = 0x100,
    with_sync_marker: bool = False,
    garbage_prefix: bytes = b"",
) -> bytes:
    """Synthetic housekeeping telemetry, FIXTURES.md §2 layout.

    Each packet: 4-byte uint32 BE secondary header (counter) + 12-byte
    user data: obc_temp_dn u16, bus_voltage_dn u16, bat_current_dn u16,
    mission_time_s f32, checksum u16 (0xABCD). Deterministic in ``i``.
    """
    out = bytearray()
    for i in range(n_packets):
        obc = int(2048 + 200 * math.sin(i / 20.0))
        bus = int(3000 + 50 * math.sin(i / 50.0))
        bat = int(1500 + 300 * math.cos(i / 15.0))
        user = struct.pack(">HHHfH", obc, bus, bat, i * 4.0, 0xABCD)
        pkt = build_packet(apid, i, user, sec_hdr=struct.pack(">I", i))
        if with_sync_marker:
            out += garbage_prefix + CCSDS_SYNC_MARKER
        out += pkt
    return bytes(out)


def generate_simple_stream(n_packets: int, *, apid: int = 0x100) -> bytes:
    """10-packet-style fixture: user_data = uint32 BE (i*1000), no sec hdr."""
    out = bytearray()
    for i in range(n_packets):
        out += build_packet(apid, i, struct.pack(">I", i * 1000))
    return bytes(out)


# ---------------------------------------------------------------------------
# TM Transfer Frames (CCSDS 132.0-B-3, TM Space Data Link Protocol).
# Behavioral parity target: reference ``src/mdp/models/frame.py:24-102``
# (6-byte primary header bit layout, quality enum, is_good). The layout
# itself is the public CCSDS 132.0-B-3 standard; no code is copied.
# ---------------------------------------------------------------------------

TM_FRAME_HEADER_LEN = 6

#: first_header_pointer sentinel: frame data field holds only idle data.
FHP_IDLE_ONLY = 0x7FE
#: first_header_pointer sentinel: no packet starts in this frame
#: (pure continuation of a packet begun in an earlier frame).
FHP_NO_FIRST_HEADER = 0x7FF

#: APID reserved for idle packets (CCSDS 133.0-B-2 §4.1.2.3.4.4).
APID_IDLE = 0x7FF


@dataclass(frozen=True)
class TMFramePrimaryHeader:
    """Parsed 48-bit TM Transfer Frame primary header.

    Field widths (bits): version 2, spacecraft_id 10, virtual_channel_id
    3, ocf_flag 1 | master_channel_frame_count 8 | virtual_channel_
    frame_count 8 | secondary_header_flag 1, sync_flag 1,
    packet_order_flag 1, segment_length_id 2, first_header_pointer 11.
    """

    version: int = 0
    spacecraft_id: int = 0
    virtual_channel_id: int = 0
    ocf_flag: int = 0
    master_channel_frame_count: int = 0
    virtual_channel_frame_count: int = 0
    secondary_header_flag: int = 0
    sync_flag: int = 0
    packet_order_flag: int = 0
    segment_length_id: int = 0b11
    first_header_pointer: int = 0

    @classmethod
    def from_bytes(cls, buf: bytes) -> "TMFramePrimaryHeader":
        if len(buf) < TM_FRAME_HEADER_LEN:
            raise ValueError(
                f"TM frame primary header needs {TM_FRAME_HEADER_LEN} bytes, "
                f"got {len(buf)}"
            )
        w0, mcfc, vcfc, w3 = struct.unpack(">HBBH", buf[:TM_FRAME_HEADER_LEN])
        return cls(
            version=(w0 >> 14) & 0x3,
            spacecraft_id=(w0 >> 4) & 0x3FF,
            virtual_channel_id=(w0 >> 1) & 0x7,
            ocf_flag=w0 & 0x1,
            master_channel_frame_count=mcfc,
            virtual_channel_frame_count=vcfc,
            secondary_header_flag=(w3 >> 15) & 0x1,
            sync_flag=(w3 >> 14) & 0x1,
            packet_order_flag=(w3 >> 13) & 0x1,
            segment_length_id=(w3 >> 11) & 0x3,
            first_header_pointer=w3 & 0x7FF,
        )

    def to_bytes(self) -> bytes:
        w0 = (
            ((self.version & 0x3) << 14)
            | ((self.spacecraft_id & 0x3FF) << 4)
            | ((self.virtual_channel_id & 0x7) << 1)
            | (self.ocf_flag & 0x1)
        )
        w3 = (
            ((self.secondary_header_flag & 0x1) << 15)
            | ((self.sync_flag & 0x1) << 14)
            | ((self.packet_order_flag & 0x1) << 13)
            | ((self.segment_length_id & 0x3) << 11)
            | (self.first_header_pointer & 0x7FF)
        )
        return struct.pack(
            ">HBBH",
            w0,
            self.master_channel_frame_count & 0xFF,
            self.virtual_channel_frame_count & 0xFF,
            w3,
        )


def build_frame(
    data_field: bytes,
    *,
    spacecraft_id: int = 0x42,
    virtual_channel_id: int = 0,
    virtual_channel_frame_count: int = 0,
    master_channel_frame_count: int | None = None,
    first_header_pointer: int = 0,
    ocf_flag: int = 0,
) -> bytes:
    """Serialize one TM transfer frame (header + data field) for fixtures."""
    hdr = TMFramePrimaryHeader(
        spacecraft_id=spacecraft_id,
        virtual_channel_id=virtual_channel_id,
        ocf_flag=ocf_flag,
        master_channel_frame_count=(
            virtual_channel_frame_count
            if master_channel_frame_count is None
            else master_channel_frame_count
        )
        & 0xFF,
        virtual_channel_frame_count=virtual_channel_frame_count & 0xFF,
        first_header_pointer=first_header_pointer,
    )
    return hdr.to_bytes() + data_field


def frame_packet_stream(
    packets: bytes,
    *,
    frame_data_len: int = 64,
    spacecraft_id: int = 0x42,
    virtual_channel_id: int = 0,
) -> list[bytes]:
    """Segment a back-to-back packet stream into fixed-size TM frames.

    Packets span frame boundaries (the realistic case); each frame's
    first_header_pointer marks where the first NEW packet header starts
    in its data field (FHP_NO_FIRST_HEADER for pure continuations).
    Trailing space in the last frame is filled with an idle packet if it
    can hold a header, else 0xCA fill bytes under FHP semantics.
    """
    # Pre-compute packet start offsets in the contiguous stream.
    starts = []
    pos = 0
    while pos < len(packets):
        starts.append(pos)
        hdr = CCSDSPrimaryHeader.from_bytes(packets[pos : pos + PRIMARY_HEADER_LEN])
        pos += hdr.packet_length
    frames = []
    vcfc = 0
    for off in range(0, len(packets), frame_data_len):
        chunk = packets[off : off + frame_data_len]
        fhp = next(
            (s - off for s in starts if off <= s < off + len(chunk)),
            FHP_NO_FIRST_HEADER,
        )
        if len(chunk) < frame_data_len:  # pad the final frame
            pad = frame_data_len - len(chunk)
            if pad >= PRIMARY_HEADER_LEN + 1:
                if fhp == FHP_NO_FIRST_HEADER:
                    fhp = len(chunk)  # the idle packet is the first header
                chunk += build_packet(APID_IDLE, 0, b"\xca" * (pad - PRIMARY_HEADER_LEN))
            else:
                chunk += b"\xca" * pad
        frames.append(
            build_frame(
                chunk,
                spacecraft_id=spacecraft_id,
                virtual_channel_id=virtual_channel_id,
                virtual_channel_frame_count=vcfc,
                first_header_pointer=fhp,
            )
        )
        vcfc += 1
    return frames
