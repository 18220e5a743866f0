"""Property-based invariants (hypothesis) for the binary codecs.

Driver-side pure-Python properties — no Spark session needed, so these
run in milliseconds and explore the corners the golden tests pin:
header bit-packing, frame segmentation, packing math.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from mission_data_pipeline_spark.models.ccsds import (
    APID_IDLE,
    PRIMARY_HEADER_LEN,
    CCSDSPrimaryHeader,
    TMFramePrimaryHeader,
    build_packet,
    frame_packet_stream,
)


@given(
    version=st.integers(0, 7),
    packet_type=st.integers(0, 1),
    sec_hdr_flag=st.integers(0, 1),
    apid=st.integers(0, 0x7FF),
    seq_flags=st.integers(0, 3),
    seq_count=st.integers(0, 0x3FFF),
    data_length=st.integers(0, 0xFFFF),
)
def test_ccsds_header_roundtrip(**fields):
    hdr = CCSDSPrimaryHeader(**fields)
    assert CCSDSPrimaryHeader.from_bytes(hdr.to_bytes()) == hdr


@given(
    version=st.integers(0, 3),
    spacecraft_id=st.integers(0, 0x3FF),
    virtual_channel_id=st.integers(0, 7),
    ocf_flag=st.integers(0, 1),
    master_channel_frame_count=st.integers(0, 0xFF),
    virtual_channel_frame_count=st.integers(0, 0xFF),
    secondary_header_flag=st.integers(0, 1),
    sync_flag=st.integers(0, 1),
    packet_order_flag=st.integers(0, 1),
    segment_length_id=st.integers(0, 3),
    first_header_pointer=st.integers(0, 0x7FF),
)
def test_tm_frame_header_roundtrip(**fields):
    hdr = TMFramePrimaryHeader(**fields)
    assert TMFramePrimaryHeader.from_bytes(hdr.to_bytes()) == hdr


@settings(max_examples=50, deadline=None)
@given(
    sizes=st.lists(st.integers(1, 120), min_size=1, max_size=30),
    frame_data_len=st.integers(16, 96),
)
def test_frame_segmentation_preserves_every_packet(sizes, frame_data_len):
    """Segmenting any packet stream into any frame size loses nothing:
    walking the frames' data fields end-to-end recovers every packet
    byte-for-byte (pure-Python mirror of the frames_to_packets walk)."""
    packets = [
        build_packet(0x100 + (i % 5), i, bytes([(i * 7 + j) % 256 for j in range(n)]))
        for i, n in enumerate(sizes)
    ]
    stream = b"".join(packets)
    frames = frame_packet_stream(stream, frame_data_len=frame_data_len)
    # frames carry exactly the stream plus padding
    data = b"".join(f[6:] for f in frames)
    assert data[: len(stream)] == stream
    # padding is a well-formed idle packet or short fill
    pad = data[len(stream):]
    if len(pad) >= PRIMARY_HEADER_LEN + 1:
        hdr = CCSDSPrimaryHeader.from_bytes(pad[:PRIMARY_HEADER_LEN])
        assert hdr.apid == APID_IDLE
        assert hdr.packet_length == len(pad)
    # every frame's first_header_pointer points at a real packet header
    starts, pos = set(), 0
    for p in packets:
        starts.add(pos)
        pos += len(p)
    starts.add(len(stream))  # idle pad start
    for i, f in enumerate(frames):
        fhp = TMFramePrimaryHeader.from_bytes(f).first_header_pointer
        if fhp != 0x7FF:
            assert i * frame_data_len + fhp in starts


# ---------------------------------------------------------------------------
# WARC framing (sources/warc.py): Content-Length framing must round-trip
# arbitrary payloads — including payloads that CONTAIN record separators
# or "WARC/" magic bytes — and report clean parses with zero errors.
# ---------------------------------------------------------------------------

from mission_data_pipeline_spark.sources.warc import (  # noqa: E402
    build_warc_record,
    parse_warc_buffer,
)


@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=200), min_size=0, max_size=8
    )
)
@settings(max_examples=200)
def test_warc_roundtrip_arbitrary_payloads(payloads):
    buf = b"".join(
        build_warc_record(p, record_id=f"<urn:p:{i}>")
        for i, p in enumerate(payloads)
    )
    recs, errors = parse_warc_buffer(buf)
    assert errors == 0
    assert [r["payload"] for r in recs] == payloads


@given(
    payload=st.binary(min_size=0, max_size=200),
    cut=st.integers(min_value=1, max_value=50),
)
@settings(max_examples=100)
def test_warc_truncation_never_fabricates_records(payload, cut):
    full = build_warc_record(payload)
    recs, errors = parse_warc_buffer(full[: max(0, len(full) - cut)])
    # a truncated single record either parses to nothing or (when only
    # trailing separators were cut) to the one intact record — never junk
    assert errors <= 1
    assert all(r["payload"] == payload for r in recs)


# ---------------------------------------------------------------------------
# chunk_tokens (operators/packing.py): pure-python model of the chunk
# boundary math the Spark expressions implement.
# ---------------------------------------------------------------------------


@given(
    n_tokens=st.integers(1, 300),
    size=st.integers(1, 64),
    overlap_frac=st.floats(0, 0.99),
)
@settings(max_examples=200)
def test_chunk_boundary_math_covers_every_token(n_tokens, size, overlap_frac):
    overlap = min(int(size * overlap_frac), size - 1)
    stride = size - overlap
    starts = list(range(0, n_tokens, stride))
    # every token index is inside at least one [start, start+size) window
    covered = set()
    for s in starts:
        covered.update(range(s, min(s + size, n_tokens)))
    assert covered == set(range(n_tokens))
    # consecutive full chunks overlap by exactly `overlap` tokens
    for a, b in zip(starts, starts[1:]):
        assert a + size - b == overlap or a + size >= n_tokens


# ---------------------------------------------------------------------------
# normalize_text (operators/text.py): pure-python model of the same
# regex chain — normalization must be idempotent (a second pass is a
# no-op), which is what makes it safe to run at any pipeline stage.
# ---------------------------------------------------------------------------

import re as _re  # noqa: E402


def _normalize_model(s: str) -> str:
    s = _re.sub(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "", s)
    s = _re.sub(r"\r\n?", "\n", s)
    s = _re.sub(r"[ \t]+", " ", s)
    s = _re.sub(r" ?\n ?", "\n", s)
    return s.strip(" ")  # Spark F.trim strips spaces only


@given(
    st.text(
        alphabet=st.characters(max_codepoint=0x2FF),
        min_size=0,
        max_size=120,
    )
)
@settings(max_examples=300)
def test_normalize_model_is_idempotent(s):
    once = _normalize_model(s)
    assert _normalize_model(once) == once
    assert "\r" not in once and "\t" not in once and "  " not in once


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    c=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
    data=st.data(),
)
def test_png_pixel_roundtrip_property(h, w, c, seed, data):
    """decode(encode(pixels, any per-row filter mix)) == pixels,
    byte-exactly, for every shape/channel-count/filter combination."""
    import numpy as np

    from mission_data_pipeline_spark.functions.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h)
    )
    back = decode_png_pixels(encode_png(px, filters=filters))
    assert back is not None and np.array_equal(back, px)


@settings(max_examples=60, deadline=None)
@given(
    n=st.integers(1, 200),
    ch=st.sampled_from([1, 2]),
    rate=st.integers(1, 192000),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_sample_roundtrip_property(n, ch, rate, seed):
    """decode(encode(samples)) recovers every int16 sample and the rate
    for any frame count / channel count / sample rate."""
    import numpy as np

    from mission_data_pipeline_spark.functions.multimodal import (
        decode_wav_samples,
        encode_wav,
    )

    rng = np.random.default_rng(seed)
    s = rng.integers(-32768, 32768, size=(n, ch)).astype("<i2")
    dec = decode_wav_samples(encode_wav(s, rate=rate))
    assert dec is not None
    back, got_rate = dec
    assert got_rate == rate
    assert np.array_equal(back, s.astype("int32"))


@settings(max_examples=80, deadline=None)
@given(payload=st.binary(max_size=300))
def test_codec_decoders_never_raise_on_garbage(payload):
    """Arbitrary bytes must yield a sentinel (None), never an
    exception — one dirty row must not fail an Arrow batch."""
    from mission_data_pipeline_spark.functions.multimodal import (
        decode_png_pixels,
        decode_wav_samples,
        probe_audio_meta,
        probe_image_meta,
        probe_video_meta,
    )

    assert decode_png_pixels(payload) is None or payload[:8] == b"\x89PNG\r\n\x1a\n"
    decode_wav_samples(payload)  # must not raise
    probe_image_meta(payload)
    probe_audio_meta(payload)
    probe_video_meta(payload)


@settings(max_examples=25, deadline=None)
@given(
    n_packets=st.integers(5, 40),
    payload_lens=st.data(),
    corruptions=st.lists(
        st.tuples(st.integers(0, 39), st.binary(min_size=1, max_size=30)),
        max_size=3,
    ),
    split_size=st.sampled_from([64, 256, 1024, 10**9]),
)
def test_binary_scan_soundness_properties(
    n_packets, payload_lens, corruptions, split_size
):
    """Split-range scan contract under injected garbage, any split size:

    - CLEAN stream: exactly-once complete recovery, zero phantoms, at
      every split size (the multi-range exactly-once invariant).
    - CORRUPTED stream: no packet is ever emitted twice, and every
      packet BEFORE the first corruption is recovered byte-exactly.
      Phantoms after a corruption site are permitted: the contiguous
      walk deliberately trusts a plausible header (version+length
      check only — reference-parity semantics; only RANGE STARTS pay
      the full chain-confirmation), so garbage whose first bytes fake
      a plausible header can absorb following bytes. The damage is
      bounded and local; frame_sync mode exists for streams where
      that trade is wrong.
    """
    import os
    import tempfile

    from mission_data_pipeline_spark.models.ccsds import build_packet
    from mission_data_pipeline_spark.sources.binary import (
        _scan_range,
        plan_ranges,
    )

    pkts = [
        build_packet(
            0x155,
            i,
            bytes([(i * 13 + j) % 256 for j in range(
                payload_lens.draw(st.integers(1, 40), label=f"len{i}")
            )]),
        )
        for i in range(n_packets)
    ]
    parts = []
    corrupt_at = {pos % (n_packets + 1): blob for pos, blob in corruptions}
    first_corrupt = min(corrupt_at, default=n_packets)
    for i, p in enumerate(pkts):
        if i in corrupt_at:
            parts.append(corrupt_at[i])
        parts.append(p)
    stream = b"".join(parts)
    valid = {bytes(p) for p in pkts}

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "s.bin")
        with open(path, "wb") as f:
            f.write(stream)

        def packets(split):
            out = []
            for r in plan_ranges(path, split_size=split):
                b = _scan_range(r)
                for hdr_off, dl in zip(
                    b.column("file_offset").to_pylist(),
                    b.column("data_length").to_pylist(),
                ):
                    out.append(stream[hdr_off : hdr_off + 6 + dl + 1])
            return out

        seen = packets(split_size)
        single = packets(10**9)
    assert len(seen) == len(set(seen))  # never emitted twice
    if not corrupt_at:
        assert sorted(seen) == sorted(valid)  # exactly-once complete
        assert len(seen) == n_packets
    else:
        # the single-range walk is contiguous from offset 0, so every
        # packet BEFORE the first corruption is always recovered there
        # (a multi-range scan may additionally skip a packet whose
        # range-start confirmation window the corruption pollutes —
        # the documented skip-not-phantom trade)
        prefix = {bytes(p) for p in pkts[:first_corrupt]}
        assert prefix <= set(single)


@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    quality=st.integers(30, 100),
    channels=st.sampled_from([1, 3]),
    subsample=st.sampled_from([(1, 1), (2, 1), (2, 2)]),
    restart=st.integers(0, 4),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_jpeg_roundtrip_never_catastrophic(
    h, w, quality, channels, subsample, restart, seed
):
    """Property: for ANY image, decode(encode(x)) has the right shape
    and bounded error (lossy, never wrong-shaped, never an exception)."""
    import numpy as np

    from mission_data_pipeline_spark.functions.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w) if channels == 1 else (h, w, 3)
    # smooth-ish content: JPEG error bounds are meaningful on smooth
    # images; pure noise legitimately distorts more at low quality
    base = rng.integers(0, 256, size=(1, 1) if channels == 1 else (1, 1, 3))
    grad = np.indices((h, w)).sum(axis=0) % 64
    img = (base + (grad[..., None] if channels == 3 else grad)) % 256
    img = img.astype(np.uint8).reshape(shape)
    enc = encode_jpeg(
        img,
        quality=quality,
        subsample=subsample if channels == 3 else (1, 1),
        restart_interval=restart,
    )
    dec = decode_jpeg_pixels(enc)
    assert dec is not None
    assert dec.shape == (h, w, channels)
    err = np.abs(
        dec.astype(int).reshape(h, w, channels)
        - img.astype(int).reshape(h, w, channels)
    )
    assert err.mean() < 40  # lossy bound; catastrophic decode would blow this


@given(data=st.binary(min_size=0, max_size=400))
@settings(max_examples=300, deadline=None)
def test_jpeg_decoder_never_raises_on_garbage(data):
    """Property: arbitrary bytes (with and without a JPEG signature)
    produce None or a valid array — never an exception."""
    import numpy as np

    from mission_data_pipeline_spark.functions.jpeg import decode_jpeg_pixels

    for payload in (data, b"\xff\xd8" + data):
        out = decode_jpeg_pixels(payload)
        assert out is None or isinstance(out, np.ndarray)


@given(
    cut=st.integers(1, 200),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_jpeg_truncation_never_raises(cut, seed):
    """Property: any prefix of a valid JPEG is a sentinel, not a crash."""
    import numpy as np

    from mission_data_pipeline_spark.functions.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(12, 14, 3)).astype(np.uint8)
    enc = encode_jpeg(img, quality=70)
    out = decode_jpeg_pixels(enc[: max(0, len(enc) - cut)])
    assert out is None or out.shape == (12, 14, 3)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 600),
    ch=st.integers(1, 3),
    bits=st.sampled_from([8, 16]),
    order=st.integers(0, 4),
    block=st.sampled_from([64, 256, 4096]),
    seed=st.integers(0, 2**31 - 1),
)
def test_flac_lossless_roundtrip_property(n, ch, bits, order, block, seed):
    """Any sample matrix within range round-trips FLAC bit-exactly for
    every fixed-predictor order, block size, and channel count."""
    import numpy as np

    from mission_data_pipeline_spark.functions.flac import (
        decode_flac_samples,
        encode_flac,
    )

    rng = np.random.default_rng(seed)
    lim = 1 << (bits - 1)
    s = rng.integers(-lim, lim, size=(n, ch)).astype("i8")
    arr, rate = decode_flac_samples(
        encode_flac(s, rate=8000, bits=bits, block_size=block, order=order)
    )
    assert rate == 8000 and arr.shape == (n, ch) and (arr == s).all()


@settings(max_examples=60, deadline=None)
@given(payload=st.binary(max_size=300))
def test_flac_and_avi_audio_decoders_never_raise_on_garbage(payload):
    from mission_data_pipeline_spark.functions.avi import decode_avi_audio
    from mission_data_pipeline_spark.functions.flac import (
        decode_flac_samples,
        probe_flac_meta,
    )

    decode_flac_samples(payload)
    decode_avi_audio(payload)
    probe_flac_meta(payload)
    # prefixing the magic must not crash either (truncated/garbage body)
    decode_flac_samples(b"fLaC" + payload)
    decode_avi_audio(b"RIFF\x00\x01\x00\x00AVI " + payload)


@settings(max_examples=30, deadline=None)
@given(
    cut=st.integers(4, 10_000),
    seed=st.integers(0, 2**31 - 1),
)
def test_flac_truncation_degrades_to_whole_frames(cut, seed):
    import numpy as np

    from mission_data_pipeline_spark.functions.flac import (
        decode_flac_samples,
        encode_flac,
    )

    rng = np.random.default_rng(seed)
    s = rng.integers(-2000, 2000, size=(1000, 1)).astype("i8")
    fl = encode_flac(s, block_size=128)
    dec = decode_flac_samples(fl[: min(cut, len(fl))])
    if dec is not None:
        arr, _ = dec
        k = arr.shape[0]
        assert k % 128 == 0 or k == 1000
        assert (arr == s[:k]).all()  # never wrong samples, only fewer


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(8, 24),
    w=st.integers(9, 30),
    seed=st.integers(0, 2**31 - 1),
)
def test_image_dhash_invariants(h, w, seed):
    """dHash is deterministic, identical for identical pixels, in signed
    64-bit range, and independent of PNG filter choices (the hash sees
    pixels, not encoding)."""
    import numpy as np

    from mission_data_pipeline_spark.functions.multimodal import encode_png

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)

    # replicate the operator's pure computation on raw pixels
    def dhash_of(pixels):
        g = (
            299 * pixels[:, :, 0].astype(np.int64)
            + 587 * pixels[:, :, 1]
            + 114 * pixels[:, :, 2]
        ) // 1000
        ys = (np.arange(8) * pixels.shape[0]) // 8
        xs = (np.arange(9) * pixels.shape[1]) // 9
        gg = g[ys[:, None], xs[None, :]]
        bits = gg[:, 1:] > gg[:, :-1]
        val = 0
        for ty in range(8):
            for tx in range(8):
                if bits[ty, tx]:
                    val |= 1 << (ty * 8 + tx)
        return val - (1 << 64) if val >= (1 << 63) else val

    expect = dhash_of(px)
    assert -(1 << 63) <= expect < (1 << 63)
    # PNG encode/decode is lossless, so the operator-side decode path
    # must land on the same pixels and therefore the same hash
    from mission_data_pipeline_spark.functions.multimodal import (
        decode_png_pixels,
    )

    back = decode_png_pixels(encode_png(px))
    assert (back == px).all()
    assert dhash_of(back) == expect


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    ncolors_pow=st.integers(1, 8),
    interlace=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_lzw_roundtrip_property(h, w, ncolors_pow, interlace, seed):
    """Any palette image round-trips the real LZW bit stream exactly,
    plain or interlaced, at any power-of-two palette size."""
    import numpy as np

    from mission_data_pipeline_spark.functions.gif_bmp import (
        decode_gif_pixels,
        encode_gif,
    )

    rng = np.random.default_rng(seed)
    n = 1 << ncolors_pow
    pal = rng.integers(0, 256, size=(n, 3)).astype(np.uint8)
    idx = rng.integers(0, n, size=(h, w)).astype(np.uint8)
    got = decode_gif_pixels(encode_gif(idx, pal, interlace=interlace))
    assert got is not None and (got == pal[idx]).all()


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 40), w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_roundtrip_property(h, w, seed):
    import numpy as np

    from mission_data_pipeline_spark.functions.gif_bmp import (
        decode_bmp_pixels,
        encode_bmp,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    got = decode_bmp_pixels(encode_bmp(px))
    assert got is not None and (got == px).all()


@settings(max_examples=60, deadline=None)
@given(payload=st.binary(max_size=300))
def test_bmp_gif_rs_decoders_never_raise_on_garbage(payload):
    from mission_data_pipeline_spark.functions.gif_bmp import (
        decode_bmp_pixels,
        decode_gif_pixels,
    )
    from mission_data_pipeline_spark.functions.reed_solomon import rs_decode

    decode_bmp_pixels(payload)
    decode_gif_pixels(payload)
    decode_bmp_pixels(b"BM" + payload)
    decode_gif_pixels(b"GIF89a" + payload)
    rs_decode(payload)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 24), w=st.integers(1, 24),
    spp=st.sampled_from([1, 3]),
    comp=st.sampled_from(["none", "packbits"]),
    big_endian=st.booleans(),
    rps=st.integers(1, 30),
    seed=st.integers(0, 2**31 - 1),
)
def test_tiff_roundtrip_property(h, w, spp, comp, big_endian, rps, seed):
    """Any 8-bit gray/RGB image round-trips the baseline-TIFF encoder/
    decoder exactly — both byte orders, any strip height, PackBits or
    raw, and WhiteIsZero inversion for grayscale."""
    import numpy as np

    from mission_data_pipeline_spark.functions.tiff import (
        decode_tiff_pixels,
        encode_tiff,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, spp)).astype(np.uint8)
    photo = (0 if seed % 2 else 1) if spp == 1 else 2
    got = decode_tiff_pixels(
        encode_tiff(
            px, compression=comp, photometric=photo,
            rows_per_strip=rps, big_endian=big_endian,
        )
    )
    assert got is not None and got.shape == px.shape and (got == px).all()


@settings(max_examples=60, deadline=None)
@given(payload=st.binary(max_size=300))
def test_tiff_decoder_never_raises_on_garbage(payload):
    from mission_data_pipeline_spark.functions.tiff import decode_tiff_pixels

    for p in (payload, b"II*\x00" + payload, b"MM\x00*" + payload):
        out = decode_tiff_pixels(p)
        assert out is None or out.ndim == 3


@settings(max_examples=60, deadline=None)
@given(data=st.binary(max_size=600))
def test_packbits_roundtrip_property(data):
    from mission_data_pipeline_spark.functions.tiff import (
        packbits_decode,
        packbits_encode,
    )

    assert packbits_decode(packbits_encode(data), len(data)) == data
