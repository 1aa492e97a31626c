"""The pure-Python GIF codec (operators/gif_codec.py): fuzz
roundtrips over the container knobs, the LZW table-overflow and
deferred-clear branches, code-width boundaries, loud decode errors,
the decode dispatch, animation enumeration and local colour tables.
The registered ``multimodal_gif_decode`` query is value-checked with
the rest of the registry in test_oracle_parity.py."""

from __future__ import annotations

import random
import struct

import pytest

from orders_currency_conversion_etl_spark.operators import multimodal as mm
from orders_currency_conversion_etl_spark.operators.gif_codec import (
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    encode_gif,
    encode_gif_animation,
    gif_frames,
)


def _expected_rgb(palette: bytes, indices: bytes) -> bytes:
    return b"".join(palette[3 * i : 3 * i + 3] for i in indices)


def test_gif_roundtrip_fuzz_battery():
    """Random sizes x palette sizes x interlace x loop-extension: the
    decode must reproduce the exact palette-mapped pixels, and the
    header-only gif_dims walk must agree on dimensions."""
    rng = random.Random(20260816)
    for trial in range(80):
        w, h = rng.randint(1, 40), rng.randint(1, 40)
        ncol = rng.choice([2, 3, 4, 5, 16, 100, 256])
        pal = bytes(rng.randrange(256) for _ in range(3 * ncol))
        idx = bytes(rng.randrange(ncol) for _ in range(w * h))
        gif = encode_gif(
            w,
            h,
            idx,
            pal,
            interlace=rng.random() < 0.5,
            loop_extension=rng.random() < 0.3,
        )
        assert mm.gif_dims(gif) == (w, h, "P")
        gw, gh, mode, rgb = decode_gif(gif)
        assert (gw, gh, mode) == (w, h, "RGB")
        assert rgb == _expected_rgb(pal, idx), f"trial {trial}"


def test_gif_lzw_table_overflow_clear_roundtrip():
    """A 96x96 random 256-color image overflows the 4096-entry table;
    the encoder must emit a clear and the decoder rebuild mid-stream."""
    rng = random.Random(1)
    w = h = 96
    pal = bytes(range(256)) * 3
    pal = pal[:768]
    idx = bytes(rng.randrange(256) for _ in range(w * h))
    gif = encode_gif(w, h, idx, pal)
    assert decode_gif(gif)[3] == _expected_rgb(pal, idx)


def test_gif_lzw_deferred_clear_decode():
    """Streams from encoders that DON'T clear on a full table keep
    emitting 12-bit codes against the frozen table — the decoder must
    stop adding entries at 4096 and keep decoding (spec errata;
    produced by real encoders)."""

    def lzw_encode_no_clear(min_code_size: int, indices: bytes) -> bytes:
        clear = 1 << min_code_size
        eoi = clear + 1
        out = bytearray()
        acc = nbits = 0

        def emit(code: int, width: int) -> None:
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        width = min_code_size + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code = eoi + 1
        emit(clear, width)
        run = b""
        for b in indices:
            cand = run + bytes([b])
            if cand in table:
                run = cand
                continue
            emit(table[run], width)
            if next_code < (1 << 12):  # freeze instead of clearing
                table[cand] = next_code
                next_code += 1
                if next_code - 1 == (1 << width) and width < 12:
                    width += 1
            run = bytes([b])
        if run:
            emit(table[run], width)
        emit(eoi, width)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    rng = random.Random(2)
    idx = bytes(rng.randrange(256) for _ in range(120 * 120))
    data = lzw_encode_no_clear(8, idx)
    assert bytes(_lzw_decode(8, data, len(idx))) == idx


def test_gif_lzw_mirrors_encoder_at_width_boundaries():
    """Exhaustive small-alphabet streams around the code-width growth
    points (the classic off-by-one territory)."""
    for mcs in (2, 3, 8):
        ncol = 1 << mcs
        for n in (1, 2, ncol, ncol + 1, 5 * ncol, 997):
            rng = random.Random(n * mcs)
            idx = bytes(rng.randrange(ncol) for _ in range(n))
            assert bytes(_lzw_decode(mcs, _lzw_encode(mcs, idx), n)) == idx


def test_gif_decode_error_paths_are_loud():
    pal4 = b"rgbRGBxyzXYZ"
    gif = encode_gif(3, 2, bytes([0, 1, 2, 3, 0, 1]), pal4)
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOPE" + gif[4:])
    # trailer with no image frame
    no_frame = gif[:13] + gif[13 : 13 + 12] + b"\x3b"
    with pytest.raises(ValueError, match="no image frame"):
        decode_gif(no_frame)
    # truncated data sub-block
    with pytest.raises(ValueError, match="truncated|ended"):
        decode_gif(gif[:-4])
    # pixel count mismatch: descriptor claims a bigger area
    bigger = bytearray(gif)
    off = gif.index(b"\x2c")  # image descriptor
    struct.pack_into("<H", bigger, off + 5, 7)  # width 3 -> 7
    with pytest.raises(ValueError):
        decode_gif(bytes(bigger))


def test_gif_dispatch_reaches_pure_codec():
    """decode_image_pixels routes GIF bytes to the pure codec when PIL
    is absent (this container) instead of raising the PIL gate."""
    pal = b"abcdefghijkl"
    idx = bytes([p % 4 for p in range(8 * 5)])
    gif = encode_gif(8, 5, idx, pal, interlace=True)
    w, h, mode, rgb = mm.decode_image_pixels(gif)
    assert (w, h) == (8, 5) and rgb == _expected_rgb(pal, idx)


def test_gif_animation_enumeration_roundtrip():
    """gif_frames walks every frame's GCE + descriptor and SEEKS over
    the LZW data (header tier, no decode); decode_gif still decodes
    the FIRST frame of an animation."""
    pal = b"abcdefghijkl"  # 4 colors
    f0 = (6, 4, bytes([p % 4 for p in range(24)]))
    f1 = (4, 4, bytes([3 - (p % 4) for p in range(16)]))
    f2 = (6, 2, bytes([1] * 12))
    gif = encode_gif_animation([f0, f1, f2], pal, delays_cs=[10, 20, 300])
    frames = gif_frames(gif)
    assert [(f["width"], f["height"]) for f in frames] == [(6, 4), (4, 4), (6, 2)]
    assert [f["delay_cs"] for f in frames] == [10, 20, 300]
    assert all(f["local_colors"] == 0 and not f["interlaced"] for f in frames)
    # first-frame decode agrees with the single-frame codec's pixels
    w, h, mode, rgb = decode_gif(gif)
    assert (w, h, mode) == (6, 4, "RGB")
    assert rgb == b"".join(pal[3 * i : 3 * i + 3] for i in f0[2])
    # single-frame streams enumerate as one frame with default GCE
    single = encode_gif(5, 3, bytes([0] * 15), pal, interlace=True)
    (only,) = gif_frames(single)
    assert (only["width"], only["height"], only["interlaced"]) == (5, 3, True)
    assert only["delay_cs"] == 0 and only["transparent_index"] is None
    # truncated mid-frame is loud
    with pytest.raises(ValueError, match="truncated|ended"):
        gif_frames(gif[:-6])


def test_gif_local_color_table_overrides_global():
    """A frame carrying a LOCAL color table maps its pixels through it,
    not the global one — hand-built stream (the encoder only writes
    global tables, so this branch needs an independent fixture)."""
    w, h = 4, 2
    idx = bytes([0, 1, 2, 3, 3, 2, 1, 0])
    global_pal = b"GGGgggXXXxxx"  # 4 entries — must NOT be used
    local_pal = b"abcdefghijkl"
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | 1)  # GCT present, 4 entries
    out += b"\x00\x00" + global_pal
    out.append(0x2C)
    out += struct.pack("<HHHH", 0, 0, w, h)
    out.append(0x80 | 1)  # LOCAL table present, 4 entries
    out += local_pal
    out.append(2)  # min code size
    lzw = _lzw_encode(2, idx)
    out += bytes([len(lzw)]) + lzw + b"\x00\x3b"
    gw, gh, mode, rgb = decode_gif(bytes(out))
    assert (gw, gh, mode) == (w, h, "RGB")
    assert rgb == b"".join(local_pal[3 * i : 3 * i + 3] for i in idx)
    (frame,) = gif_frames(bytes(out))
    assert frame["local_colors"] == 4
