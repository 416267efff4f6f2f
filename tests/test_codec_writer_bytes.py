"""Byte pins for the public image writers in
ssp_spark.operators.multimodal.

The round-trip tests prove that a writer and the decoder agree; they
cannot see a writer change its bytes in a way the decoder still reads
(another Huffman code choice, a different chunk order, a moved GCE).
Each case below writes fixed inputs and checks the sha256 of the file,
so refactoring the shared segment, chunk and block writers must keep
every stream byte-identical. The PNG pins include zlib's default-level
deflate output, so a zlib build that compresses differently changes
them too."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from ssp_spark.operators import multimodal as mm


def _rgb(h: int, w: int):
    y, x, c = np.indices((h, w, 3))
    return ((37 * y + 11 * x + 91 * c + 5 * x * y) % 256).astype(np.uint8)


def _indices(h: int, w: int, n: int):
    y, x = np.indices((h, w))
    return ((7 * y + 3 * x + x * y) % n).astype(np.uint8)


def _palette(n: int):
    i = np.arange(n, dtype=np.int64)
    return np.stack([i * 5 % 256, i * 29 % 256, 255 - i], axis=1).astype(np.uint8)


def _gray16(h: int, w: int):
    y, x = np.indices((h, w))
    return ((y * 4099 + x * 771 + x * y * 13) % 65536).astype(np.uint16)


def _coeffs(by: int, bx: int, seed: int):
    """Quantized blocks with negative DCs, short AC runs, a run > 15
    (ZRL) and a coefficient at zigzag position 63 (no EOB)."""
    c = np.zeros((by, bx, 8, 8), dtype=np.int64)
    for b in range(by):
        for x in range(bx):
            k = seed + 5 * b + 3 * x
            c[b, x, 0, 0] = (k * 37) % 201 - 100
            c[b, x, 0, 1] = (k % 7) - 3
            c[b, x, 2, 1] = (k * 11) % 41 - 20
            if k % 3 == 0:
                c[b, x, 4, 4] = -(k % 9) - 1  # zigzag 40: run past 15
            if k % 4 == 1:
                c[b, x, 7, 7] = (k % 5) + 1  # zigzag 63: block ends w/o EOB
    return c


_QTABLE = (np.arange(64, dtype=np.int64).reshape(8, 8) % 13) + 2

CASES = {
    **{
        f"png_filter{ft}": lambda ft=ft: mm.encode_png(_rgb(6, 5), filters=[ft] * 6)
        for ft in range(5)
    },
    "png_filters_cycling": lambda: mm.encode_png(_rgb(9, 7), filters=[r % 5 for r in range(9)]),
    "png_default": lambda: mm.encode_png(_rgb(3, 4)),
    "png_palette_cycling": lambda: mm.encode_png_palette(
        _indices(8, 11, 20), _palette(20), filters=[r % 5 for r in range(8)]
    ),
    "png_palette_default": lambda: mm.encode_png_palette(_indices(5, 3, 2), _palette(2)),
    "png_gray16_adam7_default": lambda: mm.encode_png_gray16_adam7(_gray16(11, 13)),
    "png_gray16_adam7_filters": lambda: mm.encode_png_gray16_adam7(
        _gray16(9, 10), filters=[(3 * i + 1) % 5 for i in range(40)]
    ),
    "jpeg_gray_p8": lambda: mm.encode_jpeg_gray_coeffs(_coeffs(3, 4, 1)),
    "jpeg_gray_p8_qtable": lambda: mm.encode_jpeg_gray_coeffs(_coeffs(2, 2, 7), qtable=_QTABLE),
    "jpeg_gray_p12": lambda: mm.encode_jpeg_gray_coeffs(_coeffs(2, 3, 4), precision=12),
    "jpeg_gray_progressive": lambda: mm.encode_jpeg_gray_coeffs_progressive(_coeffs(3, 4, 1)),
    "jpeg_gray_progressive_qtable": lambda: mm.encode_jpeg_gray_coeffs_progressive(
        _coeffs(2, 5, 2), qtable=_QTABLE
    ),
    "jpeg_ycbcr420": lambda: mm.encode_jpeg_ycbcr420_coeffs(
        _coeffs(4, 6, 0), _coeffs(2, 3, 9), _coeffs(2, 3, 17)
    ),
    "gif_plain": lambda: mm.encode_gif(_indices(9, 14, 5), _palette(5)),
    "gif_interlaced": lambda: mm.encode_gif(_indices(21, 17, 37), _palette(37), interlace=True),
    "gif_transparent": lambda: mm.encode_gif(_indices(8, 8, 4), _palette(4), transparent=2),
    "gif_offset_frame": lambda: mm.encode_gif(
        _indices(6, 9, 16), _palette(16), transparent=0, left=3, top=5,
        screen=(20, 15), background=7,
    ),
    "gif_anim": lambda: mm.encode_gif_anim(
        [_indices(8, 12, 9), _indices(11, 7, 9), _indices(5, 5, 9)], _palette(9),
        [3, 0, 250], loop=2,
    ),
}

EXPECTED = {
    "gif_anim": "da9fd3cc981207d064f2be6e0c89a904004960251f0440fe3a94f51b7450ef15",
    "gif_interlaced": "597c8726d90898a185078235d42886708baad13f5bab306a964ff6d58d9918f2",
    "gif_offset_frame": "08355e24d7b6d7a914b8bfbb007f9269a9e4f2ffaab2860294a9f87cda2f159d",
    "gif_plain": "a941920fc5c3eb612ea15a2515957bf5312b509618c7bb0a52bcf2dc3d3fbf67",
    "gif_transparent": "0424ad0110adf069cf1e63f0a01236046077dafdbb6daa14ff8c7d9f3dbbaf8e",
    "jpeg_gray_p12": "09dff9df4cb98685e0d40781d4262633e26e7768c009f72637504e91c824bac3",
    "jpeg_gray_p8": "7e6edba10e3bd53c2e8b6bddec9dfe38b9223fe394e1bd6fbf08b9b50bd157e5",
    "jpeg_gray_p8_qtable": "9678a3282f2301ebffb10a0c59e113987a9a4f1e2478e21e97d4926499a030f1",
    "jpeg_gray_progressive": "e91594d948fdf33f11b01440ff5ca09a711ccf41359620371e1364dde1993ac2",
    "jpeg_gray_progressive_qtable": "e264ee94b525eed86b1675a8f31b668f3db7b2d2380ccd2c934d12d0245508a2",
    "jpeg_ycbcr420": "ce0ad3d9a677b918ade3e65e556e26e5f6062aa61fc5e8d8b79505f2e6f0948c",
    "png_default": "ad49e53b2fed093f3d561672b75caba4521322a7c12556dd9180a14b5eefce35",
    "png_filter0": "79fc505d50c83f612794b2d5a36e42b5b8006cdd60d3445e2957f9f185ad8639",
    "png_filter1": "7dde083fab2a95c9b8d3aa3646c419fea6057554c9d69cb3c34739328dd261a3",
    "png_filter2": "8ebea5419389c7a47dfc5dbf5b14c1878b1515d807bcf6843c75c2db4a604377",
    "png_filter3": "420de3a78228c0b4511919d628bb1cdd3b7dd4294ff55b283e3862da3a9c9291",
    "png_filter4": "da4bd6cacfcb1c38c8946c49bf36d2d3fae5d137adcd12c9fe3edb29f137248d",
    "png_filters_cycling": "db291653e38dadfd899c5af96fd090a953a72da6d64b43eb116de563ad1b07fe",
    "png_gray16_adam7_default": "b453110aadb784f9c6438e71110ec6440521aa1eb4da9441746af32898db4c9e",
    "png_gray16_adam7_filters": "27d5d7fec4412696924e9be300a8197e3c0623c07cabef36e0c241f1c871f61f",
    "png_palette_cycling": "35b0759bb6dd566eca7862279abdcf416bfef5ef21c839652bc16df682e0c375",
    "png_palette_default": "b52b82d978305a93436c7b342cdd399d08e9e1a46a905fc0ff320018d0d1bec0",
}


def test_every_writer_case_is_pinned():
    assert sorted(EXPECTED) == sorted(CASES)


@pytest.mark.parametrize("name", sorted(CASES))
def test_writer_bytes_pinned(name):
    data = CASES[name]()
    assert hashlib.sha256(data).hexdigest() == EXPECTED[name]
