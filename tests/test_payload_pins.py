"""Byte pins for every payload attacher.

Each attacher turns a fixed 60-row text frame into container payloads;
the md5 over its sorted ``(doc_id, payload)`` pairs must match the digest
recorded below. The frame mixes empty, NULL, short and long texts
(ASCII and multi-byte utf-8) and ids 0..59, which cover every id
residue the attachers branch on (mod 2, 3, 4, 5, 6 and 8). The contract
rows only see statistics derived from these bytes; this test pins the
bytes themselves.
"""

from __future__ import annotations

import hashlib

import pytest

from polars_sim_spark.operators import multimodal as mm

_LENGTHS = (
    0, 1, 2, 3, 5, 8, 17, 35, 36, 63, 64, 65, 100, 191, 192, 255, 256,
    300, 383, 384, 500, 767, 768, 1000, 1536, 1600,
)


def _text(i: int) -> str | None:
    if i == 13:
        return None
    n = _LENGTHS[i % len(_LENGTHS)]
    alphabet = "abcdefghijklmnopqrstuvwxyz ABCXYZ0123456789.,;!?"
    if i % 7 == 0:
        alphabet += "éßжλ€"
    x = 1_000_003 * (i + 1)
    out = []
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        out.append(alphabet[(x >> 33) % len(alphabet)])
    return "".join(out)


# md5 of the sorted (doc_id, payload) pairs, recorded before the
# attachers were folded into one codec table.
PINS = {
    "ppm": "95ec2434184f0ae435ed3a2d4709ceaa",
    "bmp": "55eaa1cd9dbcfb44ebb21fd0f2547454",
    "gif": "90f3b60bc19a0bde1aff4dfa84daab5b",
    "png": "efb3d5fffd2e7af919945e50f3792a68",
    "png_adam7": "a7231c9738d4603df639e2409f22ce6a",
    "png_palette": "3be8e5876b753059134090bae150f6c2",
    "png16": "ace291f2d79d5fea8da84d28f53b623a",
    "png_rgba": "d3f3a852209a85810a8291fc81903154",
    "bmp8": "c2a9a002db67a46d36f93ae0be8e296c",
    "tiff": "93e3d1d6cfc87048e7580dce35f4d1de",
    "multiformat": "a3644ec296aa3e40ac8d55880eeeb204",
    "jpeg": "29a022886ab482c7d245a205c9524c4c",
    "jpeg_color": "3060db488b36923a83bba8fa434521ed",
    "jpeg_cmyk": "14a6d5e598068dafb0ff79fde4c9cbd4",
    "jpeg_restart": "1bb39d2e50e6d338f0ad89ee78978897",
    "jpeg_progressive": "6e650bcb785209990e3f425fd946b428",
    "jpeg420": "587c005831aa7ddeb7772dab532abe75",
    "jpeg420_progressive": "7312b0075431a738bc5fd026abb5e4e0",
    "jpeg422": "b2e71648df50ee874f97f0f815968b22",
    "media": "68682ad4a4857205db5ec4fa67f68b14",
    "mp3_pcm": "e665770374dbdb032867c8eb7680db67",
    "flac_pcm": "e3324f06fb6570990174bb9b011e7bc3",
    "flac24": "b696dd313af9c8a949426aabae721211",
    "wav8": "589699ea7e4a210cc25d37e2b8c097d2",
    "flac_stereo": "9aa64bd632ac4d5d573d9d96301cdb8d",
    "audio_twin": "0495d1445fdddbcef2fdb62550713df3",
    "audio_mp3_twin": "3f75389605bd4245ecadb46363c15f91",
    "video_pixel_twin": "874ef9803097976b83b884b2a8e8a912",
}

@pytest.fixture(scope="module")
def pin_docs(spark):
    return spark.createDataFrame(
        [(i, _text(i)) for i in range(60)], "doc_id long, text string"
    )


def _digest(rows) -> str:
    h = hashlib.md5()
    for doc_id, payload in sorted((int(r[0]), bytes(r[1])) for r in rows):
        h.update(b"%d:%d:" % (doc_id, len(payload)) + payload)
    return h.hexdigest()


@pytest.mark.parametrize("codec", sorted(PINS))
def test_attacher_bytes_pinned(pin_docs, codec):
    out = mm.attach_payload(pin_docs, codec).select("doc_id", "payload").collect()
    assert _digest(out) == PINS[codec]
