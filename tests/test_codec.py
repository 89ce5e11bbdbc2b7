"""The codec core shared by the image and audio codecs (``llm/_codec.py``).

- LZW interop: ``tests/golden/tiff_lzw.json`` holds LZW TIFFs written
  by libtiff (noise that grows the code width from 9 to 12 bits and
  fills the table to a clear, once without and once with the
  horizontal predictor, several strips each) and the md5 of their
  pixels. They must decode pixel-exact, with no libtiff needed.
- One output cap: every image decoder refuses a header whose decoded
  size exceeds ``_codec.MAX_OUTPUT_BYTES``, before allocating it.
- One audio decode: AIFF payloads get the same band energies and
  resampling as WAV payloads of the same samples, and G.711 WAVs
  resample to 16-bit PCM.

Regenerate the golden (only when the captured files are meant to change)
with ``PYTHONPATH=. python tests/test_codec.py`` from the repo root, on a
machine with ``libtiff.so.6``.
"""

from __future__ import annotations

import base64
import hashlib
import json
import struct
import zlib
from pathlib import Path

import numpy as np
import pytest

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import (
    bmp,
    gif,
    jpeg,
    png,
    tiff,
    wav,
)

GOLDEN = Path(__file__).parent / "golden" / "tiff_lzw.json"

# name -> (width, height, channels, predictor, rows per strip): strip 0
# holds 6144 noise bytes, enough codes to reach 12 bits and a clear
LIBTIFF_CASES = {
    "noise_gray": (96, 96, 1, 1, 64),
    "noise_rgb_predictor": (64, 48, 3, 2, 32),
}


def test_tiff_lzw_reads_libtiff_golden():
    want = json.loads(GOLDEN.read_text())["files"]
    assert sorted(want) == sorted(LIBTIFF_CASES)
    for name, (w, h, c, pred, rps) in LIBTIFF_CASES.items():
        case = want[name]
        got = tiff.decode_tiff(base64.b64decode(case["payload_b64"]))
        assert got[:3] == (w, h, c), name
        assert hashlib.md5(got[3]).hexdigest() == case["pixels_md5"], name


# ------------------------------------------------------------ output cap


def _png(width, height, depth, color, interlace):
    ihdr = struct.pack(">IIBBBBB", width, height, depth, color, 0, 0, interlace)
    chunks = [(b"IHDR", ihdr), (b"IDAT", zlib.compress(b"\x00" * 64)), (b"IEND", b"")]
    if color == 3:
        chunks.insert(1, (b"PLTE", bytes(range(48))))
    return png._SIGNATURE + b"".join(
        struct.pack(">I", len(b)) + t + b + struct.pack(">I", zlib.crc32(t + b))
        for t, b in chunks
    )


def _bmp(width, height, bpp, compression):
    palette = bytes(1024) if bpp == 8 else b""
    pix_off = 14 + 40 + len(palette)
    body = b"\x00\x01" if compression else bytes(64)  # RLE8: end of bitmap
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, bpp, compression, len(body), 0, 0, 0, 0
    )
    return b"BM" + struct.pack("<IHHI", pix_off + len(body), 0, 0, pix_off) + dib + palette + body


def _tiff(width, height, tile):
    """A one-chunk uncompressed gray TIFF whose IFD declares ``width``
    x ``height``: one strip of every row, or one ``tile`` x ``tile``
    tile covering the image."""
    src = tiff.encode_tiff(16, 16, 1, bytes(256), tile=(16, 16) if tile else None)
    out = bytearray(src)
    dims = {256: width, 257: height, 278: height, 322: tile, 323: tile}
    (ifd,) = struct.unpack_from("<I", out, 4)
    (n,) = struct.unpack_from("<H", out, ifd)
    for at in range(ifd + 2, ifd + 2 + 12 * n, 12):
        tag = struct.unpack_from("<H", out, at)[0]
        if tag in dims:
            struct.pack_into("<I", out, at + 8, dims[tag])
    return bytes(out)


def _jpeg(width, height):
    src = bytearray(jpeg.encode_jpeg(16, 16, 1, bytes(256)))
    at = src.index(b"\xff\xc0") + 5  # SOF0: length(2) precision(1) height width
    struct.pack_into(">HH", src, at, height, width)
    return bytes(src)


def _gif(width, height):
    src = bytearray(gif.encode_gif(4, 4, 1, bytes(16)))
    struct.pack_into("<HH", src, 6, width, height)
    return bytes(src)


# every header declares a decoded size just past the cap
OVER_CAP = {
    "jpeg": (jpeg.decode_jpeg, jpeg.JpegUnsupported, lambda: _jpeg(8200, 8200)),
    "gif": (gif.decode_gif, gif.GifUnsupported, lambda: _gif(4100, 4100)),
    "bmp_raw": (bmp.decode_bmp, bmp.BmpUnsupported, lambda: _bmp(4800, 4800, 24, 0)),
    "bmp_rle8": (bmp.decode_bmp, bmp.BmpUnsupported, lambda: _bmp(4800, 4800, 8, 1)),
    "png_8bit": (png.decode_png, png.PngUnsupported, lambda: _png(8200, 8200, 8, 0, 0)),
    "png_16bit": (png.decode_png, png.PngUnsupported, lambda: _png(4100, 4100, 16, 2, 0)),
    "png_sub8bit": (png.decode_png, png.PngUnsupported, lambda: _png(8200, 8200, 1, 0, 0)),
    "png_interlaced": (png.decode_png, png.PngUnsupported, lambda: _png(4800, 4800, 8, 3, 1)),
    "tiff_strip": (tiff.decode_tiff, tiff.TiffUnsupported, lambda: _tiff(8200, 8200, None)),
    "tiff_tile": (tiff.decode_tiff, tiff.TiffUnsupported, lambda: _tiff(8200, 8200, 8208)),
}


@pytest.mark.parametrize("name", sorted(OVER_CAP))
def test_every_image_decoder_refuses_over_cap_headers(name):
    """A few-hundred-byte payload whose header declares more decoded
    bytes than the shared cap raises that codec's ``*Unsupported``
    naming the cap, before any pixel buffer is allocated."""
    decode, unsupported, make = OVER_CAP[name]
    payload = make()
    assert len(payload) < 4096
    with pytest.raises(unsupported, match="output cap"):
        decode(payload)


# ----------------------------------------------------------- audio stages


def test_aiff_and_wav_payloads_share_band_energies_and_resampling(spark):
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.aiff import (
        encode_aiff,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        audio_band_energies,
        resample_audio,
    )
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.wav import (
        encode_wav,
    )

    t = np.arange(2048)
    tone = np.round(9000 * np.sin(2 * np.pi * 440 * t / 8000)).astype(np.int64)
    tone8 = tone // 256  # signed 8-bit; WAV stores it offset by 128
    payloads = [
        (0, encode_wav(8000, 1, 16, tone)),
        (1, encode_aiff(8000, 1, 16, tone)),
        (2, encode_wav(8000, 1, 8, tone8 + 128)),
        (3, encode_aiff(8000, 1, 8, tone8)),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads], "doc_id long, payload binary"
    )
    bands = {r["doc_id"]: r for r in audio_band_energies(df, n_bands=8).collect()}
    assert bands[0]["band_energies"] is not None
    assert bands[1]["band_energies"] == bands[0]["band_energies"]
    assert bands[1]["dominant_band"] == bands[0]["dominant_band"]
    res = {r["doc_id"]: r for r in resample_audio(df, 4000).collect()}
    assert res[0]["meta"]["n_frames"] == 1024
    assert res[1]["meta"]["n_frames"] == res[0]["meta"]["n_frames"]
    # 8-bit AIFF is signed and 8-bit WAV unsigned: the re-encoded WAV
    # of the AIFF equals that of the WAV holding the same samples
    assert res[3]["meta"]["mime"] == "audio/wav"
    assert bytes(res[3]["payload"]) == bytes(res[2]["payload"])



def test_encode_wav_g711_accepts_bytes_codes():
    codes = bytes(range(0, 256, 5))
    want = wav.encode_wav_g711(8000, 1, "ulaw", np.frombuffer(codes, dtype=np.uint8))
    assert wav.encode_wav_g711(8000, 1, "ulaw", codes) == want
    assert wav.encode_wav_g711(8000, 1, "ulaw", bytearray(codes)) == want


def test_resample_audio_reencodes_g711_as_16bit_pcm(spark):
    """G.711 codes are 8 bits on disk but decode to 16-bit linear
    samples, so the resampled WAV is 16-bit PCM of the picked frames."""
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
        resample_audio,
    )

    codes = np.arange(0, 256, 3, dtype=np.uint8)
    payloads = {
        i: wav.encode_wav_g711(8000, 1, law, codes) for i, law in enumerate(("ulaw", "alaw"))
    }
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads.items()], "doc_id long, payload binary"
    )
    res = {r["doc_id"]: r for r in resample_audio(df, 4000).collect()}
    for i, p in payloads.items():
        assert res[i]["meta"]["mime"] == "audio/wav"
        assert res[i]["meta"]["n_frames"] == len(codes) // 2
        rate, ch, bits, got = wav.decode_wav(bytes(res[i]["payload"]))
        assert (rate, ch, bits) == (4000, 1, 16)
        linear = wav.decode_wav(p)[3]
        assert got[:, 0].tolist() == linear[::2, 0].tolist()

if __name__ == "__main__":
    import ctypes
    import os
    import tempfile

    lib = ctypes.CDLL("libtiff.so.6")
    lib.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
    lib.TIFFOpen.restype = ctypes.c_void_p
    lib.TIFFClose.argtypes = [ctypes.c_void_p]
    lib.TIFFClose.restype = None
    lib.TIFFGetVersion.argtypes = []
    lib.TIFFGetVersion.restype = ctypes.c_char_p
    lib.TIFFWriteEncodedStrip.argtypes = [
        ctypes.c_void_p, ctypes.c_uint32, ctypes.c_char_p, ctypes.c_ssize_t
    ]
    lib.TIFFWriteEncodedStrip.restype = ctypes.c_ssize_t
    # TIFFSetField is variadic: its arguments are passed as explicit
    # ctypes values instead of through argtypes
    lib.TIFFSetField.restype = ctypes.c_int
    rng = np.random.default_rng(2024)
    files = {}
    for name, (w, h, c, pred, rps) in LIBTIFF_CASES.items():
        px = rng.integers(0, 256, w * h * c, dtype=np.uint8).tobytes()
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "lzw.tif").encode()
            t = ctypes.c_void_p(lib.TIFFOpen(path, b"w"))
            if not t.value:
                raise RuntimeError("libtiff could not open a file to write")
            tags = {256: w, 257: h, 258: 8, 259: 5, 262: 1 if c == 1 else 2,
                    277: c, 278: rps, 284: 1, 317: pred}
            for tag, value in tags.items():
                lib.TIFFSetField(t, ctypes.c_uint32(tag), ctypes.c_int(value))
            row = w * c
            for s in range((h + rps - 1) // rps):
                chunk = px[s * rps * row:(s + 1) * rps * row]
                if lib.TIFFWriteEncodedStrip(t, s, chunk, len(chunk)) != len(chunk):
                    raise RuntimeError(f"libtiff failed to write strip {s} of {name}")
            lib.TIFFClose(t)
            payload = Path(path.decode()).read_bytes()
        files[name] = {
            "payload_b64": base64.b64encode(payload).decode(),
            "pixels_md5": hashlib.md5(px).hexdigest(),
        }
    version = lib.TIFFGetVersion().decode().splitlines()[0]
    GOLDEN.write_text(json.dumps({"writer": version, "files": files}, indent=1) + "\n")
    print(f"wrote {GOLDEN}: {version}, " + ", ".join(files))
