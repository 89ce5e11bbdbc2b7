"""The JPEG codec's scan layout, restarts and interop (``llm/jpeg.py``).

- Golden pin (``tests/golden/jpeg.json``): a matrix of sizes x
  channels x subsampling x quantization tables x restart interval x
  scan layout (interleaved, non-interleaved, progressive with successive
  approximation, progressive spectral-only) on noise and smooth
  content. Each case pins the md5 of the encoder's bytes, the md5 of
  the decoded pixels, and the outcome of seeded byte-flip and
  truncation fuzz of those bytes (the exact ``JpegUnsupported``
  message, or the md5 of what still decodes). Progressive cases with
  restarts are pinned by decoded pixels only: their bytes changed when
  restart markers became numbered per scan.
- Restarts: every scan numbers its RST markers from RST0 (T.81 F.1.1.5:
  the restart count restarts with each scan), and non-interleaved scans
  carry restarts too.
- libjpeg interop (``tests/golden/jpeg_libjpeg.json``): small files
  written by libjpeg-turbo, progressive and baseline, gray and 4:2:0,
  with and without restarts. Our decode of each is pinned by md5, and
  for the gray files libjpeg's own decode is stored too and must agree
  to within 1 per sample. Chroma files differ by design (libjpeg
  upsamples chroma with a filter; this decoder replicates samples).

Regenerate a golden only when its cases are meant to change, from the
repo root: ``PYTHONPATH=. python tests/test_jpeg.py`` rewrites the
interop file (needs ``gcc`` and libjpeg with its headers; without them
it says so and exits 0), and ``PYTHONPATH=. python tests/test_jpeg.py
pin`` rewrites the pin from the checked-out codec.
"""

from __future__ import annotations

import base64
import hashlib
import json
from pathlib import Path

import numpy as np

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.jpeg import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)

GOLDEN = Path(__file__).parent / "golden"
PIN = GOLDEN / "jpeg.json"
LIBJPEG = GOLDEN / "jpeg_libjpeg.json"

# T.81 Annex K.1 luminance and chroma tables, natural (row-major) order
Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
])
Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
] + [99] * 32)

SIZES = ((8, 8), (17, 9), (33, 31), (64, 48))
SUBSAMPLING = {1: ("444",), 3: ("444", "422", "440", "420", "411"), 4: ("444",)}
# layout -> (encoder, extra keyword arguments)
LAYOUTS = {
    "baseline": (encode_jpeg, {}),
    "planar": (encode_jpeg, {"non_interleaved": True}),
    "prog_sa": (encode_jpeg_progressive, {}),
    "prog_spectral": (encode_jpeg_progressive, {"spectral_only": True}),
}


def _content(kind, w, h, c):
    if kind == "noise":
        rng = np.random.default_rng(w * 1000 + h * 10 + c)
        return rng.integers(0, 256, (h, w, c), dtype=np.uint8)
    y, x = np.mgrid[0:h, 0:w]
    planes = [(x * 7 + y * 3 + 40 * i) % 256 for i in range(c)]
    return np.stack(planes, axis=-1).astype(np.uint8)


def _cases():
    """name -> (encoder, width, height, channels, pixels, kwargs)."""
    cases = {}
    for w, h in SIZES:
        for c, subs in SUBSAMPLING.items():
            tables = {"q1": (None, None)} if c == 1 else {"q1": (Q_LUMA, None)}
            tables["q2" if c > 1 else "qk"] = (Q_LUMA, Q_CHROMA if c > 1 else None)
            for kind in ("noise", "smooth"):
                px = _content(kind, w, h, c).tobytes()
                for sub in subs:
                    for tname, (q, qc) in tables.items():
                        for ri in (0, 2):
                            for layout, (enc, extra) in LAYOUTS.items():
                                if layout == "planar" and (c == 1 or ri):
                                    continue
                                kw = dict(extra, subsampling=sub, qtable=q,
                                          qtable_chroma=qc, restart_interval=ri)
                                name = f"{w}x{h}c{c}/{kind}/{sub}/{tname}/ri{ri}/{layout}"
                                cases[name] = (enc, w, h, c, px, kw)
    return cases


def _outcome(payload):
    """What decoding ``payload`` gives: the md5 of its pixels, or the
    exception it raises as ``Type: message``."""
    try:
        w, h, c, px = decode_jpeg(payload)
    except Exception as e:  # noqa: BLE001 — the pin records any escape
        return f"{type(e).__name__}: {e}"
    return f"{w}x{h}x{c}:{hashlib.md5(px).hexdigest()}"


def _fuzz(payload, seed):
    """Seeded damage: three single-byte flips after the first SOS, one
    anywhere, and three truncations after the first SOS."""
    rng = np.random.default_rng(seed)
    n = len(payload)
    sos = payload.index(b"\xff\xda")
    out = []
    for lo in (sos, sos, sos, 2):
        at = int(rng.integers(lo, n - 2))
        bad = bytearray(payload)
        bad[at] ^= int(rng.integers(1, 256))
        out.append(f"flip@{at}=" + _outcome(bytes(bad)))
    for _ in range(3):
        cut = int(rng.integers(sos, n - 2))
        out.append(f"cut@{cut}=" + _outcome(payload[:cut]))
    return out


def _pin_record(seed, enc, w, h, c, px, kw):
    payload = enc(w, h, c, px, **kw)
    rec = {"pixels": _outcome(payload)}
    if not (enc is encode_jpeg_progressive and kw["restart_interval"]):
        rec["bytes"] = hashlib.md5(payload).hexdigest()
        rec["fuzz"] = _fuzz(payload, seed)
    return rec


def test_jpeg_golden_pin():
    want = json.loads(PIN.read_text())["cases"]
    cases = _cases()
    assert sorted(want) == sorted(cases)
    for seed, (name, case) in enumerate(sorted(cases.items())):
        assert _pin_record(seed, *case) == want[name], name


# --------------------------------------------------------------- restarts


def _restarts_per_scan(payload):
    """The RST marker numbers (0-7) of each scan, in order, walking the
    payload's markers past stuffed 0xFF00 and fill bytes."""
    scans = []
    i = 0
    while True:
        i = payload.find(b"\xff", i)
        if i < 0 or i + 1 >= len(payload):
            return scans
        nxt = payload[i + 1]
        if nxt == 0xDA:
            scans.append([])
        elif 0xD0 <= nxt <= 0xD7:
            scans[-1].append(nxt - 0xD0)
        i += 2 if nxt == 0x00 else 1


def test_progressive_restarts_number_from_rst0_in_every_scan():
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (40, 56, 3), dtype=np.uint8).tobytes()
    for spectral_only in (False, True):
        payload = encode_jpeg_progressive(
            56, 40, 3, px, subsampling="420", qtable=Q_LUMA,
            spectral_only=spectral_only, restart_interval=2,
        )
        scans = _restarts_per_scan(payload)
        assert len(scans) == (4 if spectral_only else 14)
        for rst in scans:
            assert rst, "every scan of this image spans several intervals"
            assert rst == [i % 8 for i in range(len(rst))]
        assert decode_jpeg(payload) == decode_jpeg(
            encode_jpeg(56, 40, 3, px, subsampling="420", qtable=Q_LUMA)
        )


def test_non_interleaved_restarts_decode_like_interleaved():
    rng = np.random.default_rng(6)
    px = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8).tobytes()
    for sub in ("444", "420", "411"):
        planar = encode_jpeg(40, 24, 3, px, subsampling=sub, qtable=Q_LUMA,
                             restart_interval=2, non_interleaved=True)
        scans = _restarts_per_scan(planar)
        assert len(scans) == 3
        for rst in scans:
            assert rst and rst == [i % 8 for i in range(len(rst))]
        assert decode_jpeg(planar) == decode_jpeg(
            encode_jpeg(40, 24, 3, px, subsampling=sub, qtable=Q_LUMA)
        ), sub


# -------------------------------------------------------- libjpeg interop

# name -> (width, height, components, progressive, restart interval)
LIBJPEG_CASES = {
    f"{kind}_{'prog' if prog else 'base'}_ri{ri}": (40, 24, 1 if kind == "gray" else 3, prog, ri)
    for kind in ("gray", "420")
    for prog in (False, True)
    for ri in (0, 3)
}


def test_jpeg_reads_libjpeg_golden():
    files = json.loads(LIBJPEG.read_text())["files"]
    assert sorted(files) == sorted(LIBJPEG_CASES)
    for name, (w, h, c, _prog, _ri) in LIBJPEG_CASES.items():
        case = files[name]
        got = decode_jpeg(base64.b64decode(case["payload_b64"]))
        assert got[:3] == (w, h, c), name
        assert hashlib.md5(got[3]).hexdigest() == case["pixels_md5"], name
        if c == 1:
            ref = np.frombuffer(base64.b64decode(case["libjpeg_pixels_b64"]), np.uint8)
            ours = np.frombuffer(got[3], np.uint8).astype(np.int16)
            assert np.abs(ours - ref).max() <= 1, name


# a libjpeg writer: reads raw pixels from stdin and writes a JPEG to
# stdout (quality 75, 4:2:0 for color); with -d it decodes a JPEG from
# stdin to raw pixels on stdout instead, and -v prints the library version
_LIBJPEG_HELPER = r"""
#include <stdio.h>
#include <stdlib.h>
#include <string.h>
#include <jpeglib.h>
#define STR2(x) #x
#define STR(x) STR2(x)
int main(int argc, char **argv) {
  static unsigned char buf[1 << 20];
  if (argc > 1 && strcmp(argv[1], "-v") == 0) {
#ifdef LIBJPEG_TURBO_VERSION
    puts("libjpeg-turbo " STR(LIBJPEG_TURBO_VERSION));
#else
    puts("libjpeg " STR(JPEG_LIB_VERSION));
#endif
    return 0;
  }
  size_t n = fread(buf, 1, sizeof buf, stdin);
  if (argc > 1 && strcmp(argv[1], "-d") == 0) {
    struct jpeg_decompress_struct d; struct jpeg_error_mgr e;
    d.err = jpeg_std_error(&e); jpeg_create_decompress(&d);
    jpeg_mem_src(&d, buf, n); jpeg_read_header(&d, TRUE);
    jpeg_start_decompress(&d);
    int row = d.output_width * d.output_components;
    unsigned char *line = malloc(row);
    while (d.output_scanline < d.output_height) {
      jpeg_read_scanlines(&d, &line, 1); fwrite(line, 1, row, stdout);
    }
    jpeg_finish_decompress(&d); return (int)e.num_warnings;
  }
  int w = atoi(argv[1]), h = atoi(argv[2]), c = atoi(argv[3]);
  int prog = atoi(argv[4]), ri = atoi(argv[5]);
  struct jpeg_compress_struct j; struct jpeg_error_mgr e;
  unsigned char *out = NULL; unsigned long outn = 0;
  j.err = jpeg_std_error(&e); jpeg_create_compress(&j);
  jpeg_mem_dest(&j, &out, &outn);
  j.image_width = w; j.image_height = h; j.input_components = c;
  j.in_color_space = c == 1 ? JCS_GRAYSCALE : JCS_RGB;
  jpeg_set_defaults(&j); jpeg_set_quality(&j, 75, TRUE);
  j.restart_interval = ri;
  if (prog) jpeg_simple_progression(&j);
  jpeg_start_compress(&j, TRUE);
  for (int y = 0; y < h; y++) {
    unsigned char *r = buf + (size_t)y * w * c; jpeg_write_scanlines(&j, &r, 1);
  }
  jpeg_finish_compress(&j); fwrite(out, 1, outn, stdout); return 0;
}
"""


def _write_libjpeg_golden():
    import shutil
    import subprocess
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        src, exe = Path(d) / "helper.c", Path(d) / "helper"
        src.write_text(_LIBJPEG_HELPER)
        cc = ["gcc", "-O1", "-o", str(exe), str(src), "-ljpeg"]
        if shutil.which("gcc") is None or subprocess.run(cc, capture_output=True).returncode:
            print("skipped: needs gcc and libjpeg with its headers (jpeglib.h)")
            return

        def run(args, data):
            return subprocess.run([str(exe), *args], input=data, capture_output=True).stdout

        files = {}
        for name, (w, h, c, prog, ri) in LIBJPEG_CASES.items():
            px = _content("noise" if prog else "smooth", w, h, c)
            px = (px // 2 + _content("smooth", w, h, c) // 2).tobytes()
            payload = run([str(w), str(h), str(c), str(int(prog)), str(ri)], px)
            got = decode_jpeg(payload)
            files[name] = {
                "payload_b64": base64.b64encode(payload).decode(),
                "pixels_md5": hashlib.md5(got[3]).hexdigest(),
            }
            if c == 1:
                files[name]["libjpeg_pixels_b64"] = base64.b64encode(
                    run(["-d"], payload)
                ).decode()
        version = run(["-v"], b"").decode().strip()
    LIBJPEG.write_text(json.dumps({"writer": version, "files": files}, indent=1) + "\n")
    print(f"wrote {LIBJPEG}: " + ", ".join(files))


def _write_pin():
    cases = {
        name: _pin_record(seed, *case)
        for seed, (name, case) in enumerate(sorted(_cases().items()))
    }
    PIN.write_text(json.dumps({"cases": cases}, indent=0, sort_keys=True) + "\n")
    n = sum(1 + len(r.get("fuzz", ())) for r in cases.values())
    print(f"wrote {PIN}: {len(cases)} cases, {n} decode outcomes")


if __name__ == "__main__":
    import sys

    if sys.argv[1:] == ["pin"]:
        _write_pin()
    else:
        _write_libjpeg_golden()
