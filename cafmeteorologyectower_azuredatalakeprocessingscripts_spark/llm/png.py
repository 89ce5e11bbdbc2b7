"""PNG codec (stdlib zlib/struct + numpy row math) for the multimodal
stages.

The container has no image libraries, but PNG's compression IS stdlib
zlib — so a real decode/encode of the most common pixel layouts needs
nothing beyond the standard library plus numpy (already a hard
dependency of the ANN stages) for the per-scanline unfilter math.
Scope (everything else raises ``PngUnsupported`` and callers fall back
to the digest stub):

- 8-bit samples, color types 0 (gray), 2 (RGB), 3 (palette — expanded
  to RGB on decode, or to RGBA when a tRNS palette-alpha chunk is
  present (r11); tRNS color keys on gray/RGB are refused), 4
  (gray+alpha), 6 (RGBA); no 16-bit.
- sub-8-bit depths 1/2/4 for gray and palette (r11 — icons, masks,
  faxes): bytes unfilter with distance 1 per spec, samples unpack
  MSB-first, gray scales exactly (×255/85/17); interlaced sub-8-bit
  stays refused (rare × rare).
- Adam7 interlacing decodes (r11): each of the 7 passes is unfiltered
  independently then scattered into place, so an interlaced file
  yields byte-identical pixels to its progressive twin; encode always
  emits non-interlaced.
- all five scanline filters (None/Sub/Up/Average/Paeth) on decode;
  encode emits filter 0 rows (valid PNG, maximally replayable).

Unfilter cost model (measured in DECISIONS round-8): None/Up/Sub rows
are fully numpy-vectorized (Sub is a mod-256 prefix sum per channel
lane — ``np.cumsum(dtype=uint8)`` wraps exactly like the spec's
mod-256 byte math). Average/Paeth carry a true sequential dependency
along x (the ``a`` term is this row's own output), so they run a tight
Python loop per scanline over precomputed numpy-derived lists — faster
than the per-byte bytearray walk they replace, but still the slow path:
a Paeth-heavy PNG (libpng's default heuristic for photographic content)
decodes at roughly list-walk speed, while Up/Sub/None-heavy content
(synthetic/flat imagery, this repo's own encoder) is 10-40x faster.

This runs INSIDE Arrow-batched ``mapInPandas`` workers — per-image
Python cost is the decompress + one unfilter pass, amortized over the
batch; nothing here touches the driver.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ._codec import check_cap

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class PngUnsupported(ValueError):
    """Payload is not a PNG this codec handles (bad magic, 16-bit,
    sub-8-bit, tRNS, or corrupt structure)."""


def is_png(payload: bytes) -> bool:
    return payload is not None and bytes(payload[:8]) == _SIGNATURE


def _parse_png(data: bytes):
    """Chunk walk + bounded inflate: returns (width, height, channels,
    color, palette, lines, ftypes) with ``lines`` the (H, stride) raw
    filtered scanline bytes and ``ftypes`` the per-row filter ids."""
    if not is_png(data):
        raise PngUnsupported("bad signature")
    pos = 8
    width = height = channels = -1
    color = -1
    palette = None
    trns = None
    idat = bytearray()
    saw_end = False
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise PngUnsupported("truncated chunk")
        pos += 12 + length  # skip CRC; zlib adler catches pixel corruption
        if ctype == b"IHDR":
            if length != 13:
                raise PngUnsupported("bad IHDR")
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth not in (1, 2, 4, 8, 16):
                raise PngUnsupported(f"bit depth {depth}")
            if depth in (1, 2, 4) and color not in (0, 3):
                raise PngUnsupported(f"bit depth {depth} with color {color}")
            if depth == 16 and color == 3:
                raise PngUnsupported("16-bit palette")  # illegal per spec
            if color == 3:
                channels = 1  # palette indices; expanded to RGB below
            elif color in _CHANNELS:
                channels = _CHANNELS[color]
            else:
                raise PngUnsupported(f"color type {color}")
            if comp != 0 or filt != 0 or interlace not in (0, 1):
                raise PngUnsupported("nonzero method")
        elif ctype == b"PLTE":
            if length % 3 != 0 or length == 0 or length > 768:
                raise PngUnsupported("bad PLTE")
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            # palette alpha (color 3): per-entry alpha bytes, expanded
            # to RGBA in _expand_palette. Color-key transparency on
            # gray/RGB (a 16-bit sample key) stays refused — it would
            # need a per-pixel compare the feature contract doesn't
            # model.
            if color != 3:
                raise PngUnsupported("tRNS color key (non-palette) not supported")
            if palette is None or length > len(palette) or length == 0:
                raise PngUnsupported("bad tRNS")
            trns = np.frombuffer(body, dtype=np.uint8)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            saw_end = True
            break
    if width < 0 or not saw_end:
        raise PngUnsupported("missing IHDR/IEND")
    if trns is not None:
        # fold alpha into the palette: entries past the tRNS run are
        # fully opaque (spec default 255)
        alpha = np.full(len(palette), 255, dtype=np.uint8)
        alpha[: len(trns)] = trns
        palette = np.concatenate([palette, alpha[:, None]], axis=1)
    if width == 0 or height == 0:
        raise PngUnsupported("zero-dimension image")
    # decoded bytes (palette entries expanded, 16-bit samples as
    # inflated) are bounded by the shared constant cap, not the header
    out_ch = palette.shape[1] if color == 3 and palette is not None else channels
    check_cap(
        width * height * out_ch * (2 if depth == 16 else 1),
        f"{width}x{height}x{out_ch} at {depth}-bit",
        PngUnsupported,
    )
    if depth < 8:
        if interlace:
            raise PngUnsupported("interlaced sub-8-bit")
        row_bytes = (width * depth + 7) // 8  # sub-8 is single-channel
        raw = _inflate(idat, (row_bytes + 1) * height)
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, row_bytes + 1)
        ftypes = arr[:, 0]
        if int(ftypes.max()) > 4:
            raise PngUnsupported(f"filter {int(ftypes.max())}")
        # filters act on BYTES with distance 1 at sub-8 depths (spec)
        un = _unfilter_rows(arr[:, 1:], ftypes, row_bytes, 1)
        bits = np.unpackbits(un, axis=1)  # MSB-first = leftmost pixel
        if depth == 1:
            vals = bits[:, :width]
        else:
            grouped = bits.reshape(height, -1, depth)
            weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
            vals = (grouped * weights).sum(axis=2).astype(np.uint8)[:, :width]
        if color == 0:
            # exact spec scaling to 8-bit: 255/(2^d - 1) is integral
            vals = (vals * (255 // ((1 << depth) - 1))).astype(np.uint8)
        return width, height, 1, color, palette, np.ascontiguousarray(vals), np.zeros(
            height, dtype=np.uint8
        )
    # 16-bit samples (r13 — scientific/scanner corpora): filters act on
    # BYTES with distance channels*2 (spec), so the whole 8-bit
    # machinery applies with a doubled "channel" count; the 8-bit
    # output takes each sample's HIGH byte (the spec's own 16->8
    # reduction). Adam7 passes inherit the same doubling.
    unit = channels * depth // 8
    if interlace:
        # de-interlace HERE: each pass unfilters independently (its
        # rows only reference rows of the same pass) and scatters into
        # place; downstream sees already-unfiltered lines with ftypes 0
        # — decode_png / decode_png_batch / palette expansion are
        # untouched, and the batch grouper sees a fast-filter image
        raw = _inflate(idat, _adam7_size(width, height, unit))
        lines = _deinterlace_adam7(raw, width, height, unit)
        ftypes = np.zeros(height, dtype=np.uint8)
    else:
        raw = _inflate(idat, (width * unit + 1) * height)
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, width * unit + 1)
        lines, ftypes = arr[:, 1:], arr[:, 0]
        if int(ftypes.max()) > 4:
            raise PngUnsupported(f"filter {int(ftypes.max())}")
        if depth == 16:
            lines = _unfilter_rows(lines, ftypes, width, unit)
            ftypes = np.zeros(height, dtype=np.uint8)
    if depth == 16:
        lines = np.ascontiguousarray(lines.reshape(height, width * channels, 2)[:, :, 0])
    return width, height, channels, color, palette, lines, ftypes


def _inflate(idat: bytes, expected: int) -> bytes:
    """Bounded inflate: a crafted IDAT can expand without limit, and
    this runs inside Arrow workers — cap at the geometry the header
    declares instead of trusting the stream (zip-bomb guard). The
    stream must also END there: eof=False means a truncated stream
    whose adler trailer was never verified."""
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(bytes(idat), expected + 1)
    except zlib.error as e:  # corrupt stream
        raise PngUnsupported(f"zlib: {e}") from e
    if len(raw) != expected or not dec.eof or dec.unconsumed_tail:
        raise PngUnsupported("pixel data size mismatch")
    return raw


# Adam7 pass grid: (x0, y0, dx, dy) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _adam7_pass_dims(width: int, height: int):
    """(sub-width, sub-height) of each Adam7 pass; empty passes
    contribute zero scanlines (and therefore zero bytes)."""
    return [
        (max(0, (width - x0 + dx - 1) // dx), max(0, (height - y0 + dy - 1) // dy))
        for x0, y0, dx, dy in _ADAM7
    ]


def _adam7_size(width: int, height: int, unit: int) -> int:
    """Inflated byte count of an Adam7 image with ``unit`` bytes per
    pixel: a pass with EITHER dimension zero has no scanlines at all
    (spec: empty passes are wholly omitted, filter bytes included)."""
    return sum(hp * (1 + wp * unit) for wp, hp in _adam7_pass_dims(width, height) if wp and hp)


def _deinterlace_adam7(raw: bytes, width: int, height: int, channels: int):
    """Split the inflated stream into the 7 passes, unfilter each pass
    as its own little image, scatter into the full-frame (H, W*c)
    array. Pass sub-images reuse the row unfilter — interlaced files
    are a long-tail shape, and each pass is at most ~1/7 of the image,
    so the wavefront stacking isn't worth wiring in here."""
    out = np.zeros((height, width, channels), dtype=np.uint8)
    pos = 0
    for (x0, y0, dx, dy), (wp, hp) in zip(_ADAM7, _adam7_pass_dims(width, height)):
        if wp == 0 or hp == 0:
            continue
        seg_len = hp * (1 + wp * channels)
        arr = np.frombuffer(raw[pos:pos + seg_len], dtype=np.uint8).reshape(
            hp, 1 + wp * channels
        )
        pos += seg_len
        ftypes = arr[:, 0]
        if int(ftypes.max()) > 4:
            raise PngUnsupported(f"filter {int(ftypes.max())}")
        sub = _unfilter_rows(arr[:, 1:], ftypes, wp, channels)
        out[y0::dy, x0::dx, :] = sub.reshape(hp, wp, channels)
    return out.reshape(height, width * channels)


def _unfilter_rows(lines, ftypes, width: int, channels: int):
    """Row-at-a-time unfilter — fully vectorized for None/Sub/Up rows,
    scalar-loop fallback for Average/Paeth. The fast path when no
    sequential-in-x filter appears (this repo's own encoder emits
    filter-0 only); mixed/Paeth-heavy images take the wavefront."""
    height, stride = lines.shape
    out = np.empty((height, stride), dtype=np.uint8)
    zero_row = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        fbyte = int(ftypes[y])
        line = lines[y]
        prev = out[y - 1] if y > 0 else zero_row
        if fbyte == 0:  # None
            out[y] = line
        elif fbyte == 1:  # Sub — recurrence o[x] = l[x] + o[x-ch] is a
            # mod-256 prefix sum per channel lane; cumsum in uint8
            # wraps exactly like the spec's byte arithmetic
            out[y] = np.cumsum(
                line.reshape(width, channels), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif fbyte == 2:  # Up — whole-row add, uint8 wraparound
            out[y] = line + prev
        elif fbyte == 3:  # Average — sequential in x (a = own output)
            out[y] = _unfilter_average(line, prev, channels)
        else:  # Paeth — sequential in x, b/c/pa terms prevectorized
            out[y] = _unfilter_paeth(line, prev, channels)
    return out


def _unfilter_wavefront(L, FT):
    """Batch-lockstep unfilter over an anti-diagonal wavefront
    (VERDICT r8 #4 — the Paeth/Average residual).

    ``L``: (B, H, W) int16 filtered bytes, one lane per (image,
    channel); ``FT``: (B, H) per-row filter ids. Every PNG predictor
    reads only o[y][j-1] (a), o[y-1][j] (b), o[y-1][j-1] (c) in
    channel-lane coordinates j = x // channels — all three have a
    strictly smaller anti-diagonal index y + j, so the cells on one
    anti-diagonal are mutually independent REGARDLESS of each row's
    filter type. Processing diagonal-by-diagonal turns the per-byte
    Python x-walk into H + W - 1 numpy steps, each vectorized over
    (lanes x diagonal length): per-image Python iterations drop from
    H*stride to H+W, and a whole same-geometry batch shares the steps.

    Zero-padding row 0 / col 0 of the output grid makes the boundary
    terms (a = b = c = 0) fall out of the indexing with no branches.
    Arithmetic is int16 (range fits: a+b-2c in [-510, 510]) with a
    final & 0xFF — identical to the spec's mod-256 byte math and
    byte-exact against the scalar oracle (tested).
    """
    B, H, W = L.shape
    # SKEWED (diagonal-major) storage: D[d + 2][:, y + 1] holds output
    # cell (y, x) of anti-diagonal d = y + x. In this layout the three
    # predictor operands of every cell on diagonal d are CONTIGUOUS
    # slices of two already-written rows —
    #   a = (y, x-1)   -> D[d + 1][:, y0+1 : y1+2]
    #   b = (y-1, x)   -> D[d + 1][:, y0   : y1+1]
    #   c = (y-1, x-1) -> D[d     ][:, y0   : y1+1]
    # — and the boundary cells (x == 0 or y == 0) land on never-written
    # pre-zeroed slots, so a = b = c = 0 falls out with no branches.
    # The first cut of this routine used strided diagonal views into a
    # row-major grid; at 512^2 successive diagonal elements sit a full
    # row apart, every element is a cache miss, and the batch ran
    # SLOWER than per-image decode. Diagonal-major keeps each step's
    # working set to ~3 rows (~150 KB for a 16-image batch).
    ND = H + W + 1
    D = np.zeros((ND, B, H + 2), dtype=np.int16)
    Ls = np.zeros((ND, B, H + 2), dtype=np.int16)
    dd = np.arange(W)
    for y in range(H):  # skew the filtered bytes once: Ls[y+x][:, y+1]
        Ls[y + dd, :, y + 1] = L[:, y, :].transpose(1, 0)
    FT = np.ascontiguousarray(FT, dtype=np.uint8)
    present = set(int(v) for v in np.unique(FT))
    paeth_only = present <= {4}
    # per-step temporaries reused via out= (allocation per step measured
    # ~2x the arithmetic at thumbnail lane sizes)
    kmax = min(H, W)
    t_u = np.empty((B, kmax), dtype=np.int16)
    t_v = np.empty((B, kmax), dtype=np.int16)
    t_pc = np.empty((B, kmax), dtype=np.int16)
    t_m1 = np.empty((B, kmax), dtype=bool)
    t_m2 = np.empty((B, kmax), dtype=bool)
    t_w = np.empty((B, kmax), dtype=np.int16)
    for d in range(H + W - 1):
        y0 = max(0, d - W + 1)
        y1 = min(H - 1, d)
        k = y1 - y0 + 1
        cur = D[d + 2][:, y0 + 1 : y1 + 2]
        a = D[d + 1][:, y0 + 1 : y1 + 2]
        b = D[d + 1][:, y0 : y1 + 1]
        c = D[d][:, y0 : y1 + 1]
        l = Ls[d][:, y0 + 1 : y1 + 2]
        u = np.subtract(a, c, out=t_u[:, :k])
        v = np.subtract(b, c, out=t_v[:, :k])
        pc = np.abs(np.add(u, v, out=t_pc[:, :k]), out=t_pc[:, :k])
        pa = np.abs(v, out=t_v[:, :k])
        pb = np.abs(u, out=t_u[:, :k])
        m1 = np.logical_and(pa <= pb, pa <= pc, out=t_m1[:, :k])
        m2 = np.less_equal(pb, pc, out=t_m2[:, :k])
        w = t_w[:, :k]
        np.copyto(w, c)
        np.copyto(w, b, where=m2)
        np.copyto(w, a, where=m1)  # w = paeth predictor
        if not paeth_only:
            f = FT[:, y0 : y1 + 1]  # slot j <-> row y0+j: already aligned
            if 3 in present:
                np.copyto(w, (a + b) >> 1, where=(f == 3))
            if 2 in present:
                np.copyto(w, b, where=(f == 2))
            if 1 in present:
                np.copyto(w, a, where=(f == 1))
            if 0 in present:
                np.copyto(w, np.int16(0), where=(f == 0))
        np.add(l, w, out=w)
        np.bitwise_and(w, 0xFF, out=w)
        cur[:] = w
    out = np.empty((B, H, W), dtype=np.int16)
    for y in range(H):  # un-skew: O[:, y, x] = D[y + x + 2][:, y + 1]
        out[:, y, :] = D[y + 2 + dd, :, y + 1].transpose(1, 0)
    return out


def _lanes(lines, ftypes, width: int, channels: int):
    """(H, stride) scanline bytes -> per-channel lanes (ch, H, W) int16
    + per-lane filter rows (ch, H)."""
    height = lines.shape[0]
    L = (
        lines.reshape(height, width, channels)
        .transpose(2, 0, 1)
        .astype(np.int16)
    )
    FT = np.broadcast_to(ftypes, (channels, height))
    return L, FT


def _lanes_to_pixels(O, width: int, channels: int) -> bytes:
    """(ch, H, W) int16 output grid -> interleaved row-major bytes."""
    return (
        O.astype(np.uint8).transpose(1, 2, 0).reshape(O.shape[1], width * channels).tobytes()
    )


def _expand_palette(color: int, palette, width: int, height: int, out):
    """Palette expansion: one fancy-index gather — to RGB, or to RGBA
    when a tRNS chunk folded alpha into the palette (4th column)."""
    if palette is None:
        raise PngUnsupported("palette image without PLTE")
    if int(out.max()) >= len(palette):
        raise PngUnsupported("palette index out of range")
    n_ch = palette.shape[1]
    return width, height, n_ch, palette[out.reshape(-1)].tobytes()


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG into (width, height, channels, pixels).

    ``pixels`` is row-major, channel-interleaved, 1 byte per sample —
    exactly the IDAT layout after unfiltering. Rows with only
    None/Sub/Up filters take the row-vectorized path; any
    Average/Paeth row switches the whole image to the anti-diagonal
    wavefront (same bytes, H+W numpy steps instead of a per-byte
    Python walk).
    """
    width, height, channels, color, palette, lines, ftypes = _parse_png(
        bytes(payload)
    )
    if bool((ftypes >= 3).any()):
        L, FT = _lanes(lines, ftypes, width, channels)
        out = np.frombuffer(
            _lanes_to_pixels(_unfilter_wavefront(L, FT), width, channels),
            dtype=np.uint8,
        ).reshape(height, width * channels)
    else:
        out = _unfilter_rows(lines, ftypes, width, channels)
    if color == 3:
        return _expand_palette(color, palette, width, height, out)
    return width, height, channels, out.tobytes()


def decode_png_batch(
    payloads,
) -> list[tuple[int, int, int, bytes] | None]:
    """Decode MANY PNGs at once; unsupported/corrupt payloads yield
    ``None`` at their position (callers route those to the digest
    fallback, exactly as a per-image ``PngUnsupported`` would).

    Same-geometry (H, W) images that need the wavefront are STACKED
    into one lane tensor and unfiltered together — the corpus decode
    shape: an Arrow batch of thumbnails shares one set of H+W
    diagonal steps instead of paying them per image. Fast-filter-only
    images keep the row-vectorized path (cheaper than any stacking).
    """
    parsed: list = [None] * len(payloads)
    groups: dict[tuple[int, int], list[int]] = {}
    for i, p in enumerate(payloads):
        try:
            meta = _parse_png(bytes(p))
        except (PngUnsupported, TypeError):
            continue
        parsed[i] = meta
        if bool((meta[6] >= 3).any()):
            groups.setdefault((meta[1], meta[0]), []).append(i)
    results: list = [None] * len(payloads)
    grouped = {i for idxs in groups.values() for i in idxs}
    for i, meta in enumerate(parsed):
        if meta is None or i in grouped:
            continue
        width, height, channels, color, palette, lines, ftypes = meta
        out = _unfilter_rows(lines, ftypes, width, channels)
        results[i] = (
            _expand_palette(color, palette, width, height, out)
            if color == 3
            else (width, height, channels, out.tobytes())
        )
    for (height, width), idxs in groups.items():
        lane_parts, ft_parts, spans = [], [], []
        off = 0
        for i in idxs:
            _, _, channels, _, _, lines, ftypes = parsed[i]
            L, FT = _lanes(lines, ftypes, width, channels)
            lane_parts.append(L)
            ft_parts.append(FT)
            spans.append((off, off + channels))
            off += channels
        O = _unfilter_wavefront(
            np.concatenate(lane_parts, axis=0), np.concatenate(ft_parts, axis=0)
        )
        for i, (lo, hi) in zip(idxs, spans):
            w_i, h_i, channels, color, palette, _, _ = parsed[i]
            pix = _lanes_to_pixels(O[lo:hi], w_i, channels)
            if color == 3:
                out = np.frombuffer(pix, dtype=np.uint8).reshape(h_i, w_i)
                results[i] = _expand_palette(color, palette, w_i, h_i, out)
            else:
                results[i] = (w_i, h_i, channels, pix)
    return results


def _unfilter_average(line, prev, channels: int) -> list:
    """Average unfilter for one scanline: o[x] = l[x] + (a + b)//2 with
    a = o[x-ch] (this row — true sequential dependency, no closed form
    because of the floor-halving), b = previous row's output."""
    ln = line.tolist()
    pv = prev.tolist()
    n = len(ln)
    cur = [0] * n
    for x in range(channels):
        cur[x] = (ln[x] + (pv[x] >> 1)) & 0xFF
    for x in range(channels, n):
        cur[x] = (ln[x] + ((cur[x - channels] + pv[x]) >> 1)) & 0xFF
    return cur


def _unfilter_paeth(line, prev, channels: int) -> list:
    """Paeth unfilter for one scanline. With p = a + b - c the selector
    distances are pa = |b-c| (a-independent → prevectorized), pb =
    |a-c|, pc = |a + (b-2c)| (b-2c prevectorized); only the ``a`` walk
    stays in the Python loop."""
    ln = line.tolist()
    pv16 = prev.astype(np.int16)
    c16 = np.concatenate(
        [np.zeros(channels, dtype=np.int16), pv16[:-channels]]
    ) if len(pv16) > channels else np.zeros(len(pv16), dtype=np.int16)
    b_l = prev.tolist()
    c_l = c16.tolist()
    pa_l = np.abs(pv16 - c16).tolist()
    d_l = (pv16 - 2 * c16).tolist()
    n = len(ln)
    cur = [0] * n
    for x in range(n):
        a = cur[x - channels] if x >= channels else 0
        pb = a - c_l[x]
        if pb < 0:
            pb = -pb
        pc = a + d_l[x]
        if pc < 0:
            pc = -pc
        if pa_l[x] <= pb and pa_l[x] <= pc:
            pred = a
        elif pb <= pc:
            pred = b_l[x]
        else:
            pred = c_l[x]
        cur[x] = (ln[x] + pred) & 0xFF
    return cur


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


_COLOR_FOR = {1: 0, 2: 4, 3: 2, 4: 6}


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Encode row-major interleaved 8-bit pixels as a minimal valid PNG
    (filter-0 scanlines, one IDAT, fixed zlib level so the bytes are
    deterministic across runs and platforms)."""
    if channels not in _COLOR_FOR:
        raise PngUnsupported(f"channels {channels}")
    stride = width * channels
    if len(pixels) != stride * height:
        raise PngUnsupported("pixel buffer size mismatch")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, _COLOR_FOR[channels], 0, 0, 0)
    # prepend the filter-0 byte to every scanline in one numpy hstack
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(height, stride)
    raw = np.hstack(
        [np.zeros((height, 1), dtype=np.uint8), arr]
    ).tobytes()
    idat = zlib.compress(raw, 6)
    return _SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def resize_nearest(
    width: int, height: int, channels: int, pixels: bytes, new_w: int, new_h: int
) -> bytes:
    """Nearest-neighbor resample (floor mapping: src = dst * size // new
    — deterministic, engine-replayable integer arithmetic), as one
    numpy fancy-index gather."""
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(
        height, width, channels
    )
    ys = (np.arange(new_h, dtype=np.int64) * height) // new_h
    xs = (np.arange(new_w, dtype=np.int64) * width) // new_w
    return arr[ys][:, xs].tobytes()
