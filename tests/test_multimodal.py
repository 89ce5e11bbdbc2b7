"""Payload synths and ``resize_images`` (``llm/multimodal.py``).

``tests/golden/multimodal.json`` pins the md5 of every payload each
synth shape emits on one small fixed corpus (PNG, BMP, TIFF, GIF with
interlaced docs, JPEG gray / colour / progressive / CMYK, the four-frame
GIF animation, and WAV 8-bit / float / mu-law / A-law / AIFF), plus the
payload md5 and mime ``resize_images`` emits for one payload of each
decodable format and one non-image payload. The oracle queries only
replay decoded features, so these pins are what hold the container
bytes themselves.

Regenerate (only when a codec's output is meant to change) with
``PYTHONPATH=. python tests/test_multimodal.py`` from the repo root.
"""

from __future__ import annotations

import json
from functools import reduce
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.bmp import encode_bmp
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.gif import encode_gif
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.ico import encode_ico
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.jpeg import encode_jpeg
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.multimodal import (
    _BPT_CHEAP,
    _BPT_GIF,
    _BPT_JPEG,
    resize_images,
    sized_codec_partitions,
    text_to_bmp_payload,
    text_to_gif_animation_payload,
    text_to_gif_payload,
    text_to_jpeg_payload,
    text_to_png_payload,
    text_to_tiff_payload,
    text_to_wav_payload,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.png import encode_png
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.tiff import encode_tiff

GOLDEN = Path(__file__).parent / "golden" / "multimodal.json"

# 12 docs: a NULL text, an empty one, short and long ASCII, and
# codepoints above 255 (the synths take them mod 256)
TEXTS = (
    None,
    "",
    "a",
    "the quick brown fox jumps over the lazy dog",
    "Grüße aus Zürich — naïve café",
    "x" * 100,
    "0123456789" * 9,
    "λόγος καὶ ἀριθμός",
    "~!@#$%^&*()_+{}|:<>?",
    "tower flux met QC 2024-06-01T00:30:00",
    "日本語のテキスト",
    "end",
)

# shape -> synth call; ids 0..11 cross every per-doc variant: JPEG
# colour at id%3, progressive at id%5, CMYK at id%7; GIF interlaced at
# id%2; WAV float at id%4==0, mu-law %4==1, A-law %4==2, AIFF %8==3
SHAPES = {
    "png": lambda df: text_to_png_payload(df),
    "bmp": lambda df: text_to_bmp_payload(df),
    "tiff": lambda df: text_to_tiff_payload(df),
    "gif": lambda df: text_to_gif_payload(df, interlace_every=2),
    "jpeg": lambda df: text_to_jpeg_payload(
        df, progressive_every=5, cmyk_every=7
    ),
    "gif_animation": lambda df: text_to_gif_animation_payload(df),
    "wav": lambda df: text_to_wav_payload(
        df, float_every=4, g711=True, aiff=True
    ),
}


def docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    )


def resize_inputs() -> list[tuple[int, bytes | None]]:
    """One payload per decodable format and channel layout the
    re-encode table routes, plus a non-image and a NULL payload."""
    rng = np.random.default_rng(12)

    def px(w, h, c):
        return rng.integers(0, 256, w * h * c, dtype=np.uint8).tobytes()

    blocks = np.repeat(
        np.repeat(np.arange(4, dtype=np.uint8).reshape(2, 2) * 60, 8, 0), 8, 1
    )
    few = np.array([[10, 20, 30], [200, 100, 0], [7, 7, 7]], dtype=np.uint8)
    gif_rgb = few[rng.integers(0, 3, 36)].tobytes()
    return [
        (0, encode_png(6, 4, 1, px(6, 4, 1))),
        (1, encode_png(6, 4, 2, px(6, 4, 2))),  # gray+alpha -> PNG
        (2, encode_png(5, 5, 4, px(5, 5, 4))),
        (3, encode_bmp(6, 4, 3, px(6, 4, 3))),
        (4, encode_bmp(4, 4, 1, px(4, 4, 1))),
        (5, encode_tiff(6, 4, 1, px(6, 4, 1))),
        (6, encode_tiff(4, 3, 4, px(4, 3, 4))),
        (7, encode_jpeg(16, 16, 1, blocks.tobytes())),
        (8, encode_jpeg(16, 16, 3, np.repeat(blocks[:, :, None], 3, 2).tobytes())),
        (9, encode_gif(6, 6, 1, px(6, 6, 1))),
        (10, encode_gif(6, 6, 3, gif_rgb)),
        (11, encode_ico(6, 4, 3, px(6, 4, 3))),  # ICO -> PNG
        (12, b"not an image payload"),
        (13, None),
    ]


def run_all(spark) -> dict:
    df = docs(spark)
    synth = reduce(
        lambda a, b: a.unionByName(b),
        [
            make(df).select(
                F.lit(name).alias("shape"), "doc_id", F.md5("payload").alias("md5")
            )
            for name, make in SHAPES.items()
        ],
    )
    out: dict = {name: {} for name in SHAPES}
    for r in synth.collect():
        out[r["shape"]][str(r["doc_id"])] = r["md5"]

    src = spark.createDataFrame(
        [(i, None if p is None else bytearray(p)) for i, p in resize_inputs()],
        "doc_id long, payload binary",
    )
    out["resize_images"] = {
        str(r["doc_id"]): [r["md5"], r["mime"]]
        for r in resize_images(src, 5, 3)
        .select("doc_id", F.md5("payload").alias("md5"), "meta.mime")
        .collect()
    }
    return {k: dict(sorted(v.items(), key=lambda kv: int(kv[0]))) for k, v in out.items()}


def test_multimodal_payloads_golden(spark):
    got = run_all(spark)
    want = json.loads(GOLDEN.read_text())
    assert sorted(got) == sorted(want)
    for name in want:
        assert got[name] == want[name], name


def test_wav_payload_mime_matches_magic(spark):
    """Each synthesized audio payload is labelled by its container:
    RIFF files are ``audio/wav``, the AIFF docs' FORM files
    ``audio/aiff``."""
    by_magic = {b"RIFF": "audio/wav", b"FORM": "audio/aiff"}
    rows = SHAPES["wav"](docs(spark)).collect()
    assert {r["meta"]["mime"] for r in rows} == set(by_magic.values())
    for r in rows:
        assert r["meta"]["mime"] == by_magic[bytes(r["payload"][:4])], r["doc_id"]


def test_payload_synths_size_width_from_plan(spark):
    """With no argument, every synth over a one-partition input whose
    plan estimate warrants a wider stage runs at the sized width of its
    codec-cost class."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("a one-core session never sizes a stage wider than 1")
    # a Range-backed frame carries a plan size estimate (~180 KB)
    df = (
        spark.range(10_000)
        .selectExpr("id AS doc_id", "repeat('x', 200) AS text")
        .coalesce(1)
    )
    cost_class = {
        "png": _BPT_CHEAP, "bmp": _BPT_CHEAP, "tiff": _BPT_CHEAP,
        "wav": _BPT_CHEAP, "gif": _BPT_GIF, "gif_animation": _BPT_GIF,
        "jpeg": _BPT_JPEG,
    }
    for name, make in SHAPES.items():
        want = sized_codec_partitions(df, cost_class[name])
        assert want is not None and want > 1, name
        assert make(df).rdd.getNumPartitions() == want, name


if __name__ == "__main__":
    from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import (
        get_spark,
    )

    out = run_all(get_spark(app_name="multimodal-golden", shuffle_partitions=4))
    GOLDEN.write_text(json.dumps(out, indent=1) + "\n")
    print(f"wrote {GOLDEN}: " + ", ".join(f"{k}={len(v)}" for k, v in out.items()))
