"""Workload ``media_decode``: an at-rest media table decoded through the
multimodal Arrow dispatch (``corpus.multimodal.decode_media``), which
routes each payload by magic bytes to the pure-Python codecs.

Payloads are 64x64 RGB images made during set-up from a per-document
pixel rule: baseline 4:2:0 JPEG with restart markers, progressive
4:2:0 JPEG, PNG and GIF, in fixed shares. The seed picks which
documents make up the table.

Oracle: every payload decodes to three horizontal bands whose geometry
and pixel counts are exact; lossless formats reproduce the band sums
exactly, JPEG band means stay within JPEG_MEAN_TOL of the source rule,
and the number of decoded payloads per format matches the table.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from collections import Counter

import numpy as np

from who_focus_crawler_spark.corpus import multimodal as MM

SIZE = 64
N_ITEMS = 420
FRAMES = 3
CORPUS = 1_000_000
# format of the i-th document of the table, in tenths
FORMATS = ["jpeg420"] * 4 + ["jpeg_prog"] * 3 + ["png"] * 2 + ["gif"]
# largest |decoded band mean - source band mean| a JPEG band may show;
# quantization noise keeps observed values near 1
JPEG_MEAN_TOL = 4.0
GIF_PALETTE = bytes(v for k in range(256) for v in (k, k, 255 - k))


def source_rgb(doc: int) -> np.ndarray:
    """(SIZE, SIZE, 3) uint8 source image of a document: a wrap-free
    luma ramp with chroma constant over each 2x2 cell."""
    dig = np.frombuffer(hashlib.md5(f"doc{doc}".encode()).digest(), dtype=np.uint8)
    r = np.arange(SIZE)[:, None]
    c = np.arange(SIZE)[None, :]
    v = (dig[c % 16].astype(np.int32) % 160) + r
    b = np.minimum(255, v + (r // 2 + c // 2))
    return np.stack([v, v, b], axis=-1).astype(np.uint8)


def gif_indices(doc: int) -> np.ndarray:
    dig = np.frombuffer(hashlib.md5(f"doc{doc}".encode()).digest(), dtype=np.uint8)
    r = np.arange(SIZE)[:, None]
    c = np.arange(SIZE)[None, :]
    return ((dig[c % 16].astype(np.int32) + r) % 256).astype(np.uint8)


def expected_pixels(doc: int, fmt: str) -> np.ndarray:
    if fmt == "gif":
        pal = np.frombuffer(GIF_PALETTE, dtype=np.uint8).reshape(256, 3)
        return pal[gif_indices(doc)]
    return source_rgb(doc)


def encode(doc: int, fmt: str) -> bytes:
    from who_focus_crawler_spark.corpus.gif import encode_gif
    from who_focus_crawler_spark.corpus.jpeg import encode_jpeg, encode_jpeg_progressive
    from who_focus_crawler_spark.corpus.png import encode_png

    if fmt == "gif":
        return encode_gif(gif_indices(doc).tobytes(), SIZE, SIZE, GIF_PALETTE)
    px = source_rgb(doc).tobytes()
    if fmt == "png":
        return encode_png(px, SIZE, SIZE, channels=3)
    enc = encode_jpeg_progressive if fmt == "jpeg_prog" else encode_jpeg
    return enc(px, SIZE, SIZE, channels=3, subsampling="420", restart_interval=2)


def _encode_batches(batches):
    import pyarrow as pa

    for batch in batches:
        docs = batch.column(0).to_pylist()
        fmts = batch.column(1).to_pylist()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([f"m{d}" for d in docs], pa.string()),
                pa.array(["image"] * len(docs), pa.string()),
                pa.array([encode(d, f) for d, f in zip(docs, fmts)], pa.binary()),
                pa.array(fmts, pa.string()),
            ],
            names=["media_id", "kind", "payload", "fmt"],
        )


def band_stats(px: np.ndarray) -> list[tuple[int, int]]:
    """(sum, count) of each of the FRAMES horizontal bands, the way the
    dispatch cuts them."""
    h = px.shape[0]
    out = []
    for b in range(FRAMES):
        band = px[b * h // FRAMES:(b + 1) * h // FRAMES]
        out.append((int(band.sum(dtype=np.int64)), band.size))
    return out


class MediaDecode:
    name = "media_decode"
    item = "Mpx"
    timed_ops = None  # every pass repeats the same work

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.path = os.path.join(work, "media")
        docs = sorted(random.Random(seed).sample(range(CORPUS), N_ITEMS))
        self.docs = {f"m{d}": (d, FORMATS[i % len(FORMATS)]) for i, d in enumerate(docs)}
        self.expected: dict[str, list[tuple[int, int]]] = {}
        self.mpix = N_ITEMS * SIZE * SIZE / 1e6

    def build(self) -> None:
        from pyspark.sql import types as T

        rows = [(d, f) for d, f in self.docs.values()]
        schema = T.StructType([
            T.StructField("media_id", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("fmt", T.StringType()),
        ])
        # this encode job also starts the Python workers, so no warm-up pass
        src = self.spark.createDataFrame(rows, "doc long, fmt string").repartition(8)
        src.mapInArrow(_encode_batches, schema).write.mode("overwrite").parquet(self.path)

    def op(self):
        media = self.spark.read.parquet(self.path).select("media_id", "payload")
        rows = MM.decode_media(media, frames_per_item=FRAMES).collect()
        return rows, self.mpix

    def prepare_oracle(self) -> None:
        self.expected = {
            mid: band_stats(expected_pixels(doc, fmt)) for mid, (doc, fmt) in self.docs.items()
        }

    def check(self, rows) -> str | None:
        got: dict[str, dict[int, list[float]]] = {}
        for mid, idx, feat in rows:
            got.setdefault(mid, {})[idx] = feat
        per_format = Counter(self.docs[m][1] for m in got if m in self.docs)
        want_format = Counter(f for _, f in self.docs.values())
        if per_format != want_format:
            return f"decoded per-format counts {dict(per_format)} != {dict(want_format)}"
        for mid, bands in self.expected.items():
            fmt = self.docs[mid][1]
            frames = got[mid]
            if sorted(frames) != list(range(FRAMES)):
                return f"{mid}: frames {sorted(frames)}"
            for b, (want_sum, want_n) in enumerate(bands):
                w, h, s, n = frames[b]
                if (w, h, n) != (SIZE, SIZE, want_n):
                    return f"{mid} band {b}: geometry {(w, h, n)}"
                if fmt.startswith("jpeg"):
                    if abs(s - want_sum) / want_n > JPEG_MEAN_TOL:
                        return f"{mid} band {b}: mean error {abs(s - want_sum) / want_n:.2f}"
                elif s != want_sum:
                    return f"{mid} band {b}: sum {s} != {want_sum}"
        return None

    def trace_extras(self) -> dict[str, float]:
        """Per-codec decode cost in the driver, on the table's own payloads."""
        import pyarrow.parquet as pq

        from who_focus_crawler_spark.corpus.gif import decode_gif
        from who_focus_crawler_spark.corpus.jpeg import decode_jpeg
        from who_focus_crawler_spark.corpus.png import decode_png

        table = pq.read_table(self.path, columns=["payload", "fmt"]).to_pydict()
        by_codec: dict[str, list[bytes]] = {}
        for payload, fmt in zip(table["payload"], table["fmt"]):
            codec = "jpeg" if fmt.startswith("jpeg") else fmt
            by_codec.setdefault(codec, []).append(payload)
        out = {}
        for codec, fn in (("jpeg", decode_jpeg), ("png", decode_png), ("gif", decode_gif)):
            sample = by_codec[codec][:24]
            t0 = time.perf_counter()
            for p in sample:
                fn(p)
            ms = (time.perf_counter() - t0) * 1e3
            out[f"corpus.{codec}.decode_ms_per_mpix"] = ms / (len(sample) * SIZE * SIZE / 1e6)
        return out
