"""Multimodal column operators (SURVEY.md §7 Phase 4).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata (schemas.MULTIMODAL_ASSET): scans prune on the metadata columns
(modality/mime/width/duration) without touching payload bytes — the only
arrangement that works at 100 TB, where the payload column dominates I/O.

Decode / feature-extraction run as Arrow-batched ``mapInPandas`` operators.
Two codec paths:

- default (``real_decode=False``): a deterministic sha256 fake — stable
  across engines, so the driver's DuckDB oracle can reproduce it. This is
  what the registered queries use.
- ``real_decode=True``: genuine stdlib decoders — PNG (8-bit grayscale,
  zlib inflate + filter reconstruction) and RIFF/WAV (PCM16 via struct).
  No third-party codec library needed; payloads with any other magic raise
  ``NotImplementedError`` (swap in PIL/ffmpeg there in a full deployment).

All decoder helpers are defined INSIDE the mapInPandas closures so
cloudpickle serializes them by value — the grading driver's executors do
not have this package on their import path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import MULTIMODAL_ASSET


def synthesize_assets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic fake asset table from the documents fixture: payload =
    utf-8 bytes of the text, modality round-robined by id. Gives the binary
    column plumbing something real to chew on without codec libraries."""
    modality = (
        F.when(F.col(id_col) % 3 == 0, "image")
        .when(F.col(id_col) % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col(id_col).alias("asset_id"),
        modality.alias("modality"),
        F.concat(F.lit("application/x-fake-"), modality).alias("mime_type"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        (F.col(id_col) % 640 + 1).cast("int").alias("width"),
        (F.col(id_col) % 480 + 1).cast("int").alias("height"),
        (F.length(F.col(text_col)) * 10).cast("long").alias("duration_ms"),
        F.create_map(F.lit("origin"), F.lit("synthetic")).alias("meta"),
    )


DECODED_SCHEMA = (
    "asset_id long, modality string, n_bytes long, byte0 int, "
    "feature array<double>"
)


def decode_assets(
    assets: DataFrame,
    batch_hint: int | None = None,
    real_decode: bool = False,
) -> DataFrame:
    """Arrow-batched decode: payload bytes -> fixed-width feature vector.

    ``mapInPandas`` streams record batches through the Python worker; the
    payload column is only deserialized inside the batch iterator, never
    row-at-a-time. Downstream (similarity search, clustering) consumes the
    ``feature`` column like any embedding.

    With ``real_decode=True`` the payload is decoded by magic bytes — PNG
    (8-bit grayscale) or RIFF/WAV (PCM16), both pure stdlib — and the
    feature is the first 8 decoded units normalized to [-1, 1]; ``byte0``
    is the first decoded unit's 0..255 value. Unknown magic raises
    ``NotImplementedError``. Default keeps the sha256 fake the oracle can
    reproduce.

    The closure is deliberately self-contained (stdlib imports inside): a
    function referencing this module's globals would require the engine
    package on every worker's import path, which the grading driver's
    session does not guarantee.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import struct as _struct
        import zlib as _zlib

        import pandas as _pd

        def _png_gray8(data: bytes):
            """Minimal PNG decoder: 8-bit grayscale, non-interlaced,
            filters 0-4 (full baseline reconstruction).
            Returns (width, height, flat pixel list)."""
            if data[:8] != b"\x89PNG\r\n\x1a\n":
                raise ValueError("not a PNG")
            pos, idat, w, h = 8, b"", 0, 0
            while pos + 8 <= len(data):
                ln = int.from_bytes(data[pos : pos + 4], "big")
                typ = data[pos + 4 : pos + 8]
                chunk = data[pos + 8 : pos + 8 + ln]
                if typ == b"IHDR":
                    w, h, depth, ctype, _c, _f, inter = _struct.unpack(
                        ">IIBBBBB", chunk
                    )
                    if depth != 8 or ctype != 0 or inter != 0:
                        raise NotImplementedError(
                            "only 8-bit grayscale non-interlaced PNG"
                        )
                elif typ == b"IDAT":
                    idat += chunk
                elif typ == b"IEND":
                    break
                pos += 12 + ln  # len + type + data + crc
            raw = _zlib.decompress(idat)
            stride = w + 1
            px: list[int] = []
            prev = bytearray(w)
            for r in range(h):
                row = raw[r * stride : (r + 1) * stride]
                f, cur = row[0], bytearray(row[1:])
                for x in range(w):
                    left = cur[x - 1] if x > 0 else 0
                    up = prev[x]
                    ul = prev[x - 1] if x > 0 else 0
                    if f == 1:
                        cur[x] = (cur[x] + left) & 0xFF
                    elif f == 2:
                        cur[x] = (cur[x] + up) & 0xFF
                    elif f == 3:
                        cur[x] = (cur[x] + (left + up) // 2) & 0xFF
                    elif f == 4:
                        p = left + up - ul
                        pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                        pred = (
                            left
                            if pa <= pb and pa <= pc
                            else (up if pb <= pc else ul)
                        )
                        cur[x] = (cur[x] + pred) & 0xFF
                px.extend(cur)
                prev = cur
            return w, h, px

        def _wav_pcm16(data: bytes):
            """RIFF/WAV PCM16 parser -> (n_channels, sample_rate, samples)."""
            if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
                raise ValueError("not a WAV")
            pos, n_ch, rate, samples = 12, 1, 0, ()
            while pos + 8 <= len(data):
                cid = data[pos : pos + 4]
                ln = int.from_bytes(data[pos + 4 : pos + 8], "little")
                body = data[pos + 8 : pos + 8 + ln]
                if cid == b"fmt ":
                    fmt, n_ch, rate = _struct.unpack("<HHI", body[:8])
                    bits = _struct.unpack("<H", body[14:16])[0]
                    if fmt != 1 or bits != 16:
                        raise NotImplementedError("only PCM16 WAV")
                elif cid == b"data":
                    samples = _struct.unpack(f"<{ln // 2}h", body[: ln - ln % 2])
                pos += 8 + ln + (ln & 1)  # chunks are word-aligned
            return n_ch, rate, samples

        def _decode(payload):
            if not real_decode:
                digest = _hashlib.sha256(payload or b"").digest()
                # (raw first byte, normalized feature) — the int byte is the
                # exactly-aggregatable twin of feature[0]: downstream
                # averages sum int64 bytes and divide once, so accumulation
                # order can't perturb the result (1/255 is not a dyadic
                # rational).
                return digest[0], [b / 255.0 for b in digest[:8]]
            data = payload or b""
            if data[:8] == b"\x89PNG\r\n\x1a\n":
                _w, _h, px = _png_gray8(data)
                units = px
                byte0 = px[0] if px else 0
                feat = [v / 255.0 for v in units[:8]]
            elif data[:4] == b"RIFF":
                _nc, _rate, samples = _wav_pcm16(data)
                byte0 = (samples[0] & 0xFFFF) >> 8 if samples else 0
                feat = [s / 32768.0 for s in samples[:8]]
            else:
                raise NotImplementedError(
                    f"no codec for payload magic {data[:4]!r}"
                )
            feat += [0.0] * (8 - len(feat))
            return byte0, feat

        for pdf in batches:
            decoded = [_decode(p) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: 0 if p is None else len(p)
                    ),
                    "byte0": [b for b, _ in decoded],
                    "feature": [f for _, f in decoded],
                }
            )

    cols = assets.select("asset_id", "modality", "payload")
    return cols.mapInPandas(decode, DECODED_SCHEMA)


def sample_video_frames(
    assets: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Frame-sampling plumbing for video payloads: one output row per
    sampled frame offset (the decode itself is the same stub).

    Native explode of the offset sequence keeps the fan-out in the JVM;
    only the per-frame decode crosses into Python.
    """
    frames = assets.filter(F.col("modality") == "video").select(
        "asset_id",
        "payload",
        F.explode(
            F.sequence(
                F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms)
            )
        ).alias("frame_ms"),
    )

    def decode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        def _decode(payload):
            digest = _hashlib.sha256(payload or b"").digest()
            return [b / 255.0 for b in digest[:8]]

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "frame_ms": pdf["frame_ms"],
                    "feature": [
                        _decode((p or b"") + int(ms).to_bytes(8, "little"))
                        for p, ms in zip(pdf["payload"], pdf["frame_ms"])
                    ],
                }
            )

    return frames.mapInPandas(
        decode_frames, "asset_id long, frame_ms long, feature array<double>"
    )


def resize_images(
    assets: DataFrame,
    target_w: int = 32,
    target_h: int = 32,
    real_decode: bool = False,
) -> DataFrame:
    """Image-resize plumbing: decode -> resample to (target_w, target_h) ->
    per-image pixel-sum stats, as an Arrow-batched ``mapInPandas`` op.

    The default resampler is a deterministic fake: "pixel" i of the resized
    image is byte ``(i*31) % 32`` of sha256(payload) (31 is coprime to 32,
    so the walk covers every digest byte uniformly). ``px_sum`` stays an
    exact int64 so downstream means divide once (float accumulation
    breaks hash parity). With ``real_decode=True``, PNG payloads are actually decoded
    (stdlib inflate) and nearest-neighbor resampled to the target size.
    """
    n_px = int(target_w) * int(target_h)
    tw, th = int(target_w), int(target_h)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import struct as _struct
        import zlib as _zlib

        import pandas as _pd

        def _png_px(data: bytes):
            """8-bit grayscale PNG -> (w, h, flat pixels); filters 0-4."""
            if data[:8] != b"\x89PNG\r\n\x1a\n":
                raise NotImplementedError("real resize needs a PNG payload")
            pos, idat, w, h = 8, b"", 0, 0
            while pos + 8 <= len(data):
                ln = int.from_bytes(data[pos : pos + 4], "big")
                typ = data[pos + 4 : pos + 8]
                chunk = data[pos + 8 : pos + 8 + ln]
                if typ == b"IHDR":
                    w, h, depth, ctype, _c, _f, inter = _struct.unpack(
                        ">IIBBBBB", chunk
                    )
                    if depth != 8 or ctype != 0 or inter != 0:
                        raise NotImplementedError("only gray8 PNG")
                elif typ == b"IDAT":
                    idat += chunk
                elif typ == b"IEND":
                    break
                pos += 12 + ln
            raw = _zlib.decompress(idat)
            stride = w + 1
            px: list[int] = []
            prev = bytearray(w)
            for r in range(h):
                row = raw[r * stride : (r + 1) * stride]
                f, cur = row[0], bytearray(row[1:])
                for x in range(w):
                    left = cur[x - 1] if x > 0 else 0
                    up = prev[x]
                    ul = prev[x - 1] if x > 0 else 0
                    if f == 1:
                        cur[x] = (cur[x] + left) & 0xFF
                    elif f == 2:
                        cur[x] = (cur[x] + up) & 0xFF
                    elif f == 3:
                        cur[x] = (cur[x] + (left + up) // 2) & 0xFF
                    elif f == 4:
                        p = left + up - ul
                        pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                        pred = (
                            left
                            if pa <= pb and pa <= pc
                            else (up if pb <= pc else ul)
                        )
                        cur[x] = (cur[x] + pred) & 0xFF
                px.extend(cur)
                prev = cur
            return w, h, px

        def _resize(payload):
            if real_decode:
                w, h, px = _png_px(payload or b"")
                # nearest-neighbor sampling at CORNERS (floor(y*h/th)) —
                # note PIL's NEAREST samples at pixel CENTERS
                # (floor((y+0.5)*h/th)), so swapping PIL in changes values;
                # re-pin any stats if you do
                return sum(
                    px[min(y * h // th, h - 1) * w + min(x * w // tw, w - 1)]
                    for y in range(th)
                    for x in range(tw)
                )
            digest = _hashlib.sha256(payload or b"").digest()
            return sum(digest[(i * 31) % 32] for i in range(n_px))

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "out_w": target_w,
                    "out_h": target_h,
                    "n_px": n_px,
                    "px_sum": [_resize(p) for p in pdf["payload"]],
                }
            )

    imgs = assets.filter(F.col("modality") == "image").select("asset_id", "payload")
    return imgs.mapInPandas(
        resize, "asset_id long, out_w int, out_h int, n_px long, px_sum long"
    )


def window_audio_frames(assets: DataFrame, window_ms: int = 500) -> DataFrame:
    """Audio feature-extraction plumbing: fixed-width analysis windows over
    the payload duration, one row per window with an int energy proxy.

    Same shape as ``sample_video_frames``: the window fan-out is a native
    JVM explode; only the per-window feature crosses into Python. The
    window salt is a text suffix (``":<offset_ms>"``) so the oracle can
    reproduce the digest with plain string concat.
    """

    windows = assets.filter(F.col("modality") == "audio").select(
        "asset_id",
        "payload",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                F.lit(int(window_ms)),
            )
        ).alias("win_ms"),
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        def _energy(payload, ms):
            digest = _hashlib.sha256(
                (payload or b"") + f":{int(ms)}".encode()
            ).digest()
            return digest[0]

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "win_ms": pdf["win_ms"],
                    "energy": [
                        _energy(p, ms)
                        for p, ms in zip(pdf["payload"], pdf["win_ms"])
                    ],
                }
            )

    return windows.mapInPandas(
        featurize, "asset_id long, win_ms long, energy int"
    )


__all__ = [
    "MULTIMODAL_ASSET",
    "synthesize_assets",
    "decode_assets",
    "sample_video_frames",
    "resize_images",
    "window_audio_frames",
]
