"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The reference carries media as refs (profile photo data-URI,
``ui/streamlit_ui.py:14-25``, decoded base64 → PIL; color-icon img srcs,
``data_processing/data_fetching_processing.py:159-162``).  At pipeline
scale, media are opaque ``binary`` columns with a typed metadata struct;
decode/frame-sample run as Arrow-batched pandas stages over
``mapInPandas``.

Compressed-codec libraries (PIL/ffmpeg) are not in this container, so
``decode_media(..., real=True)`` decodes the uncompressed netpbm
binary formats (P6 PPM / P5 PGM) with a pure-numpy decoder
(``decode_ppm``); payloads that are not valid netpbm raise.  The
default deterministic fake emits features derived from the raw payload
bytes, keeping the plumbing testable on arbitrary binaries.  JPEG/PNG
et al. stay honestly out of scope until a codec library exists in the
image — the mapInPandas kernel shape is identical either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id bigint, payload binary, "
    "meta struct<format:string,width:int,height:int,n_bytes:bigint>"
)

FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, n_bytes bigint, "
    "checksum bigint, features array<float>"
)


def media_table(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, source, n_chars) → media rows: payload =
    utf-8 bytes of the text (stand-in for image bytes), metadata struct
    derived deterministically.  All JVM expressions."""
    payload = F.encode("text", "utf-8")
    width = (F.lit(64) + F.pmod(F.col("n_chars"), F.lit(128))).cast("int")
    height = (F.lit(64) + F.pmod(F.col("n_chars") * 3, F.lit(128))).cast("int")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.col("source").alias("format"),
            width.alias("width"),
            height.alias("height"),
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def ppm_media_table(
    docs: DataFrame, width: int = 8, height: int = 4
) -> DataFrame:
    """documents → VALID binary-PPM (P6) payloads, built entirely
    JVM-side: header + raster where the raster is the doc's text
    truncated/right-padded to width·height·3 chars (testdata text is
    ASCII → 1 byte per char).  Feeds the real-decode path (q76) so the
    pure-numpy netpbm decoder is exercised through the full Spark
    plumbing with an exact SQL oracle; one codegen'd projection."""
    n = width * height * 3
    header = f"P6\n{width} {height}\n255\n"
    raster = F.rpad(F.substring(F.col("text"), 1, n), n, "x")
    payload = F.concat(
        F.encode(F.lit(header), "utf-8"), F.encode(raster, "utf-8")
    )
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("ppm").alias("format"),
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic fake 'decoded image' feature vector (8 floats):
    byte-histogram moments.  Replaced by a real decode when codec libs
    exist."""
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    if arr.size == 0:
        arr = np.zeros(1)
    return np.array(
        [
            arr.mean(),
            arr.std(),
            arr.min(),
            arr.max(),
            float(width),
            float(height),
            float(arr.size),
            float(arr.sum() % 255),
        ],
        dtype=np.float32,
    )


def encode_ppm(arr: np.ndarray) -> bytes:
    """netpbm binary writer — the fixture generator for the real-decode
    path.  H×W×3 uint8 → P6 (PPM); H×W uint8 → P5 (PGM)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 3 and a.shape[2] == 3:
        magic = b"P6"
    elif a.ndim == 2:
        magic = b"P5"
    else:
        raise ValueError(f"expected HxWx3 or HxW uint8, got shape {a.shape}")
    h, w = a.shape[0], a.shape[1]
    return magic + b"\n%d %d\n255\n" % (w, h) + a.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Pure-numpy decoder for binary netpbm (P6 PPM → H×W×3, P5 PGM →
    H×W, maxval ≤ 255).  Full header grammar: tokens separated by any
    whitespace, ``#`` comments to end-of-line, exactly one whitespace
    byte between maxval and the raster.  Malformed or truncated
    payloads raise ValueError (strict — a corrupt image should surface,
    not silently yield garbage)."""
    magic = bytes(payload[:2])
    if magic not in (b"P6", b"P5"):
        raise ValueError(f"not a binary netpbm payload (magic {magic!r})")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(payload):
            c = payload[pos : pos + 1]
            if c.isspace():
                pos += 1
            elif c == b"#":
                nl = payload.find(b"\n", pos)
                pos = len(payload) if nl < 0 else nl + 1
            else:
                break
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos or not payload[start:pos].isdigit():
            raise ValueError("truncated or non-numeric netpbm header")
        vals.append(int(payload[start:pos]))
    width, height, maxval = vals
    if not (0 < maxval <= 255):
        raise ValueError(f"unsupported maxval {maxval} (16-bit netpbm)")
    pos += 1  # the single whitespace byte that terminates the header
    channels = 3 if magic == b"P6" else 1
    need = width * height * channels
    raster = np.frombuffer(payload, dtype=np.uint8, count=-1, offset=pos)
    if raster.size < need:
        raise ValueError(
            f"truncated raster: need {need} bytes, have {raster.size}"
        )
    a = raster[:need].reshape(height, width, channels)
    return a if channels == 3 else a[:, :, 0]


def _real_decode(payload: bytes) -> tuple[np.ndarray, int, int, int]:
    """(features, width, height, pixel-checksum) from a real netpbm
    decode: the feature moments are computed over DECODED pixels (not
    raw payload bytes), and width/height come from the image header
    (not trusted metadata)."""
    img = decode_ppm(payload)
    h, w = img.shape[0], img.shape[1]
    px = img.astype(np.float64).ravel()
    feats = np.array(
        [px.mean(), px.std(), px.min(), px.max(), float(w), float(h),
         float(px.size), float(px.sum() % 255)],
        dtype=np.float32,
    )
    return feats, w, h, int(img.sum(dtype=np.int64))


def decode_media(media: DataFrame, real: bool = False) -> DataFrame:
    """Decode / feature-extract stage over mapInPandas (Arrow batches).

    ``real=True`` runs the pure-numpy netpbm decoder (``decode_ppm``)
    on each payload: dims come from the image header, checksum/features
    from decoded pixels, and invalid payloads raise.  The default fake
    derives the same feature shape from raw payload bytes, keeping the
    plumbing testable on arbitrary binaries (compressed codecs need
    libraries absent from this container).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            if real:
                decoded = [_real_decode(p) for p in pdf["payload"]]
                feats = [d[0] for d in decoded]
                widths = [d[1] for d in decoded]
                heights = [d[2] for d in decoded]
                checksums = [d[3] for d in decoded]
            else:
                feats = [
                    _fake_decode(p, m["width"], m["height"])
                    for p, m in zip(pdf["payload"], pdf["meta"])
                ]
                widths = [m["width"] for m in pdf["meta"]]
                heights = [m["height"] for m in pdf["meta"]]
                checksums = [
                    int(np.frombuffer(p, dtype=np.uint8).sum())
                    for p in pdf["payload"]
                ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": widths,
                    "height": heights,
                    "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                    "checksum": checksums,
                    "features": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample(
    media: DataFrame,
    frame_bytes: int = 64,
    every_k: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Sample every ``every_k``-th fixed-size frame from an opaque
    video payload: (id, frame_idx, n_frames, frame binary).

    The deterministic fake codec treats the payload as ``n_frames``
    concatenated ``frame_bytes``-byte frames (a real container needs
    ffmpeg — not in this image; the real kernel would slot into
    ``decode_media``'s mapInPandas shape).  The SAMPLING plumbing is
    fully real and, unlike a codec, needs no Python at all: frame
    index generation is ``sequence`` + ``posexplode`` and the byte
    slice is ``Column.substr`` on the binary column — one codegen'd
    projection, zero shuffle, output co-partitioned with the input.
    Only sampled frames ever materialize as rows (a 2-hour video at
    every_k=120 fans out 1/120th of its frames, not all of them).
    """
    assert frame_bytes > 0 and every_k > 0
    payload = F.col(payload_col)
    n_frames = F.floor(F.length(payload) / F.lit(frame_bytes)).cast("int")
    idxs = F.sequence(
        F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_k)
    )
    return (
        media.select(
            F.col(id_col),
            payload.alias("__payload"),
            n_frames.alias("n_frames"),
            F.posexplode(idxs).alias("__p", "frame_idx"),
        )
        .filter(F.col("frame_idx") < F.col("n_frames"))
        .select(
            id_col,
            F.col("frame_idx").cast("int").alias("frame_idx"),
            "n_frames",
            F.col("__payload")
            .substr(F.col("frame_idx") * frame_bytes + 1, F.lit(frame_bytes))
            .alias("frame"),
        )
    )
