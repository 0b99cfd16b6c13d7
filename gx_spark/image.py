"""Multimodal image/video columns: opaque binary + typed metadata.

Mirrors the audio layer's design (gx_spark/audio.py) for the other two
modalities the pipeline brief names: images and video travel as `binary`
columns with metadata columns beside them; decode / feature-extract /
resize run as Arrow-batched pandas UDFs on the shared row-UDF driver
(gx_spark/row_udf.py) and frame-sample as mapInPandas, so the Spark-side
plumbing (schema, partitioning, UDF signature, batch shape) is real and
tested even where codecs are stubbed.

Codec support in-sandbox: a deterministic raw-RGB container (`gxraw`,
magic + dims header + uint8 pixels) decodes with numpy, and PNG decodes
for real via the pure stdlib-zlib + numpy codec in gx_spark/png.py
(8-bit gray/GA/RGB/RGBA, all five scanline filters, CRC-checked).  JPEG /
H.264 decode requires codec libraries absent from this container and
raises NotImplementedError behind a clearly-marked stub — swap in
PIL/ffmpeg decoders in production without touching the Spark plumbing.

Schema conventions:
  images: (img_id string, bytes binary, width int, height int,
           channels int, format string)
  video:  (vid_id string, bytes binary, n_frames int, fps double,
           width int, height int, format string)
          payload = n_frames raw-RGB frames concatenated
"""

from __future__ import annotations

import struct
from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .row_udf import _num, _row_udf, map_in_pandas

_MAGIC = b"GXIM"
_HDR = "<4sHHB"  # magic, width, height, channels
_HDR_LEN = struct.calcsize(_HDR)

IMAGE_FLAGS_SCHEMA = (
    "decodable boolean, header_w int, header_h int, dims_ok boolean, "
    "mean_r double, mean_g double, mean_b double"
)


# ---------------------------------------------------------------------------
# raw-RGB container codec (numpy, deterministic)
# ---------------------------------------------------------------------------

def raw_encode(pixels: np.ndarray) -> bytes:
    """(h, w, c) uint8 -> gxraw container bytes."""
    h, w, c = pixels.shape
    return struct.pack(_HDR, _MAGIC, w, h, c) + pixels.astype(np.uint8).tobytes()


def raw_decode(b: bytes) -> np.ndarray:
    """gxraw container bytes -> (h, w, c) uint8.  Raises ValueError on a
    malformed payload."""
    if len(b) < _HDR_LEN:
        raise ValueError("short image payload")
    magic, w, h, c = struct.unpack(_HDR, b[:_HDR_LEN])
    if magic != _MAGIC:
        raise ValueError("not a gxraw payload")
    body = b[_HDR_LEN:]
    if len(body) != w * h * c:
        raise ValueError("pixel payload length mismatch")
    return np.frombuffer(body, dtype=np.uint8).reshape(h, w, c)


def decode_image(b: bytes, fmt: str) -> np.ndarray:
    """Decode an image payload to (h, w, c) uint8.

    All three formats decode for real in-sandbox: `gxraw` (deterministic
    raw container), `png` (pure zlib+numpy codec, gx_spark/png.py), and
    `jpeg` (baseline T.81 codec, gx_spark/jpeg.py).  Production may swap in
    libjpeg-turbo etc. — every caller below is agnostic to it."""
    if fmt == "gxraw":
        return raw_decode(b)
    if fmt == "png":
        from .png import png_decode

        return png_decode(b)
    if fmt == "jpeg":
        from .jpeg import jpeg_decode

        return jpeg_decode(b)
    raise NotImplementedError(f"no in-sandbox decoder for image format {fmt!r}")


def synth_image(img_id: str, width: int, height: int, channels: int = 3) -> np.ndarray:
    """Deterministic reference image (id-seeded gradient + checker)."""
    seed = sum(img_id.encode()) % 251
    y = np.arange(height, dtype=np.uint16)[:, None]
    x = np.arange(width, dtype=np.uint16)[None, :]
    base = ((x * 3 + y * 5 + seed) % 256).astype(np.uint8)
    px = np.stack([(base + 31 * ch) % 256 for ch in range(channels)], axis=2)
    return px.astype(np.uint8)


# ---------------------------------------------------------------------------
# flags UDF (mirrors audio_flags)
# ---------------------------------------------------------------------------

def compute_image_flags_row(b, width, height, channels, fmt):
    out = {"decodable": False, "header_w": None, "header_h": None,
           "dims_ok": None, "mean_r": None, "mean_g": None, "mean_b": None}
    if b is None:
        return out
    if fmt not in ("gxraw", "png", "jpeg"):
        return out
    try:
        px = decode_image(bytes(b), fmt)
    except ValueError:
        return out  # malformed payload: decodable=False → violation
    except NotImplementedError:
        # valid-but-unsupported coding process (arithmetic/12-bit/lossless
        # JPEG — progressive decodes for real as of r5).  NOT corrupt:
        # validate the container structurally instead — decodable=NULL
        # means "undecoded but container-consistent" (excluded from the
        # decode check), while header dims still verify the metadata
        # columns.  Garbage behind a JPEG magic fails the structural scan
        # → stays decodable=False.
        if fmt == "jpeg":
            from .jpeg import jpeg_header_scan

            try:
                h, w, nc = jpeg_header_scan(bytes(b))
            except ValueError:
                return out
            out["decodable"] = None
            out["header_w"] = int(w)
            out["header_h"] = int(h)
            out["dims_ok"] = ((w == width) and (h == height)
                              and (nc == channels))
        else:
            out["decodable"] = None  # stub: the metadata check fails it closed
        return out
    h, w, c = px.shape
    out["decodable"] = True
    out["header_w"] = int(w)
    out["header_h"] = int(h)
    out["dims_ok"] = (w == width) and (h == height) and (c == channels)
    means = px.reshape(-1, c).mean(axis=0)
    out["mean_r"] = float(means[0])
    out["mean_g"] = float(means[1 % c])
    out["mean_b"] = float(means[2 % c])
    return out


def _image_flags_row(b, width, height, channels, fmt):
    # a null metadata cell reads as 0: the row is unexpected, not an error
    return compute_image_flags_row(b, _num(width), _num(height),
                                   _num(channels), fmt)


def make_image_flags_udf():
    """Arrow-batched pandas UDF: (bytes, width, height, channels, format)
    -> flags struct.  Built lazily (no Spark session needed at import)."""
    return _row_udf(IMAGE_FLAGS_SCHEMA, _image_flags_row)


# ---------------------------------------------------------------------------
# transforms: resize / perceptual fingerprint / video frame-sample
# ---------------------------------------------------------------------------

def _resize_row(b, fmt, *, out_w, out_h):
    px = decode_image(bytes(b), fmt)
    h, w, _ = px.shape
    yi = (np.arange(out_h) * h // out_h)
    xi = (np.arange(out_w) * w // out_w)
    return raw_encode(px[yi[:, None], xi[None, :], :])


def resize_images(
    df: DataFrame, out_w: int, out_h: int,
    id_col: str = "img_id", bytes_col: str = "bytes", fmt_col: str = "format",
) -> DataFrame:
    """Nearest-neighbour resize of decodable payloads (numpy fancy-indexing
    per image inside a row UDF; non-decodable rows pass through with null
    bytes).  Output schema: (id, bytes binary [gxraw at out_w x out_h])."""
    udf = _row_udf("binary", partial(_resize_row, out_w=out_w, out_h=out_h))
    return df.select(F.col(id_col).cast("string").alias("id"),
                     udf(bytes_col, fmt_col).alias("bytes"))


def _phash_row(b, fmt):
    gray = decode_image(bytes(b), fmt).mean(axis=2)
    h, w = gray.shape
    yi = (np.arange(8) * h // 8)
    xi = (np.arange(8) * w // 8)
    cells = gray[yi[:, None], xi[None, :]]
    bits = (cells > cells.mean()).flatten()[:63]
    return int((bits * (1 << np.arange(63, dtype=np.uint64))).sum())


def image_phash64(
    df: DataFrame,
    id_col: str = "img_id", bytes_col: str = "bytes", fmt_col: str = "format",
) -> DataFrame:
    """64-bit perceptual fingerprint: decode -> grayscale -> 8x8 nearest
    resize -> above-mean bit per cell (bit 63 dropped to stay in signed
    long).  Near-duplicate images (resizes, small edits) collide or sit at
    small Hamming distance — the image-side analogue of simhash64.
    Map-side only; null for undecodable payloads."""
    return df.select(F.col(id_col).cast("string").alias("id"),
                     _row_udf("bigint", _phash_row)(bytes_col, fmt_col)
                     .alias("phash"))


def sample_video_frames(
    df: DataFrame, every_k: int = 10,
    id_col: str = "vid_id", bytes_col: str = "bytes",
) -> DataFrame:
    """Explode a video row into one row per sampled frame (every k-th):
    (vid_id, frame_idx, bytes [gxraw frame]).  The payload is n_frames
    concatenated gxraw frames; mapInPandas yields a variable number of
    output rows per input row — the UDTF-shaped operation of the modality.
    At scale the output is written partitioned by vid_id bucket; frames
    never pass through a shuffle here."""
    import pandas as pd

    schema = "vid_id string, frame_idx int, bytes binary"

    def gen(batches):
        for pdf in batches:
            vids, idxs, frames = [], [], []
            for vid, b, nf in zip(pdf[id_col], pdf[bytes_col], pdf["n_frames"]):
                if b is None or nf is None or int(nf) <= 0:
                    continue
                b = bytes(b)
                nf = int(nf)
                frame_len = len(b) // nf
                for fi in range(0, nf, every_k):
                    vids.append(vid)
                    idxs.append(fi)
                    frames.append(b[fi * frame_len:(fi + 1) * frame_len])
            yield pd.DataFrame({"vid_id": vids, "frame_idx": idxs, "bytes": frames})

    return map_in_pandas(df, gen, schema)


# ---------------------------------------------------------------------------
# video container validation (gxraw frame-concat + MP4/ISO-BMFF)
# ---------------------------------------------------------------------------

VIDEO_FLAGS_SCHEMA = (
    "decodable boolean, dur_ok boolean, dims_ok boolean, "
    "container_dur_ms int, container_w int, container_h int"
)

# the formats compute_video_flags_row verifies (any other is excluded)
VIDEO_FORMATS = ("mp4", "h264", "gxraw_frames", "gxraw")


def compute_video_flags_row(
    b: bytes | None, n_frames: int, fps: float, width: int, height: int,
    fmt: str,
) -> dict:
    """Container-level validation flags for one video payload.

    - 'mp4': real ISO-BMFF demux (gx_spark/isobmff.py) — box structure,
      mvhd duration vs n_frames/fps, tkhd dimensions vs width/height.
      The AVC bitstream inside mdat stays un-decoded (no codec libs).
    - 'gxraw_frames': payload must be exactly n_frames concatenated
      gxraw frames whose header dims match the metadata columns.
    - 'h264': bare Annex-B bitstream validation (gx_spark/h264.py) —
      start-code walk, full exp-Golomb SPS parse, SPS dims vs
      width/height, VUI frame rate vs fps, VCL NAL count vs n_frames.
      Only the slice macroblock data stays un-decoded.
    - anything else (unknown labels): decodable is None — unverifiable,
      excluded from the check (same stance as jpeg in
      compute_image_flags_row)."""
    out = {"decodable": False, "dur_ok": None, "dims_ok": None,
           "container_dur_ms": None, "container_w": None, "container_h": None}
    if b is None:
        return out
    if fmt == "mp4":
        from .isobmff import mp4_parse

        try:
            m = mp4_parse(bytes(b))
        except ValueError:
            return out
        out["decodable"] = True
        out["container_dur_ms"] = m["dur_ms"]
        out["container_w"], out["container_h"] = m["width"], m["height"]
        out["dims_ok"] = m["width"] == width and m["height"] == height
        if fps and fps > 0 and n_frames:
            expected_ms = n_frames * 1000.0 / fps
            tol = max(1000.0 / fps, 0.02 * expected_ms)
            out["dur_ok"] = abs(m["dur_ms"] - expected_ms) <= tol
        else:
            out["dur_ok"] = False
        return out
    if fmt == "h264":
        from .h264 import annexb_parse

        try:
            m = annexb_parse(bytes(b))
        except ValueError:
            return out
        out["decodable"] = True
        out["container_w"], out["container_h"] = m["width"], m["height"]
        out["dims_ok"] = m["width"] == width and m["height"] == height
        if m["fps"] and fps and fps > 0 and n_frames:
            # bitstream duration (VCL count / VUI fps) vs metadata duration
            bs_ms = m["n_frames"] * 1000.0 / m["fps"]
            meta_ms = n_frames * 1000.0 / fps
            out["container_dur_ms"] = int(round(bs_ms))
            tol = max(1000.0 / fps, 0.02 * meta_ms)
            out["dur_ok"] = abs(bs_ms - meta_ms) <= tol
        else:
            out["dur_ok"] = False
        return out
    if fmt in ("gxraw_frames", "gxraw"):
        if len(b) < _HDR_LEN:
            return out
        magic, w, h, c = struct.unpack(_HDR, bytes(b[:_HDR_LEN]))
        if magic != _MAGIC:
            return out
        out["decodable"] = True
        out["container_w"], out["container_h"] = int(w), int(h)
        out["dims_ok"] = int(w) == width and int(h) == height
        frame_len = _HDR_LEN + int(w) * int(h) * int(c)
        out["dur_ok"] = bool(n_frames) and len(b) == int(n_frames) * frame_len
        return out
    out["decodable"] = None  # unverifiable format: excluded, not passed
    return out


def _video_flags_row(b, n_frames, fps, width, height, fmt):
    # a null metadata cell reads as 0: the row is unexpected, not an error
    return compute_video_flags_row(b, _num(n_frames), _num(fps, float),
                                   _num(width), _num(height), fmt)


def make_video_flags_udf():
    """Arrow-batched pandas UDF: (bytes, n_frames, fps, width, height,
    format) -> video flags struct."""
    return _row_udf(VIDEO_FLAGS_SCHEMA, _video_flags_row)
