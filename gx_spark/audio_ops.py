"""Audio training-data pipeline operators: per-clip acoustic features,
content fingerprinting for cross-codec dedup, and sample-rate conversion.

The reference (williamjr/great_expectations) has no audio surface; these
extend the validation engine into the curation ops a 100 TB audio training
pipeline needs, the same way ops.py does for text (SURVEY.md §2
"beyond-reference pipeline ops").  Design rules shared with audio.py:

- **One Arrow-batched pandas UDF per decode-requiring op.**  Decode runs
  once, map-side; the binary column is projected away in the same select,
  so bytes never reach a shuffle (the north rule's "large binary columns
  kept off the shuffle path").
- **Everything after the UDF is Catalyst.**  Dedup grouping is a plain
  groupBy over a 64-bit fingerprint (xxhash64, JVM-side); at cluster scale
  that is one shuffle of (id, fp) pairs — ~16 bytes/row regardless of
  clip size.
- **numpy does the per-clip math** (rFFT, frame energies, sinc
  resampling); no per-sample Python loops.

Fingerprint design: clips are short (sub-minute), so a whole-clip peak
signature is the right granularity — per-frame dominant spectral bins
(rectangular-window STFT) plus the global top-2 peaks, hashed JVM-side.
It is invariant to codec (lossless transcode, G.711 companding noise at
~38 dB SNR) and to gain scaling (argmax is scale-free), which byte-level
hashing cannot be.  A production system indexing hour-long audio would
extend the same plumbing to landmark *pairs* (anchor→target deltas,
Shazam-style); the Spark-side shape — decode UDF → fp → groupBy — is
identical.

One decode/encode driver runs every per-clip op; an op supplies only its
per-clip logic:

- **Payload transforms** (trim, gain, speed, window, noise, transcode,
  resample, the repairs, reverb, tempo, denoise) give a list of kernels
  ``kernel(pcm, sr, rid) -> (pcm' or None, sr', {column: value})`` to
  ``_map_payloads``.  ``rid`` is the row's id_col value (None when the op
  takes no id column); only the seeded augmentations read it.  Kernels
  run in order on one decode; ``None`` means the clip is untouched, and
  a clip no kernel touched keeps its ORIGINAL bytes and codec, otherwise
  the last pcm is encoded once (pcm_s16le WAV, or transcode_audio's
  codec).  The fused augment_pipeline / repair_pipeline are just longer
  kernel lists, so they equal the chained ops by construction.
- **Feature ops** give their ``compute_*_row`` (one decode inside it) to
  ``_map_features``, which builds the pandas UDF with the shared row-UDF
  driver (gx_spark/row_udf.py ``_row_udf``), projects the struct out as
  flat columns beside ``keep_cols`` and drops the binary column in the
  same select.  Several row functions (qa_features) share one decode
  made by ``_fused_row`` and passed as ``decoded=(sr, pcm)``.

Error contract: a row whose decode OR kernel / row function raises
ValueError, NotImplementedError or TypeError is nulled — null bytes, the
original codec and null in every column the op writes (a feature op: a
null struct).  Any other exception is a bug and fails the task.
"""

from __future__ import annotations

import zlib
from functools import lru_cache, partial
from math import gcd
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .audio import decode_payload
from .row_udf import (_ROW_ERRORS, _column, _pandas_dtype, _row_udf,
                      map_in_pandas)


# ---------------------------------------------------------------------------
# the decode/encode driver (row UDFs: gx_spark/row_udf.py)
# ---------------------------------------------------------------------------


def _decode(b, codec: str, decoded: Any = None):
    """(sr, pcm) of one payload — the caller's ``decoded`` hand-off when
    given — or None for a null or undecodable payload."""
    if b is None:
        return None
    if decoded is not None:
        return decoded
    try:
        return decode_payload(bytes(b), codec)
    except (ValueError, NotImplementedError):
        return None


def _map_payloads(
    df: DataFrame,
    kernels: list,
    *,
    bytes_col: str,
    codec_col: str,
    id_col: str | None = None,
    stats: str = "",
    headers: tuple[str, ...] = (),
    to_codec: str = "pcm_s16le",
) -> DataFrame:
    """Run ``kernels`` over every clip in one map-only mapInPandas pass.

    Output schema = input + the ``stats`` DDL columns.  Kernel-returned
    values land in the stats columns and in the ``headers`` columns
    (sr_hz / dur_ms) present in the input; other returned keys are
    dropped, and a column no kernel set on a row is null."""
    from pyspark.sql.types import StructType

    added = list(StructType.fromDDL(stats).fields) if stats else []
    written = [(f.name, _pandas_dtype(f.dataType)) for f in
               [f for f in df.schema.fields if f.name in headers] + added]

    def batches(it):
        return _payload_batches(kernels, bytes_col, codec_col, id_col,
                                written, to_codec, it)

    return map_in_pandas(df, batches,
                         StructType(list(df.schema.fields) + added))


def _payload_batches(kernels, bytes_col, codec_col, id_col, written,
                     to_codec, batches):
    from .audio import encode_payload

    for pdf in batches:
        ids = pdf[id_col] if id_col else [None] * len(pdf)
        new_bytes: list[bytes | None] = []
        new_codec: list[str] = []
        vals: dict[str, list] = {k: [] for k, _ in written}
        for rid, bb, cc in zip(ids, pdf[bytes_col], pdf[codec_col]):
            row: dict[str, Any] = {}
            try:
                sr, pcm = decode_payload(bytes(bb), cc)
                touched = False
                for kernel in kernels:
                    y, sr, r = kernel(pcm, sr, rid)
                    row.update(r)
                    if y is not None:
                        pcm, touched = y, True
                new_bytes.append(encode_payload(pcm, sr, to_codec)
                                 if touched else bytes(bb))
                new_codec.append(to_codec if touched else cc)
            except _ROW_ERRORS:
                row = {}
                new_bytes.append(None)
                new_codec.append(cc)
            for k, v in vals.items():
                v.append(row.get(k))
        pdf = pdf.copy()
        pdf[bytes_col] = new_bytes
        pdf[codec_col] = new_codec
        for k, dtype in written:
            pdf[k] = _column(vals[k], dtype)
        yield pdf


def _fused_row(row_fns, b, codec):
    """Several row functions (a fused pass over (bytes, codec)) on one
    decode made here: each is called as ``fn(b, codec, decoded=(sr,
    pcm))`` and their dicts merge, later functions winning on shared
    keys."""
    dec = decode_payload(bytes(b), codec)
    out: dict[str, Any] = {}
    for fn in row_fns:
        out.update(fn(b, codec, decoded=dec))
    return out


def _map_features(
    df: DataFrame,
    schema: str,
    row_fns: list,
    in_cols: tuple[str, ...],
    bytes_col: str,
    keep_cols: list[str] | None,
    hashed: str | None = None,
) -> DataFrame:
    """``keep_cols`` (default: every column but ``bytes_col``) plus the
    row functions' ``schema`` fields as flat columns, in one projection
    that also drops the binary column.  ``hashed`` names a signature
    field emitted instead as its JVM-side xxhash64 ``fp64``."""
    keep = keep_cols if keep_cols is not None else [
        c for c in df.columns if c != bytes_col]
    udf = _row_udf(schema, row_fns[0] if len(row_fns) == 1
                   else partial(_fused_row, row_fns))
    feat = udf(*[F.col(c) for c in in_cols]).alias("_f")
    cols = [F.col(f"_f.{k}").alias(k) for k in udf.returnType.fieldNames()
            if k != hashed]
    if hashed:
        # xxhash64(NULL) returns the seed, a real value — guard so
        # undecodable rows get a null key instead of all colliding on it
        cols.append(F.when(F.col(f"_f.{hashed}").isNotNull(),
                           F.xxhash64(F.col(f"_f.{hashed}"))).alias("fp64"))
    return df.select(*keep, feat).select(*keep, *cols)

AUDIO_FEATURES_SCHEMA = (
    "n_samples long, header_sr int, rms_dbfs double, peak double, "
    "clipping_ratio double, zcr_per_sec double, silence_ratio double, "
    "spectral_centroid_hz double, dominant_hz double"
)

_FEATURE_KEYS = (
    "n_samples", "header_sr", "rms_dbfs", "peak", "clipping_ratio",
    "zcr_per_sec", "silence_ratio", "spectral_centroid_hz", "dominant_hz",
)


def compute_features_row(
    b: bytes | None,
    codec: str,
    frame_ms: int = 25,
    silence_dbfs: float = -40.0,
    clip_rail: int = 32000,
    fingerprint: bool = False,
    decoded: Any = None,
) -> dict[str, Any]:
    """Acoustic features of one clip payload; None fields on decode failure.

    All features are defined on the int16 full-scale grid (x / 32768):
    - rms_dbfs:   20*log10(rms), None for an all-zero clip
    - peak:       max |x| in [0, 1]
    - clipping_ratio: fraction of samples at |pcm| >= clip_rail.  The
      default rail is 32000, not 32767, because companded codecs cannot
      represent the int16 rail: a sample clipped at 32767 decodes to
      32124 after a G.711 mu-law round trip (32256 for A-law), so an
      exact-rail test would miss clipping in transcoded audio.
    - zcr_per_sec: sign changes between consecutive samples, per second
    - silence_ratio: fraction of frame_ms frames with frame-RMS below
      silence_dbfs (a simple energy VAD; leading/trailing digital silence
      shows up here exactly)
    - spectral_centroid_hz: power-weighted mean of the rFFT bins
    - dominant_hz: frequency of the largest non-DC rFFT bin

    With fingerprint=True the dict also carries "fp_sig" (the dedup
    signature of compute_fingerprint_row) from the SAME decode — a
    pipeline computing both features and dedup keys decodes each payload
    exactly once.
    """
    keys = _FEATURE_KEYS + ("fp_sig",) if fingerprint else _FEATURE_KEYS
    out: dict[str, Any] = {k: None for k in keys}
    dec = _decode(b, codec, decoded)
    if dec is None:
        return out
    sr, pcm = dec
    if fingerprint:
        out["fp_sig"] = _fingerprint_from_pcm(sr, pcm)
    n = len(pcm)
    out["n_samples"] = n
    out["header_sr"] = sr
    if n == 0 or sr <= 0:
        return out
    x = pcm.astype(np.float64) / 32768.0
    ms = float(np.mean(x * x))
    out["rms_dbfs"] = 10.0 * np.log10(ms) if ms > 0 else None
    out["peak"] = float(np.max(np.abs(x)))
    out["clipping_ratio"] = float(
        np.count_nonzero(np.abs(pcm.astype(np.int32)) >= clip_rail) / n
    )
    if n > 1:
        out["zcr_per_sec"] = float(
            np.count_nonzero(x[1:] * x[:-1] < 0) * sr / (n - 1)
        )
    flen = max(1, sr * frame_ms // 1000)
    nf = n // flen
    if nf > 0:
        frames = x[: nf * flen].reshape(nf, flen)
        frame_ms_pow = np.mean(frames * frames, axis=1)
        thresh = 10.0 ** (silence_dbfs / 10.0)  # power threshold
        out["silence_ratio"] = float(np.count_nonzero(frame_ms_pow < thresh) / nf)
    # zero-pad the FFT to the next power of two: pocketfft is ~5x faster
    # there than at the worst arbitrary lengths (measured 2.7 -> 0.5 ms at
    # n~33k).  The centroid is POWER-weighted: zero-padding a rectangular
    # window puts its 1/f amplitude sidelobes onto the fine grid, biasing
    # an amplitude-weighted mean by ~56 Hz on a pure tone; squaring decays
    # them 1/f^2, leaving <0.1 Hz bias with no window multiply needed.
    nfft = 1 << max(1, int(n - 1).bit_length())
    pwr = np.abs(np.fft.rfft(x, nfft)) ** 2
    freqs = np.fft.rfftfreq(nfft, 1.0 / sr)
    tot = float(np.sum(pwr))
    if tot > 0:
        out["spectral_centroid_hz"] = float(np.dot(freqs, pwr) / tot)
    if len(pwr) > 1:
        out["dominant_hz"] = float(freqs[int(np.argmax(pwr[1:])) + 1])
    return out


def extract_audio_features(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
    frame_ms: int = 25,
    silence_dbfs: float = -40.0,
    clip_rail: int = 32000,
    fingerprint: bool = False,
) -> DataFrame:
    """Per-clip acoustic features as flat columns; map-only, binary pruned.

    One projection: the UDF consumes (bytes, codec) and the same select
    drops the binary column, so every downstream op (aggregation, banding,
    joins) shuffles only scalar features.  At 10^12 rows this is the scan
    pass of the pipeline; nothing here repartitions.

    fingerprint=True adds an fp64 dedup-key column from the same decode
    (one scan serves both feature stats and duplicate grouping).
    """
    row = partial(compute_features_row, frame_ms=frame_ms,
                  silence_dbfs=silence_dbfs, clip_rail=clip_rail,
                  fingerprint=fingerprint)
    schema = AUDIO_FEATURES_SCHEMA + (", fp_sig string" if fingerprint else "")
    return _map_features(df, schema, [row], (bytes_col, codec_col), bytes_col,
                         keep_cols, hashed="fp_sig" if fingerprint else None)


# ---------------------------------------------------------------------------
# content fingerprinting / cross-codec dedup
# ---------------------------------------------------------------------------


def compute_fingerprint_row(
    b: bytes | None,
    codec: str,
    frame: int = 512,
    hop: int = 256,
) -> str | None:
    """Spectral peak signature of one clip; None on decode failure.

    Per rectangular-window frame: the dominant non-DC |rFFT| bin.  Global:
    top-2 peaks of the *mean frame spectrum* (second peak after masking
    ±3 bins around the first) — same coarse bin grid as the frame peaks,
    so a frequency that is on-grid for the frames can never straddle a
    finer full-length-FFT bin and flip under codec noise.  The signature
    string embeds the sample rate and frame grid so clips at different
    rates never collide by accident; hashing to 64 bits happens JVM-side
    (xxhash64)."""
    dec = _decode(b, codec)
    return None if dec is None else _fingerprint_from_pcm(*dec, frame, hop)


def _fingerprint_from_pcm(
    sr: int, pcm: np.ndarray, frame: int = 512, hop: int = 256
) -> str | None:
    n = len(pcm)
    if n < frame or sr <= 0:
        return None
    x = pcm.astype(np.float64)
    nf = 1 + (n - frame) // hop
    idx = np.arange(frame)[None, :] + hop * np.arange(nf)[:, None]
    frames = x[idx]
    mags = np.abs(np.fft.rfft(frames, axis=1))
    peaks = np.argmax(mags[:, 1:], axis=1) + 1  # per-frame dominant bin
    mean_mag = np.mean(mags, axis=0)
    p1 = int(np.argmax(mean_mag[1:])) + 1
    lo, hi = max(1, p1 - 3), min(len(mean_mag), p1 + 4)
    masked = mean_mag.copy()
    masked[lo:hi] = 0.0
    p2 = int(np.argmax(masked[1:])) + 1
    return f"{sr}/{frame}:{p1},{p2}|" + ",".join(map(str, peaks.tolist()))


def fingerprint_audio(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    frame: int = 512,
    hop: int = 256,
) -> DataFrame:
    """(id, fp64) per decodable clip — the dedup key table.

    Output is ~16 bytes/row: only this ever shuffles.  fp64 is xxhash64
    over the signature string (computed JVM-side, not in the UDF)."""
    udf = _row_udf("string", partial(compute_fingerprint_row, frame=frame,
                                     hop=hop))
    return (
        df.select(F.col(id_col), udf(F.col(bytes_col), F.col(codec_col)).alias("_sig"))
        .where(F.col("_sig").isNotNull())
        .select(id_col, F.xxhash64("_sig").alias("fp64"))
    )


def audio_dedup_groups(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    salt_buckets: int = 16,
) -> DataFrame:
    """Content-duplicate groups: (fp64, n_clips, clip_ids) for groups >= 2.

    Catches re-encoded (codec-changed) and gain-scaled re-uploads that
    exact byte/md5 dedup misses.  clip_ids is capped at 20 per group, and
    the cap is enforced BEFORE aggregation state accumulates: a
    row_number window marks the first 20 ids, and the single groupBy
    collects only those (collect_list drops the NULLs the `when` emits
    past the cap).

    The pre-cap window is SALTED (the group_cap(salt_buckets=) shape,
    ops.py): it partitions on (fp64, xxhash64(id) % salt_buckets), so a
    pathological mega-group — half the corpus being one re-uploaded clip —
    ranks in salt_buckets parallel spillable tasks of ~group/B rows each,
    never one task holding the whole group.  Output is IDENTICAL to the
    unsalted plan: ranking by id is a total order, so every member of the
    group's true first-20 is also in its shard's first-20 — the final
    sort_array + slice(…, 1, 20) over the <= B*20 collected survivors
    recovers exactly the global first 20, and n_clips counts every row
    regardless of rank.  Aggregation state stays bounded at <= B*20 ids
    per group.  Two exchanges of ~16-byte (id, fp64) rows — (fp64, salt)
    for the window, fp64 for the groupBy — and the one expensive decode
    still happens exactly once, map-side, before any shuffle
    (fingerprint_audio is consumed once; no second decode pass).
    ``salt_buckets=1`` reproduces the old single-window plan."""
    from pyspark.sql import Window

    b = max(1, int(salt_buckets))
    fp = fingerprint_audio(
        df, id_col=id_col, bytes_col=bytes_col, codec_col=codec_col
    )
    salted = fp.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(b))
    )
    w = Window.partitionBy("fp64", "_salt").orderBy(id_col)
    ranked = salted.withColumn("_rn", F.row_number().over(w))
    capped = ranked.groupBy("fp64").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.slice(
            F.sort_array(F.collect_list(
                F.when(F.col("_rn") <= 20, F.col(id_col)))),
            1, 20,
        ).alias("clip_ids"),
    )
    return capped.where(F.col("n_clips") >= 2)


# ---------------------------------------------------------------------------
# silence bounds / trim
# ---------------------------------------------------------------------------

SILENCE_BOUNDS_SCHEMA = "lead_ms int, trail_ms int, active_ms int"


def silence_bounds_row(
    b: bytes | None,
    codec: str,
    frame_ms: int = 25,
    silence_dbfs: float = -40.0,
) -> tuple[int | None, int | None, int | None]:
    """(lead_ms, trail_ms, active_ms) of one clip on the frame_ms grid.

    Frames with power below silence_dbfs at both ends count as lead/trail
    dead air; a trailing partial frame (clip length not a multiple of
    frame_ms) joins the trail if silent, else the active span.  An
    all-silent clip reports (dur, 0, 0).  (None, None, None) on decode
    failure."""
    dec = _decode(b, codec)
    if dec is None:
        return None, None, None
    return _bounds_from_pcm(*dec, frame_ms, silence_dbfs)


def _bounds_from_pcm(
    sr: int, pcm: np.ndarray, frame_ms: int, silence_dbfs: float
) -> tuple[int | None, int | None, int | None]:
    n = len(pcm)
    if n == 0 or sr <= 0:
        return None, None, None
    flen = max(1, sr * frame_ms // 1000)
    nf = n // flen
    thresh = 10.0 ** (silence_dbfs / 10.0)
    x = pcm.astype(np.float64) / 32768.0

    def _ms(samples: int) -> int:
        return int(round(samples * 1000.0 / sr))

    if nf == 0:  # shorter than one frame: one partial frame decides all
        silent = float(np.mean(x * x)) < thresh
        return (_ms(n), 0, 0) if silent else (0, 0, _ms(n))
    frame_pow = np.mean(x[: nf * flen].reshape(nf, flen) ** 2, axis=1)
    voiced = np.nonzero(frame_pow >= thresh)[0]
    leftover = n - nf * flen
    leftover_voiced = (
        leftover > 0 and float(np.mean(x[nf * flen:] ** 2)) >= thresh
    )
    if len(voiced) == 0:
        if leftover_voiced:
            return _ms(nf * flen), 0, _ms(leftover)
        return _ms(n), 0, 0
    first = int(voiced[0])
    last_sample = n if leftover_voiced else (int(voiced[-1]) + 1) * flen
    lead = first * flen
    return _ms(lead), _ms(n - last_sample), _ms(last_sample - lead)


def silence_bounds(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
    frame_ms: int = 25,
    silence_dbfs: float = -40.0,
) -> DataFrame:
    """Per-clip dead-air analysis as flat columns; map-only, binary pruned
    in the same projection (same plan shape as extract_audio_features)."""
    row = partial(silence_bounds_row, frame_ms=frame_ms,
                  silence_dbfs=silence_dbfs)
    return _map_features(df, SILENCE_BOUNDS_SCHEMA, [row],
                         (bytes_col, codec_col), bytes_col, keep_cols)


def trim_silence(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    frame_ms: int = 25,
    silence_dbfs: float = -40.0,
) -> DataFrame:
    """Cut lead/trail dead air; re-encode the active span as pcm_s16le WAV.

    mapInPandas with the input schema preserved (sr_hz/dur_ms/codec updated
    when present, like resample_audio); undecodable rows pass through with
    null bytes.  An all-silent or empty clip trims to empty bytes (dur_ms
    0) so a downstream `dur_ms > 0` filter drops it."""
    return _map_payloads(
        df, [partial(_trim_kernel, frame_ms=frame_ms,
                     silence_dbfs=silence_dbfs)],
        bytes_col=bytes_col, codec_col=codec_col, headers=("sr_hz", "dur_ms"))


def _trim_kernel(pcm, sr, _rid, *, frame_ms, silence_dbfs):
    if len(pcm) == 0:  # nothing to trim: empty, like an all-silent clip
        return pcm, sr, {"sr_hz": sr, "dur_ms": 0}
    lo, _tr, ac = _bounds_from_pcm(sr, pcm, frame_ms, silence_dbfs)
    if lo is None:
        raise ValueError("no samples to trim")
    a = int(round(lo * sr / 1000.0))
    z = a + int(round(ac * sr / 1000.0))
    return pcm[a:z], sr, {"sr_hz": sr, "dur_ms": ac}


# ---------------------------------------------------------------------------
# VAD segmentation (utterance splitting)
# ---------------------------------------------------------------------------

SEGMENT_STATS_SCHEMA = "n_segments int, speech_ms int, longest_gap_ms int"


def _segments_from_pcm(
    sr: int,
    pcm: np.ndarray,
    frame_ms: int,
    silence_dbfs: float,
    min_gap_ms: int,
) -> list[tuple[int, int]] | None:
    """Speech segments of one decoded clip as [(start_sample, end_sample)].

    Energy VAD on the same frame_ms power grid as _bounds_from_pcm (a
    trailing partial frame is one more frame); consecutive voiced frames
    form runs, and runs separated by a silence gap SHORTER than
    `min_gap_ms` are merged — the merged segment spans the absorbed gap,
    matching how an ASR utterance splitter keeps intra-utterance pauses.
    Gaps >= min_gap_ms split.  Returns [] for an all-silent clip, None
    for an empty/invalid one.
    """
    n = len(pcm)
    if n == 0 or sr <= 0:
        return None
    flen = max(1, sr * frame_ms // 1000)
    thresh = 10.0 ** (silence_dbfs / 10.0)
    x = pcm.astype(np.float64) / 32768.0
    nf = n // flen
    bounds: list[tuple[int, int]] = []
    pows: list[float] = []
    if nf:
        fr = x[: nf * flen].reshape(nf, flen)
        pows = [float(p) for p in np.mean(fr * fr, axis=1)]
        bounds = [(i * flen, (i + 1) * flen) for i in range(nf)]
    if n - nf * flen > 0:
        tail = x[nf * flen:]
        pows.append(float(np.mean(tail * tail)))
        bounds.append((nf * flen, n))
    runs: list[tuple[int, int]] = []
    start: int | None = None
    for i, p in enumerate(pows):
        if p >= thresh and start is None:
            start = i
        elif p < thresh and start is not None:
            runs.append((bounds[start][0], bounds[i - 1][1]))
            start = None
    if start is not None:
        runs.append((bounds[start][0], bounds[-1][1]))
    merged: list[tuple[int, int]] = []
    for a, z in runs:
        if merged and (a - merged[-1][1]) * 1000.0 / sr < min_gap_ms:
            merged[-1] = (merged[-1][0], z)
        else:
            merged.append((a, z))
    return merged


def segment_stats_row(
    b: bytes | None,
    codec: str,
    frame_ms: int = 25,
    silence_dbfs: float = -40.0,
    min_gap_ms: int = 150,
) -> tuple[int | None, int | None, int | None]:
    """(n_segments, speech_ms, longest_gap_ms) of one clip payload.

    speech_ms sums the merged segment spans (absorbed sub-threshold gaps
    included); longest_gap_ms is the longest INTERNAL silence between
    surviving segments (0 with fewer than two).  (None, None, None) on
    decode failure."""
    dec = _decode(b, codec)
    if dec is None:
        return None, None, None
    sr, pcm = dec
    segs = _segments_from_pcm(sr, pcm, frame_ms, silence_dbfs, min_gap_ms)
    if segs is None:
        return None, None, None

    def _ms(samples: int) -> int:
        return int(round(samples * 1000.0 / sr))

    speech = sum(_ms(z - a) for a, z in segs)
    gap = max(
        (_ms(b2 - e1) for (_, e1), (b2, _) in zip(segs, segs[1:])),
        default=0,
    )
    return len(segs), speech, gap


def segment_stats(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
    frame_ms: int = 25,
    silence_dbfs: float = -40.0,
    min_gap_ms: int = 150,
) -> DataFrame:
    """Per-clip VAD segmentation summary as flat columns — the measurement
    pass of segment_audio.  Map-only, one decode per clip, binary pruned
    in the same projection (the silence_bounds plan shape)."""
    row = partial(segment_stats_row, frame_ms=frame_ms,
                  silence_dbfs=silence_dbfs, min_gap_ms=min_gap_ms)
    return _map_features(df, SEGMENT_STATS_SCHEMA, [row],
                         (bytes_col, codec_col), bytes_col, keep_cols)


def segment_audio(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    frame_ms: int = 25,
    silence_dbfs: float = -40.0,
    min_gap_ms: int = 150,
) -> DataFrame:
    """Split each clip into speech segments at silence gaps >= min_gap_ms —
    the ASR-pipeline utterance-splitting step (one long recording in, one
    row per utterance out), each segment re-encoded as pcm_s16le WAV.

    Output schema = input schema + `seg_idx int` (0-based within the
    clip); sr_hz/dur_ms/codec columns are updated per segment when
    present.  All-silent clips produce zero rows (nothing to train on);
    undecodable payloads also produce zero rows — run the validation
    suite first, which is where they are flagged (same division of labor
    as trim_silence's null-bytes convention, but an exploding op has no
    row to carry the null through).

    mapInPandas keeps payload bytes inside Arrow batches end to end; the
    explode happens map-side, so no shuffle is introduced and downstream
    per-utterance ops see ordinary rows.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    # fresh StructType — StructType.add() MUTATES the DataFrame's cached
    # schema object, which corrupts df.columns for later operations
    out_schema = StructType(
        list(df.schema.fields) + [StructField("seg_idx", IntegerType())]
    )
    cols = list(df.columns)

    def _batches(it):
        from gx_spark.audio import decode_payload, wav_encode
        from gx_spark.audio_ops import _segments_from_pcm as _sfp

        for pdf in it:
            out: dict[str, list] = {c: [] for c in cols}
            out["seg_idx"] = []
            for row in pdf.itertuples(index=False):
                d = dict(zip(cols, row))
                try:
                    sr, pcm = decode_payload(bytes(d[bytes_col]),
                                             d[codec_col])
                except (ValueError, NotImplementedError, TypeError):
                    continue
                segs = _sfp(sr, pcm, frame_ms, silence_dbfs, min_gap_ms)
                if not segs:
                    continue
                for k, (a, z) in enumerate(segs):
                    d2 = dict(d)
                    d2[bytes_col] = wav_encode(pcm[a:z], sr)
                    if "sr_hz" in d2:
                        d2["sr_hz"] = sr
                    if "dur_ms" in d2:
                        d2["dur_ms"] = int(round((z - a) * 1000.0 / sr))
                    if codec_col in d2:
                        d2[codec_col] = "pcm_s16le"
                    d2["seg_idx"] = k
                    for c in out:
                        out[c].append(d2[c])
            pdf_out = pd.DataFrame(out, copy=False)
            if "sr_hz" in pdf_out.columns:
                pdf_out["sr_hz"] = pd.array(pdf_out["sr_hz"], dtype="Int32")
            if "dur_ms" in pdf_out.columns:
                pdf_out["dur_ms"] = pd.array(pdf_out["dur_ms"], dtype="Int32")
            pdf_out["seg_idx"] = pd.array(pdf_out["seg_idx"], dtype="Int32")
            yield pdf_out

    return map_in_pandas(df, _batches, out_schema)


# ---------------------------------------------------------------------------
# loudness normalization
# ---------------------------------------------------------------------------


def normalize_gain_pcm(
    pcm: np.ndarray, target_dbfs: float, peak_limit: float
) -> tuple[np.ndarray, float]:
    """Scale one clip's PCM so its RMS (int16 full-scale grid, the
    compute_features_row convention) hits target_dbfs, capping the gain so
    the post-scale peak stays <= peak_limit — normalization must never
    INTRODUCE clipping.  Returns (scaled int16 pcm, applied gain in dB).
    All-silent input comes back unchanged with gain 0 (gain is undefined
    on silence)."""
    x = pcm.astype(np.float64) / 32768.0
    ms = float(np.mean(x * x)) if len(x) else 0.0
    if ms <= 0.0:
        return pcm, 0.0
    rms_dbfs = 10.0 * np.log10(ms)
    gain = 10.0 ** ((target_dbfs - rms_dbfs) / 20.0)
    peak = float(np.max(np.abs(x)))
    if peak * gain > peak_limit:
        gain = peak_limit / peak
    y = np.clip(np.rint(pcm.astype(np.float64) * gain),
                -32768, 32767).astype(np.int16)
    return y, 20.0 * np.log10(gain)


def normalize_gain(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    target_dbfs: float = -20.0,
    peak_limit: float = 0.999,
) -> DataFrame:
    """Loudness normalization — the gain-staging step every speech corpus
    runs before training (EBU R128 family; this is the RMS flavor on the
    same int16 grid as the feature/validation passes, so a downstream
    `rms_dbfs BETWEEN` expectation closes the loop).

    Each clip is scaled so its RMS hits `target_dbfs`, with the gain
    capped so the post-scale peak stays <= `peak_limit` (a quiet-but-peaky
    clip gets the largest clipping-free gain instead of the target).
    Output schema = input schema + `gain_db double` (the applied gain;
    0.0 for all-silent clips which pass through unchanged, NULL for
    undecodable rows which pass through with null bytes — the
    trim_silence convention).  Re-encodes pcm_s16le WAV; sr_hz/dur_ms
    are unchanged by a pure gain.

    mapInPandas keeps payloads inside Arrow batches; map-only, no
    shuffle.
    """
    return _map_payloads(
        df, [partial(_gain_kernel, target_dbfs=target_dbfs,
                     peak_limit=peak_limit)],
        bytes_col=bytes_col, codec_col=codec_col, stats="gain_db double")


def _gain_kernel(pcm, sr, _rid, *, target_dbfs, peak_limit):
    y, gdb = normalize_gain_pcm(pcm, target_dbfs, peak_limit)
    return (None if y is pcm else y), sr, {"gain_db": gdb}


def speed_perturb(
    df: DataFrame,
    factor: float,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    taps: int = 32,
) -> DataFrame:
    """Tempo perturbation by resampling — the standard ASR augmentation
    (Ko et al., Interspeech 2015: factors 0.9/1.0/1.1 triple a corpus):
    the waveform is sinc-resampled by 1/factor but KEEPS its original
    sample-rate label, so playback runs `factor`x faster and duration
    scales by 1/factor (pitch shifts with it, as in the reference
    recipe).  n_samples_out = round(n / factor) exactly — the
    resample_sinc contract with sr_to = sr/factor.

    Output re-encodes pcm_s16le WAV at the ORIGINAL sr; dur_ms (when
    present) is recomputed from the new length.  Undecodable rows pass
    through with null bytes.  mapInPandas, map-only — payloads never
    shuffle."""
    if factor <= 0:
        raise ValueError("factor must be positive")
    return _map_payloads(
        df, [partial(_speed_kernel, factor=factor, taps=taps)],
        bytes_col=bytes_col, codec_col=codec_col, headers=("dur_ms",))


def _speed_kernel(pcm, sr, _rid, *, factor, taps):
    # resample to sr/factor worth of samples, relabel at sr
    n_out = int(round(len(pcm) / factor))
    y = resample_sinc(pcm, sr, max(1, int(round(sr / factor))), taps=taps)
    # sinc grid rounding and the n/factor contract agree except at
    # extreme factors; trim/pad the odd sample
    if len(y) > n_out:
        y = y[:n_out]
    elif len(y) < n_out:
        y = np.pad(y, (0, n_out - len(y)))
    return y, sr, {"dur_ms": int(round(len(y) * 1000.0 / sr))}


def pad_or_trim(
    df: DataFrame,
    target_ms: int,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """Fix every clip to exactly `target_ms` — the batching step in front
    of fixed-window models (30 s Whisper windows, wav2vec crops): longer
    clips truncate at the END, shorter clips zero-pad at the end, so
    n_samples_out == sr * target_ms / 1000 exactly for every decodable
    row.  Output re-encodes pcm_s16le at the original sr with dur_ms
    (when present) set to target_ms; undecodable rows pass through with
    null bytes.  mapInPandas, map-only."""
    if target_ms <= 0:
        raise ValueError("target_ms must be positive")
    return _map_payloads(
        df, [partial(_window_kernel, target_ms=target_ms)],
        bytes_col=bytes_col, codec_col=codec_col, headers=("dur_ms",))


def _window_kernel(pcm, sr, _rid, *, target_ms):
    n_t = sr * int(target_ms) // 1000
    y = pcm[:n_t] if len(pcm) >= n_t else np.pad(pcm, (0, n_t - len(pcm)))
    return y, sr, {"dur_ms": int(target_ms)}


def augment_noise_pcm(
    pcm: np.ndarray, snr_db: float, rng
) -> tuple[np.ndarray, float | None]:
    """Mix white noise into one clip at exactly `snr_db` below its own RMS
    (pre-quantization).  The noise vector is drawn from `rng`, then scaled
    by its own measured RMS so the applied clean/noise power ratio is
    EXACT arithmetic, not an expectation over the draw.  Returns
    (mixed int16 pcm, noise RMS in dBFS); an all-silent clip passes
    through unchanged with None (SNR vs silence is undefined)."""
    x = pcm.astype(np.float64) / 32768.0
    n = len(x)
    ms = float(np.mean(x * x)) if n else 0.0
    if ms <= 0.0:
        return pcm, None
    clean_rms = ms ** 0.5
    target_noise_rms = clean_rms * 10.0 ** (-snr_db / 20.0)
    noise = rng.standard_normal(n)
    nrms = float(np.sqrt(np.mean(noise * noise)))
    if nrms <= 0.0:  # zero-length guard; n>=1 here so nrms>0 in practice
        return pcm, None
    noise *= target_noise_rms / nrms
    y = np.clip(np.rint((x + noise) * 32768.0), -32768, 32767).astype(np.int16)
    return y, 20.0 * np.log10(target_noise_rms)


def augment_noise(
    df: DataFrame,
    snr_db: float,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    seed: int = 42,
) -> DataFrame:
    """Additive-noise augmentation at a fixed SNR — the standard ASR
    robustness step (babble/white mixing at 5-30 dB).  Each clip gets an
    independent white-noise draw scaled to exactly `snr_db` below the
    clip's own RMS; the draw is seeded from (seed, row id), so the output
    is BIT-IDENTICAL at any parallelism, partitioning, or row order — the
    determinism contract every op in this engine carries (a re-run of a
    failed partition must reproduce, per the checkpoint/resume design).

    Output schema = input + `noise_rms_dbfs double` (the exact applied
    noise floor; NULL for undecodable rows, which pass through with null
    bytes, and for all-silent clips, which pass through unchanged — SNR
    vs silence is undefined).  Mixed rows re-encode as pcm_s16le WAV.
    mapInPandas, map-only: payloads never enter a shuffle."""
    return _map_payloads(
        df, [partial(_noise_kernel, snr_db=snr_db, seed=seed)],
        bytes_col=bytes_col, codec_col=codec_col, id_col=id_col,
        stats="noise_rms_dbfs double")


def _noise_kernel(pcm, sr, rid, *, snr_db, seed):
    rng = np.random.default_rng(zlib.crc32(f"{seed}:{rid}".encode("utf-8")))
    y, floor = augment_noise_pcm(pcm, snr_db, rng)
    return (None if floor is None else y), sr, {"noise_rms_dbfs": floor}


# ---------------------------------------------------------------------------
# codec transcoding
# ---------------------------------------------------------------------------


def transcode_audio(
    df: DataFrame,
    to_codec: str,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """Re-encode every clip's payload in `to_codec` — the storage-format
    unification step at the end of a curation pipeline (validate → trim →
    segment → normalize → resample → TRANSCODE → shard).  `to_codec` must
    be one of the in-sandbox encoders (pcm_s16le / pcm_mulaw / pcm_alaw
    WAV, flac); flac is lossless (decode(transcode(x)) is bit-identical),
    the G.711 companded codecs are lossy by design.

    Schema preserved; codec column updated; undecodable rows pass through
    with null bytes (the trim_silence convention).  Map-only mapInPandas,
    payloads stay inside Arrow batches — at 100 TB this is the classic
    embarrassingly-parallel rewrite, and the absence of any shuffle is
    the whole design.
    """
    from .audio import DECODABLE_CODECS

    if to_codec not in DECODABLE_CODECS:
        raise ValueError(
            f"to_codec must be one of {sorted(DECODABLE_CODECS)}, "
            f"got {to_codec!r}")
    return _map_payloads(df, [_transcode_kernel], bytes_col=bytes_col,
                         codec_col=codec_col, to_codec=to_codec)


def _transcode_kernel(pcm, sr, _rid):
    return pcm, sr, {}


# ---------------------------------------------------------------------------
# sample-rate conversion
# ---------------------------------------------------------------------------


@lru_cache(maxsize=8)
def _sinc_phase_bank(sr_from: int, sr_to: int, taps: int):
    """Polyphase Hann-sinc filter bank for one rate pair.

    The fractional input position of output sample i is
    frac(i * M / L) = ((i*M) mod L) / L with M/L = sr_from/sr_to reduced,
    so only L distinct tap vectors exist — computing them ONCE per rate
    pair (L*taps transcendentals, cached across every clip of a batch and
    every batch of a job) replaces n_out*taps sinc/cos evaluations per
    clip, which profiling showed was ~95% of resample wall time.  Returns
    (M, L, offs, bank[L, taps]); bank row r holds the weights for
    frac = r/L, identical arithmetic to the per-sample formula."""
    g = gcd(sr_from, sr_to)
    m_up, l_ph = sr_from // g, sr_to // g
    offs = np.arange(-(taps // 2) + 1, taps // 2 + 1, dtype=np.int64)
    d = (np.arange(l_ph, dtype=np.float64) / l_ph)[:, None] - offs[None, :]
    fc = min(1.0, sr_to / sr_from)
    w = 0.5 + 0.5 * np.cos(np.pi * d / (taps // 2))  # Hann, |d| <= taps/2
    bank = fc * np.sinc(fc * d) * np.clip(w, 0.0, None)
    return m_up, l_ph, offs, bank


def resample_sinc(
    pcm: np.ndarray, sr_from: int, sr_to: int, taps: int = 32
) -> np.ndarray:
    """Windowed-sinc (Hann) sample-rate conversion of int16 mono PCM.

    Polyphase: the L = sr_to/gcd distinct tap vectors come from a cached
    per-rate-pair bank (_sinc_phase_bank), so per-clip work is just the
    integer phase/index arithmetic, the neighbor gather, and one
    O(taps * n_out) dot product — no per-sample transcendentals.  The
    cutoff tracks min(sr_from, sr_to)/2 so downsampling anti-aliases.
    Input positions are exact rationals ((i*M)//L, (i*M)%L), eliminating
    the accumulated float error of the former t = i*(M/L) formulation."""
    if sr_from <= 0 or sr_to <= 0:
        raise ValueError("sample rates must be positive")
    if sr_from == sr_to:
        return pcm.copy()
    x = pcm.astype(np.float64)
    n = len(x)
    n_out = int(round(n * sr_to / sr_from))
    if n == 0 or n_out == 0:
        return np.zeros(0, dtype=np.int16)
    m_up, l_ph, offs, bank = _sinc_phase_bank(sr_from, sr_to, taps)
    im = np.arange(n_out, dtype=np.int64) * m_up
    k0 = im // l_ph
    # zero-pad so every neighbor index is in range: one plain gather, no
    # bounds mask (edge samples read the implicit zeros, same math)
    pad = taps // 2 + 1
    xp = np.zeros(n + 2 * pad, dtype=np.float64)
    xp[pad:pad + n] = x
    idx = (k0[:, None] + pad) + offs[None, :]
    y = np.einsum("ij,ij->i", xp[idx], bank[im % l_ph])
    return np.clip(np.rint(y), -32768, 32767).astype(np.int16)


def resample_audio(
    df: DataFrame,
    target_sr: int,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    taps: int = 32,
) -> DataFrame:
    """Re-encode every decodable clip at target_sr as pcm_s16le WAV.

    mapInPandas so input and output binary stay inside one Arrow batch
    stream; rows that fail decode pass through with null bytes (callers
    filter or route them to a violations sink).  Columns other than
    (bytes, sr_hz, dur_ms, codec) are preserved unchanged."""
    out_schema = df.schema
    names = [f.name for f in out_schema]
    for required in (bytes_col, codec_col):
        if required not in names:
            raise ValueError(f"missing column {required!r}")
    return _map_payloads(
        df, [partial(_resample_kernel, target_sr=target_sr, taps=taps)],
        bytes_col=bytes_col, codec_col=codec_col, headers=("sr_hz", "dur_ms"))


def _resample_kernel(pcm, sr, _rid, *, target_sr, taps):
    y = resample_sinc(pcm, sr, target_sr, taps=taps)
    dur = int(round(len(y) * 1000.0 / target_sr))
    return y, target_sr, {"sr_hz": target_sr, "dur_ms": dur}


# ---------------------------------------------------------------------------
# validation + curation from ONE decode
# ---------------------------------------------------------------------------

_CURATION_FLAG_KEYS = (
    "decodable", "header_sr", "header_sr_ok", "dur_ok", "n_samples",
    "snr_db", "transcript_ok",
)
_CURATION_FEAT_KEYS = tuple(
    k for k in _FEATURE_KEYS if k not in ("n_samples", "header_sr")
)
CURATION_SCHEMA = (
    "decodable boolean, header_sr int, header_sr_ok boolean, "
    "dur_ok boolean, n_samples int, snr_db double, transcript_ok boolean, "
    "rms_dbfs double, peak double, clipping_ratio double, "
    "zcr_per_sec double, silence_ratio double, "
    "spectral_centroid_hz double, dominant_hz double, fp_sig string"
)


def compute_curation_row(
    clip_id: str, b: bytes | None, sr: int, dur: int, codec: str,
    transcript: str | None, frame_ms: int = 25, silence_dbfs: float = -40.0,
    clip_rail: int = 32000,
) -> dict[str, Any]:
    """Validation flags AND curation features from ONE decode of one clip.

    The big-table anti-pattern is running the validation suite and the
    curation pass as two jobs, each decoding every payload; this row
    function decodes once and feeds both compute_flags_row (via its
    `decoded` hand-off) and compute_features_row.  Flag fields match the
    audio suite's semantics exactly (same functions); feature fields match
    extract_audio_features; fp_sig is the cross-codec dedup signature."""
    from .audio import DECODABLE_CODECS, compute_flags_row, decode_payload

    dec = None
    if b is not None and codec in DECODABLE_CODECS:
        try:
            dec = decode_payload(bytes(b), codec)
        except (ValueError, NotImplementedError):
            dec = None
    # opus/unknown-codec/null payloads return from compute_flags_row's
    # early paths without consulting `decoded`, so dec=None is safe there
    flags = compute_flags_row(clip_id, b, sr, dur, codec, transcript,
                              decoded=dec)
    feats = compute_features_row(
        b if dec is not None else None, codec, frame_ms=frame_ms,
        silence_dbfs=silence_dbfs, clip_rail=clip_rail, fingerprint=True,
        decoded=dec)
    out = {k: flags[k] for k in _CURATION_FLAG_KEYS}
    for k in _CURATION_FEAT_KEYS:
        out[k] = feats[k]
    out["fp_sig"] = feats["fp_sig"]
    return out


def _curation_cells(clip_id, b, sr, dur, codec, transcript, **kw):
    """compute_curation_row on one UDF row (a null sr/dur reads as 0)."""
    return compute_curation_row(
        clip_id, b, int(sr) if sr is not None else 0,
        int(dur) if dur is not None else 0, codec, transcript, **kw)


def validate_and_extract_audio(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    sr_col: str = "sr_hz",
    dur_col: str = "dur_ms",
    codec_col: str = "codec",
    transcript_col: str = "transcript",
    frame_ms: int = 25,
    silence_dbfs: float = -40.0,
    clip_rail: int = 32000,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """One map-side pass emitting BOTH the north-rule validation flags
    (decodable / header+duration consistency / SNR vs reference /
    transcript equality) and the curation features + cross-codec dedup key
    — every payload decoded exactly once, binary projected away in the
    same select, so downstream verdicts and curation shuffles touch only
    scalars.

    Validate the flag columns with ORDINARY column expectations (they are
    plain booleans/doubles now — no audio UDF in the suite), e.g.::

        suite = (ExpectationSuite("audio_curated")
                 .add("expect_column_values_to_be_in_set",
                      column="decodable", value_set=[True])
                 .add("expect_column_values_to_be_between",
                      column="snr_db", min_value=30.0))

    tests/test_curation_audio.py pins that these verdicts equal the
    decode-in-suite audio_suite() verdicts row for row."""
    row = partial(_curation_cells, frame_ms=frame_ms,
                  silence_dbfs=silence_dbfs, clip_rail=clip_rail)
    return _map_features(
        df, CURATION_SCHEMA, [row],
        (id_col, bytes_col, sr_col, dur_col, codec_col, transcript_col),
        bytes_col, keep_cols, hashed="fp_sig")


# ---------------------------------------------------------------------------
# log-mel filterbank features (ASR front-end statistics)
# ---------------------------------------------------------------------------

MEL_FEATURES_SCHEMA = (
    "n_samples long, n_frames long, n_mels int, dominant_mel int, "
    "mel_mean_db double"
)

_MEL_KEYS = ("n_samples", "n_frames", "n_mels", "dominant_mel",
             "mel_mean_db")


def hz_to_mel(f):
    """HTK mel scale: mel = 2595 * log10(1 + f/700)."""
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


def mel_filterbank(
    sr: int, nfft: int, n_mels: int, fmin: float = 0.0,
    fmax: float | None = None,
) -> np.ndarray:
    """(n_mels, nfft//2+1) triangular HTK-mel filters (peak 1 at the
    exact center frequency; the sampled maximum on the FFT grid is the
    nearest bin's weight).

    Filter i rises linearly from mel point i to i+1 and falls to i+2,
    with the n_mels+2 points equally spaced on the mel scale between
    fmin and fmax (default Nyquist) — the standard ASR front-end bank
    (HTK book §5.4; Kaldi/librosa htk=True agree on these edges)."""
    if fmax is None:
        fmax = sr / 2.0
    if not (0 <= fmin < fmax <= sr / 2.0):
        raise ValueError("need 0 <= fmin < fmax <= sr/2")
    pts = mel_to_hz(np.linspace(hz_to_mel(fmin), hz_to_mel(fmax),
                                n_mels + 2))
    bins = np.fft.rfftfreq(nfft, 1.0 / sr)
    lo, ctr, hi = pts[:-2, None], pts[1:-1, None], pts[2:, None]
    up = (bins[None, :] - lo) / np.maximum(ctr - lo, 1e-12)
    down = (hi - bins[None, :]) / np.maximum(hi - ctr, 1e-12)
    return np.clip(np.minimum(up, down), 0.0, None)


def _mel_power(sr: int, pcm: np.ndarray, n_mels: int, frame_ms: int,
               hop_ms: int) -> tuple[int, np.ndarray | None]:
    """(n_frames, (n_frames, n_mels) mel-band power) of one clip with
    sr > 0: `frame_ms` frames every `hop_ms`, periodic-Hann windowed,
    power spectra on the next-pow2 FFT grid pooled through the HTK
    triangular bank — the front end of the mel and MFCC features,
    SpecAugment and CMVN.  n_frames is 1 + floor((n - win) / hop) for
    n >= win, else 0 with no matrix."""
    win = max(1, sr * frame_ms // 1000)
    hop = max(1, sr * hop_ms // 1000)
    n = len(pcm)
    nf = 0 if n < win else 1 + (n - win) // hop
    if nf == 0:
        return 0, None
    x = pcm.astype(np.float64) / 32768.0
    idx = np.arange(nf)[:, None] * hop + np.arange(win)[None, :]
    hann = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(win) / win)
    nfft = 1 << max(1, int(win - 1).bit_length())
    pwr = np.abs(np.fft.rfft(x[idx] * hann, nfft, axis=1)) ** 2
    return nf, pwr @ mel_filterbank(sr, nfft, n_mels).T


def compute_mel_row(
    b: bytes | None,
    codec: str,
    n_mels: int = 26,
    frame_ms: int = 25,
    hop_ms: int = 10,
    decoded: Any = None,
) -> dict[str, Any]:
    """Log-mel filterbank statistics of one clip; None fields on decode
    failure.  Frames are `frame_ms` long with `hop_ms` hop (the 25/10
    ASR convention), periodic-Hann windowed, power-spectrum'd on the
    next-pow2 FFT grid, then pooled through the HTK triangular bank:

    - n_frames:     1 + floor((n - win) / hop) for n >= win, else 0 —
                    exact arithmetic an oracle can recompute from the
                    labeled (sr_hz, dur_ms)
    - dominant_mel: argmax over filters of the frame-mean mel energy
                    (first index on ties), None when n_frames == 0
    - mel_mean_db:  10*log10(grand mean mel energy), None for silence
    """
    out: dict[str, Any] = {k: None for k in _MEL_KEYS}
    out["n_mels"] = int(n_mels)
    dec = _decode(b, codec, decoded)
    if dec is None:
        return out
    sr, pcm = dec
    n = len(pcm)
    out["n_samples"] = n
    if sr <= 0:
        return out
    nf, mel = _mel_power(sr, pcm, n_mels, frame_ms, hop_ms)
    out["n_frames"] = nf
    if nf == 0:
        return out
    mel_mean = mel.mean(axis=0)
    grand = float(mel.mean())
    if grand > 0.0:
        out["dominant_mel"] = int(np.argmax(mel_mean))
        out["mel_mean_db"] = float(10.0 * np.log10(grand))
    return out


def mel_features(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
    n_mels: int = 26,
    frame_ms: int = 25,
    hop_ms: int = 10,
) -> DataFrame:
    """Per-clip log-mel filterbank statistics as flat columns; map-only,
    binary pruned in the same select (the extract_audio_features shape —
    one Arrow-batched decode, everything downstream shuffles scalars).

    This is the distributable front-end-statistics pass of an ASR
    pipeline: dominant mel band and mean log-mel level are the cheap
    per-clip summaries used for corpus banding and bandwidth screening
    (a clip whose dominant band sits at the top filter of its labeled
    Nyquist is upsampled narrowband — content above the original Nyquist
    is absent)."""
    row = partial(compute_mel_row, n_mels=n_mels, frame_ms=frame_ms,
                  hop_ms=hop_ms)
    return _map_features(df, MEL_FEATURES_SCHEMA, [row],
                         (bytes_col, codec_col), bytes_col, keep_cols)


# ---------------------------------------------------------------------------
# MFCCs (DCT-II cepstra over the log-mel bank — the classic ASR front-end)
# ---------------------------------------------------------------------------

MFCC_FEATURES_SCHEMA = (
    "n_samples long, n_frames long, n_mfcc int, c0_mean double, "
    "c1_mean double, c2_mean double"
)

_MFCC_KEYS = ("n_samples", "n_frames", "n_mfcc", "c0_mean", "c1_mean",
              "c2_mean")


def dct2_ortho(n_out: int, n_in: int) -> np.ndarray:
    """(n_out, n_in) orthonormal DCT-II matrix (scipy.fftpack.dct
    norm='ortho' convention — the HTK/Kaldi/librosa MFCC transform)."""
    k = np.arange(n_out)[:, None]
    i = np.arange(n_in)[None, :]
    m = np.cos(np.pi * k * (2 * i + 1) / (2.0 * n_in))
    m *= np.sqrt(2.0 / n_in)
    m[0] *= np.sqrt(0.5)
    return m


def compute_mfcc_row(
    b: bytes | None,
    codec: str,
    n_mfcc: int = 13,
    n_mels: int = 26,
    frame_ms: int = 25,
    hop_ms: int = 10,
) -> dict[str, Any]:
    """Per-clip MFCC summary: frame the clip exactly as compute_mel_row
    (25/10 periodic Hann, pow-2 FFT, HTK triangular bank), take
    ln(max(mel, 1e-10)) and the orthonormal DCT-II, keep the first n_mfcc
    coefficients, report the frame-mean of c0/c1/c2 — the cepstral
    summary used for corpus banding (c0 tracks log energy, c1/c2 spectral
    tilt/compactness).  None fields on decode failure / empty clip."""
    out: dict[str, Any] = {k: None for k in _MFCC_KEYS}
    out["n_mfcc"] = int(n_mfcc)
    dec = _decode(b, codec)
    if dec is None:
        return out
    sr, pcm = dec
    n = len(pcm)
    out["n_samples"] = n
    if sr <= 0:
        return out
    nf, mel = _mel_power(sr, pcm, n_mels, frame_ms, hop_ms)
    out["n_frames"] = nf
    if nf == 0:
        return out
    logmel = np.log(np.maximum(mel, 1e-10))
    cep = logmel @ dct2_ortho(n_mfcc, n_mels).T  # (nf, n_mfcc)
    means = cep.mean(axis=0)
    out["c0_mean"] = float(means[0])
    out["c1_mean"] = float(means[1]) if n_mfcc > 1 else None
    out["c2_mean"] = float(means[2]) if n_mfcc > 2 else None
    return out


def mfcc_features(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
    n_mfcc: int = 13,
    n_mels: int = 26,
    frame_ms: int = 25,
    hop_ms: int = 10,
) -> DataFrame:
    """Per-clip MFCC summary as flat columns; map-only, one Arrow-batched
    decode, binary pruned in the same select (the mel_features shape) —
    only scalar cepstral summaries ever shuffle."""
    row = partial(compute_mfcc_row, n_mfcc=n_mfcc, n_mels=n_mels,
                  frame_ms=frame_ms, hop_ms=hop_ms)
    return _map_features(df, MFCC_FEATURES_SCHEMA, [row],
                         (bytes_col, codec_col), bytes_col, keep_cols)


def augment_pipeline(
    df: DataFrame,
    *,
    reverb_gain: float | None = None,
    reverb_kind: str = "exp_decay",
    rt60_ms: float = 300.0,
    reverb_delay_ms: float = 50.0,
    snr_db: float | None = None,
    tempo: float | None = None,
    speed: float | None = None,
    target_ms: int | None = None,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    seed: int = 42,
    taps: int = 32,
) -> DataFrame:
    """Fused augmentation chain: noise mix -> speed perturb -> fixed
    window in ONE decode/encode pass.  Composing augment_noise /
    speed_perturb / pad_or_trim as separate ops is semantically identical
    but pays three Arrow payload round-trips and three decode/encode
    cycles per clip; at 10^12 clips the intermediate payload traffic IS
    the cost (measured: the chained form spent ~2/3 of its wall outside
    the actual math).  This op is BIT-IDENTICAL to the chained
    composition — pinned by test — every stage operating on the exact
    int16 grid the chained form would re-decode (pcm16 WAV round-trips
    losslessly).

    Stages run in chain order, each optional (None skips it, matching
    the chained op's absence):

    - reverb_gain: synthetic-RIR convolution FIRST (room before
                 microphone-chain noise — the physical order), the
                 augment_reverb contract: per-row crc32(seed:rir:id)
                 RIR stream, independent of the noise stream
    - snr_db:    white noise at exactly snr_db below the clip's own RMS,
                 per-row crc32(seed:id)-seeded — bit-identical at any
                 parallelism (augment_noise contract); silent clips pass
                 through the stage unchanged with a NULL floor
    - tempo:     WSOLA pitch-PRESERVING time-scale modification
                 (tempo_stretch contract: n_out = round(n/tempo)
                 exactly, dominant frequency unchanged)
    - speed:     sinc resample by 1/speed, relabeled at the original sr
                 (speed_perturb contract: n_out = round(n/speed)
                 exactly, pitch scales with tempo)
    - target_ms: truncate / zero-pad the tail to the exact window
                 (pad_or_trim contract)

    Output schema = input (+ `noise_rms_dbfs double` when snr_db is
    given); undecodable rows pass through with null bytes.  mapInPandas,
    map-only — payloads never shuffle, and never cross Arrow more than
    once each way."""
    if speed is not None and speed <= 0:
        raise ValueError("speed must be positive")
    if tempo is not None and tempo <= 0:
        raise ValueError("tempo must be positive")
    if target_ms is not None and target_ms <= 0:
        raise ValueError("target_ms must be positive")
    if (snr_db is None and tempo is None and speed is None
            and target_ms is None and reverb_gain is None):
        raise ValueError("enable at least one stage")
    _check_rir_kind(reverb_kind, reverb_gain or 0.0)
    kernels = []
    if reverb_gain is not None:
        kernels.append(partial(
            _reverb_kernel, seed=seed, kind=reverb_kind,
            rt60_ms=float(rt60_ms), delay_ms=float(reverb_delay_ms),
            gain=float(reverb_gain)))
    if snr_db is not None:
        kernels.append(partial(_noise_kernel, snr_db=snr_db, seed=seed))
    if tempo is not None:
        kernels.append(partial(_tempo_kernel, factor=tempo))
    if speed is not None:
        kernels.append(partial(_speed_kernel, factor=speed, taps=taps))
    if target_ms is not None:
        kernels.append(partial(_window_kernel, target_ms=target_ms))
    resized = (tempo, speed, target_ms) != (None, None, None)
    return _map_payloads(
        df, kernels, bytes_col=bytes_col, codec_col=codec_col, id_col=id_col,
        stats="noise_rms_dbfs double" if snr_db is not None else "",
        headers=("dur_ms",) if resized else ())


# ---------------------------------------------------------------------------
# whole-clip spectral shape features (corpus banding / bandwidth screening)
# ---------------------------------------------------------------------------

SPECTRAL_FEATURES_SCHEMA = (
    "n_samples long, spectral_centroid_hz double, "
    "spectral_bandwidth_hz double, spectral_rolloff_hz double, "
    "spectral_flatness double"
)

_SPECTRAL_KEYS = ("n_samples", "spectral_centroid_hz",
                  "spectral_bandwidth_hz", "spectral_rolloff_hz",
                  "spectral_flatness")


def compute_spectral_row(
    b: bytes | None,
    codec: str,
    rolloff_pct: float = 0.85,
    decoded: Any = None,
) -> dict[str, Any]:
    """Whole-clip spectral shape of one clip; None fields on decode
    failure or an all-zero clip.  One periodic-Hann-windowed rFFT on the
    next-pow2 grid; every statistic is standard (librosa/Essentia
    definitions) over the power spectrum P(f).  (zcr and a quick
    rectangular-window centroid already ride extract_audio_features'
    decode; this op is the heavier shape block — Hann-windowed so
    bandwidth/flatness aren't inflated by rectangular sidelobes.)

    - spectral_centroid_hz:  sum(f*P)/sum(P)
    - spectral_bandwidth_hz: sqrt(sum((f-centroid)^2 * P)/sum(P))
    - spectral_rolloff_hz:   smallest f with cumsum(P) >= rolloff_pct
    - spectral_flatness:     exp(mean(ln P)) / mean(P)  (Wiener entropy;
                             ~0 tonal, ->1 white)
    """
    out: dict[str, Any] = {k: None for k in _SPECTRAL_KEYS}
    dec = _decode(b, codec, decoded)
    if dec is None:
        return out
    sr, pcm = dec
    n = len(pcm)
    out["n_samples"] = n
    if sr <= 0 or n < 2:
        return out
    x = pcm.astype(np.float64) / 32768.0
    hann = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(n) / n)
    nfft = 1 << max(1, int(n - 1).bit_length())
    p = np.abs(np.fft.rfft(x * hann, nfft)) ** 2
    total = float(p.sum())
    if total <= 0.0:  # digital silence: no spectral shape to report
        return out
    freqs = np.fft.rfftfreq(nfft, 1.0 / sr)
    cen = float((freqs * p).sum() / total)
    out["spectral_centroid_hz"] = cen
    out["spectral_bandwidth_hz"] = float(
        np.sqrt(((freqs - cen) ** 2 * p).sum() / total))
    out["spectral_rolloff_hz"] = float(
        freqs[np.searchsorted(np.cumsum(p), rolloff_pct * total)])
    out["spectral_flatness"] = float(
        np.exp(np.mean(np.log(p + 1e-30))) / (total / len(p)))
    return out


def spectral_features(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
    rolloff_pct: float = 0.85,
) -> DataFrame:
    """Per-clip spectral shape as flat columns; map-only, one
    Arrow-batched decode, binary pruned in the same select (the
    extract_audio_features shape — everything downstream shuffles
    scalars, never payloads).

    This is the corpus-banding screen of an audio curation pipeline:
    flatness separates tonal/music-like from noise-like clips, rolloff
    vs the labeled Nyquist catches upsampled narrowband audio, and
    zcr/centroid are the cheap per-clip summaries quality gates band
    on."""
    row = partial(compute_spectral_row, rolloff_pct=rolloff_pct)
    return _map_features(df, SPECTRAL_FEATURES_SCHEMA, [row],
                         (bytes_col, codec_col), bytes_col, keep_cols)


# ---------------------------------------------------------------------------
# pitch (F0) estimation — framewise autocorrelation with parabolic interp
# ---------------------------------------------------------------------------

PITCH_FEATURES_SCHEMA = (
    "n_samples long, n_frames long, voiced_frac double, "
    "f0_median_hz double, periodicity_mean double"
)

_PITCH_KEYS = ("n_samples", "n_frames", "voiced_frac", "f0_median_hz",
               "periodicity_mean")


def compute_pitch_row(
    b: bytes | None,
    codec: str,
    fmin: float = 60.0,
    fmax: float = 500.0,
    frame_ms: int = 40,
    hop_ms: int = 20,
    voiced_threshold: float = 0.5,
    decoded: Any = None,
) -> dict[str, Any]:
    """Framewise autocorrelation F0 of one clip (the classic ACF pitch
    tracker: Rabiner 1977, "On the use of autocorrelation analysis for
    pitch detection"); None fields on decode failure.  Frames are
    `frame_ms` long with `hop_ms` hop, mean-removed, ACF computed via
    the Wiener-Khinchin rFFT round-trip; the peak lag in
    [sr/fmax, sr/fmin] is refined by parabolic interpolation (sub-sample
    lag, so F0 error stays <= ~1% even at 80 Hz where the integer lag
    grid alone is ~1.4% coarse at 16 kHz):

    - n_frames:         1 + floor((n - win) / hop) for n >= win, else 0
    - periodicity:      ACF(peak lag)/ACF(0) per frame, in [0, 1]
    - voiced_frac:      fraction of frames with periodicity > threshold
    - f0_median_hz:     median F0 over voiced frames (None if none)
    - periodicity_mean: mean over ALL frames (voicing confidence)
    """
    out: dict[str, Any] = {k: None for k in _PITCH_KEYS}
    dec = _decode(b, codec, decoded)
    if dec is None:
        return out
    sr, pcm = dec
    n = len(pcm)
    out["n_samples"] = n
    if sr <= 0 or not (0 < fmin < fmax <= sr / 2.0):
        return out
    win = max(2, sr * frame_ms // 1000)
    hop = max(1, sr * hop_ms // 1000)
    nf = 0 if n < win else 1 + (n - win) // hop
    out["n_frames"] = nf
    if nf == 0:
        return out
    x = pcm.astype(np.float64) / 32768.0
    idx = np.arange(nf)[:, None] * hop + np.arange(win)[None, :]
    frames = x[idx]
    frames = frames - frames.mean(axis=1, keepdims=True)
    nfft = 1 << int(2 * win - 1).bit_length()
    # Wiener-Khinchin: ACF = irfft(|rfft|^2); rows are (nf, win) lags
    r = np.fft.irfft(np.abs(np.fft.rfft(frames, nfft, axis=1)) ** 2,
                     axis=1)[:, :win]
    lo = max(2, int(np.ceil(sr / fmax)))
    hi = min(win - 2, int(np.floor(sr / fmin)))
    f0s: list[float] = []
    pers: list[float] = []
    for i in range(nf):
        r0 = r[i, 0]
        if r0 <= 0.0 or hi < lo:  # silent frame
            pers.append(0.0)
            continue
        lag = int(np.argmax(r[i, lo:hi + 1])) + lo
        per = float(r[i, lag] / r0)
        pers.append(per)
        if per > voiced_threshold:
            denom = r[i, lag - 1] - 2.0 * r[i, lag] + r[i, lag + 1]
            delta = 0.0 if denom == 0.0 else float(np.clip(
                0.5 * (r[i, lag - 1] - r[i, lag + 1]) / denom, -0.5, 0.5))
            f0s.append(sr / (lag + delta))
    out["voiced_frac"] = len(f0s) / nf
    out["periodicity_mean"] = float(np.mean(pers))
    if f0s:
        out["f0_median_hz"] = float(np.median(f0s))
    return out


def pitch_features(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
    fmin: float = 60.0,
    fmax: float = 500.0,
    frame_ms: int = 40,
    hop_ms: int = 20,
    voiced_threshold: float = 0.5,
) -> DataFrame:
    """Per-clip pitch statistics as flat columns; map-only, one
    Arrow-batched decode (the extract_audio_features shape).

    This is the speech-screening pass of an audio curation pipeline:
    voiced_frac separates speech/singing from music/noise, f0_median
    bands speakers, and periodicity_mean is the cheap voicing-confidence
    gate — all per-clip scalars, so the corpus-level groupBy that bands
    on them never touches payload bytes."""
    row = partial(compute_pitch_row, fmin=fmin, fmax=fmax, frame_ms=frame_ms,
                  hop_ms=hop_ms, voiced_threshold=voiced_threshold)
    return _map_features(df, PITCH_FEATURES_SCHEMA, [row],
                         (bytes_col, codec_col), bytes_col, keep_cols)


# ---------------------------------------------------------------------------
# programme loudness per ITU-R BS.1770-4 (K-weighting + gated integration)
# ---------------------------------------------------------------------------

LOUDNESS_FEATURES_SCHEMA = (
    "n_samples long, n_blocks long, lufs_integrated double, "
    "lufs_momentary_max double, gated_block_frac double"
)

_LOUDNESS_KEYS = ("n_samples", "n_blocks", "lufs_integrated",
                  "lufs_momentary_max", "gated_block_frac")

#: Analog prototype parameters behind the BS.1770 48 kHz filter tables.
#: The spec prints the two biquads only at fs=48000; re-deriving them from
#: the analog prototype via the bilinear transform (the published
#: generalization used by open implementations, e.g. pyloudnorm / De Man
#: 2018 "Evaluation of implementations of the EBU R128 loudness
#: measurement") makes K-weighting exact at ANY sample rate instead of
#: resampling to 48 kHz first.
_KW_SHELF_F0 = 1681.9744509555319
_KW_SHELF_GAIN_DB = 3.99984385397
_KW_SHELF_Q = 0.7071752369554193
_KW_HP_F0 = 38.13547087613982
_KW_HP_Q = 0.5003270373253953


@lru_cache(maxsize=32)
def k_weighting_coeffs(sr: int) -> tuple:
    """(b1, a1, b2, a2) biquad coefficient tuples for the BS.1770
    K-weighting cascade at sample rate `sr`: stage 1 is the +4 dB
    high-frequency shelf (head-diffraction model), stage 2 the RLB
    high-pass.  At fs=48000 these reproduce the spec's printed tables
    to ~1e-10 (pinned in tests/test_loudness.py)."""
    import math

    # stage 1: high shelf
    K = math.tan(math.pi * _KW_SHELF_F0 / sr)
    Vh = 10.0 ** (_KW_SHELF_GAIN_DB / 20.0)
    Vb = Vh ** 0.4996667741545416
    a0 = 1.0 + K / _KW_SHELF_Q + K * K
    b1 = ((Vh + Vb * K / _KW_SHELF_Q + K * K) / a0,
          2.0 * (K * K - Vh) / a0,
          (Vh - Vb * K / _KW_SHELF_Q + K * K) / a0)
    a1 = (1.0, 2.0 * (K * K - 1.0) / a0, (1.0 - K / _KW_SHELF_Q + K * K) / a0)
    # stage 2: RLB high-pass (spec numerator is the unnormalized 1,-2,1)
    K = math.tan(math.pi * _KW_HP_F0 / sr)
    a0 = 1.0 + K / _KW_HP_Q + K * K
    b2 = (1.0, -2.0, 1.0)
    a2 = (1.0, 2.0 * (K * K - 1.0) / a0, (1.0 - K / _KW_HP_Q + K * K) / a0)
    return b1, a1, b2, a2


@lru_cache(maxsize=32)
def _k_weighting_ir(sr: int) -> np.ndarray:
    """Truncated impulse response of the K-weighting cascade.

    scipy is not in this sandbox, and a per-sample Python IIR loop over
    every clip would be the slow path; instead the cascade's impulse
    response is materialized ONCE per sample rate (a short scalar
    recurrence) and each clip is filtered by FFT convolution — fully
    vectorized and numerically exact to the truncation tail.  Truncation
    length L is chosen from the slowest pole p (the ~38 Hz high-pass) so
    |p|^L < 1e-9: the tail energy left behind is ~180 dB down, far below
    the 0.1 LU accuracy the gating math needs."""
    b1, a1, b2, a2 = k_weighting_coeffs(sr)
    pmax = 0.0
    for a in (a1, a2):
        pmax = max(pmax, float(np.max(np.abs(np.roots(np.asarray(a))))))
    L = max(1024, int(np.ceil(np.log(1e-9) / np.log(pmax))))
    x = np.zeros(L)
    x[0] = 1.0
    y = x
    for b, a in ((b1, a1), (b2, a2)):
        out = np.empty(L)
        w1 = w2 = 0.0  # direct form II transposed
        b0_, b1_, b2_ = b
        _, a1_, a2_ = a
        for n in range(L):
            xn = y[n]
            yn = b0_ * xn + w1
            w1 = b1_ * xn - a1_ * yn + w2
            w2 = b2_ * xn - a2_ * yn
            out[n] = yn
        y = out
    return y


def _k_weight(x: np.ndarray, sr: int) -> np.ndarray:
    """Apply K-weighting by FFT convolution with the truncated IR."""
    ir = _k_weighting_ir(sr)
    n = len(x)
    nfft = 1 << int(n + len(ir) - 1).bit_length()
    return np.fft.irfft(np.fft.rfft(x, nfft) * np.fft.rfft(ir, nfft),
                        nfft)[:n]


def compute_loudness_row(
    b: bytes | None,
    codec: str,
    block_ms: int = 400,
    hop_ms: int = 100,
    decoded: Any = None,
) -> dict[str, Any]:
    """Programme loudness of one clip per ITU-R BS.1770-4 (mono channel,
    weight 1.0); None fields on decode failure or when the clip is
    shorter than one gating block.

    - momentary blocks: `block_ms` windows at `hop_ms` hop; block
      loudness l_j = -0.691 + 10*log10(mean square of K-weighted signal)
    - lufs_momentary_max: max l_j (ungated)
    - lufs_integrated:  mean square over blocks passing BOTH gates —
      absolute (l_j > -70 LUFS) and relative (l_j > mean-of-abs-gated
      minus 10 LU); None if every block is gated out (digital silence)
    - gated_block_frac: surviving blocks / total blocks — 1.0 for steady
      programme, < 1 when dead air or noise floor was excluded (the
      property that distinguishes LUFS from plain RMS)

    Calibration identity (spec Annex 1): a full-scale 997 Hz sine reads
    -3.01 LUFS at any sample rate — the -0.691 offset cancels the
    K-weighting cascade's gain at 997 Hz.
    """
    out: dict[str, Any] = {k: None for k in _LOUDNESS_KEYS}
    dec = _decode(b, codec, decoded)
    if dec is None:
        return out
    sr, pcm = dec
    n = len(pcm)
    out["n_samples"] = n
    if sr <= 0:
        return out
    win = sr * block_ms // 1000
    hop = max(1, sr * hop_ms // 1000)
    nb = 0 if n < win else 1 + (n - win) // hop
    out["n_blocks"] = nb
    if nb == 0:
        return out
    y = _k_weight(pcm.astype(np.float64) / 32768.0, sr)
    # block mean squares via a cumulative sum (no (nb, win) materialize)
    c = np.concatenate([[0.0], np.cumsum(y * y)])
    starts = np.arange(nb) * hop
    msq = (c[starts + win] - c[starts]) / win
    with np.errstate(divide="ignore"):
        lj = -0.691 + 10.0 * np.log10(msq)
    out["lufs_momentary_max"] = float(np.max(lj))
    abs_gated = msq[lj > -70.0]
    if len(abs_gated) == 0:
        out["gated_block_frac"] = 0.0
        return out
    rel = -0.691 + 10.0 * np.log10(np.mean(abs_gated)) - 10.0
    keep = msq[(lj > -70.0) & (lj > rel)]
    out["gated_block_frac"] = len(keep) / nb
    if len(keep):
        out["lufs_integrated"] = float(
            -0.691 + 10.0 * np.log10(np.mean(keep)))
    return out


def loudness_features(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
    block_ms: int = 400,
    hop_ms: int = 100,
) -> DataFrame:
    """Per-clip BS.1770 loudness as flat columns; map-only, one
    Arrow-batched decode (the extract_audio_features shape).

    This is the level-QA pass of an audio corpus gate: lufs_integrated
    bands delivery loudness (streaming targets sit near -14 to -16 LUFS,
    broadcast at -23/-24), gated_block_frac exposes clips padded with
    dead air, and the integrated/momentary gap flags bursty content.
    All per-clip scalars — downstream banding never touches payload
    bytes."""
    row = partial(compute_loudness_row, block_ms=block_ms, hop_ms=hop_ms)
    return _map_features(df, LOUDNESS_FEATURES_SCHEMA, [row],
                         (bytes_col, codec_col), bytes_col, keep_cols)


# ---------------------------------------------------------------------------
# declipping (cubic reconstruction of rail-clipped runs)
# ---------------------------------------------------------------------------

def declip_pcm(
    pcm: np.ndarray,
    rail_frac: float = 0.999,
    out_peak: float = 0.97,
) -> tuple[np.ndarray, int, float]:
    """Repair one clip's rail-clipped runs by cubic Hermite interpolation
    (the classic interpolation declipper — Janssen et al. 1986's problem,
    solved here with the two nearest clean samples each side as anchors
    and one-sided-difference tangents, i.e. a Catmull-Rom segment per
    run).  The reconstructed peak may legitimately exceed full scale —
    that is the restored waveform — so the whole clip is then scaled by
    min(1, out_peak*32767/peak) to fit the int16 grid without
    re-clipping.

    Runs touching the clip edge have no anchor on that side and hold the
    nearest clean value instead.  Returns (int16 pcm, n_clipped samples
    repaired, applied gain in dB).  A clip with no rail samples comes
    back UNTOUCHED (same array object, gain 0) so callers can pass the
    original bytes through.

    The default out_peak=0.97 puts the repaired peak (~31784) below both
    the rail threshold AND the features pass's clip_rail=32000, so a
    repaired clip measures clipping_ratio == 0 and running declip again
    is a no-op (idempotent).  Callers raising out_peak above rail_frac
    would re-flag their own output."""
    n = len(pcm)
    if n == 0:
        return pcm, 0, 0.0
    thr = int(round(32767 * rail_frac))
    mask = (pcm >= thr) | (pcm <= -thr)
    n_clip = int(np.count_nonzero(mask))
    if n_clip == 0:
        return pcm, 0, 0.0
    x = pcm.astype(np.float64)
    idx = np.flatnonzero(mask)
    # run boundaries: splits where consecutive clipped indices jump
    splits = np.flatnonzero(np.diff(idx) > 1) + 1
    for run in np.split(idx, splits):
        s, e = int(run[0]), int(run[-1])
        has_l = s >= 2
        has_r = e <= n - 3
        if not has_l and not has_r:
            continue  # whole clip clipped: nothing clean to anchor on
        if not has_l:
            x[s:e + 1] = x[e + 1]
            continue
        if not has_r:
            x[s:e + 1] = x[s - 1]
            continue
        p0, p1 = x[s - 1], x[e + 1]
        L = e - s + 2
        m0 = (x[s - 1] - x[s - 2]) * L
        m1 = (x[e + 2] - x[e + 1]) * L
        t = (np.arange(s, e + 1) - (s - 1)) / L
        t2, t3 = t * t, t * t * t
        x[s:e + 1] = ((2 * t3 - 3 * t2 + 1) * p0 + (t3 - 2 * t2 + t) * m0
                      + (-2 * t3 + 3 * t2) * p1 + (t3 - t2) * m1)
    peak = float(np.max(np.abs(x)))
    gain = min(1.0, out_peak * 32767.0 / peak) if peak > 0 else 1.0
    y = np.clip(np.rint(x * gain), -32768, 32767).astype(np.int16)
    return y, n_clip, 20.0 * np.log10(gain)


def declip_audio(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    rail_frac: float = 0.999,
    out_peak: float = 0.97,
) -> DataFrame:
    """Clipping repair — the waveform-restoration step a speech-corpus
    curation pipeline runs on the `clipping_ratio` violators its
    validation pass found (repairing beats dropping when the corpus is
    expensive).  Each clip's rail runs are rebuilt by cubic
    interpolation (declip_pcm) and the result re-fit to int16 with a
    documented global gain.

    Output schema = input schema + (n_clipped long, declip_gain_db
    double).  Clean clips pass through with their ORIGINAL bytes and
    codec (n_clipped 0, gain 0); repaired clips re-encode pcm_s16le;
    undecodable rows pass through with null bytes (the trim_silence
    convention).  mapInPandas keeps payloads inside Arrow batches;
    map-only, no shuffle."""
    return _map_payloads(
        df, [partial(_declip_kernel, rail_frac=rail_frac, out_peak=out_peak)],
        bytes_col=bytes_col, codec_col=codec_col,
        stats="n_clipped long, declip_gain_db double")


def _declip_kernel(pcm, sr, _rid, *, rail_frac, out_peak):
    y, n_clip, gdb = declip_pcm(pcm, rail_frac, out_peak)
    return ((y if n_clip else None), sr,
            {"n_clipped": n_clip, "declip_gain_db": gdb})


# ---------------------------------------------------------------------------
# channel layout: stats + downmix (multi-channel WAV support)
# ---------------------------------------------------------------------------

_CHANNEL_KEYS = ("n_channels", "balance_db", "ch_rms_dbfs")
AUDIO_CHANNELS_SCHEMA = (
    "n_channels int, balance_db double, ch_rms_dbfs array<double>")


def compute_channel_row(b: bytes | None, codec: str) -> dict[str, Any]:
    """Channel-layout facts for one clip: n_channels from container
    HEADERS (gx_spark.audio.payload_channels — works for every codec
    including opus, whose packet contents are undecodable here), and for
    decodable payloads the per-channel RMS in dBFS plus balance_db =
    max - min channel RMS (the L/R imbalance a mixdown bug or dead mic
    leaves behind).  balance_db is null for mono clips (no inter-channel
    comparison exists) and when any channel is digital silence (its RMS
    is undefined in dB)."""
    from .audio import (DECODABLE_CODECS, WAV_FRAMED_CODECS, decode_payload,
                        payload_channels, wav_decode_multi)

    out: dict[str, Any] = {k: None for k in _CHANNEL_KEYS}
    if b is None:
        return out
    bb = bytes(b)
    ch = payload_channels(bb, codec)
    out["n_channels"] = ch
    try:
        if codec in WAV_FRAMED_CODECS:
            _, sr, pcm2 = wav_decode_multi(bb)
        elif codec in DECODABLE_CODECS:
            sr, mono = decode_payload(bb, codec)
            pcm2 = mono.reshape(-1, 1)
        else:
            return out
    except (ValueError, NotImplementedError):
        return out
    if pcm2.shape[0] == 0:
        return out
    x = pcm2.astype(np.float64) / 32768.0
    ms = np.mean(x * x, axis=0)
    rms_db = [10.0 * np.log10(m) if m > 0 else None for m in ms]
    out["ch_rms_dbfs"] = rms_db
    if pcm2.shape[1] >= 2 and all(r is not None for r in rms_db):
        out["balance_db"] = float(max(rms_db) - min(rms_db))
    return out


def channel_stats(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-clip channel layout as flat columns (compute_channel_row);
    map-only, binary pruned in the same projection — the corpus-audit
    pass that answers "is this corpus actually mono?" before the mono
    validation/feature pipeline runs."""
    return _map_features(df, AUDIO_CHANNELS_SCHEMA, [compute_channel_row],
                         (bytes_col, codec_col), bytes_col, keep_cols)


def downmix_audio(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """Downmix multi-channel clips to mono — the normalization step that
    makes a mixed-provenance corpus safe for the mono validation/feature
    pipeline (wav_decode_full and every decode-requiring op enforce the
    mono contract).  Channels are averaged per frame (float64 mean,
    round-half-away, clipped to int16 — identical channels downmix
    bit-identically) and re-encoded pcm_s16le.

    Output schema = input schema + (n_channels_in int).  Mono clips pass
    through with their ORIGINAL bytes and codec; undecodable rows (junk
    headers or malformed multi-channel data) pass through with null
    bytes (the trim_silence convention).  mapInPandas keeps payloads in
    Arrow batches; map-only, no shuffle."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField("n_channels_in", IntegerType())]
    )

    def _batches(it):
        from gx_spark.audio import (WAV_FRAMED_CODECS, payload_channels,
                                    wav_decode_multi, wav_encode)

        for pdf in it:
            new_bytes: list[bytes | None] = []
            new_codec: list[str] = []
            chans: list[int | None] = []
            for bb, cc in zip(pdf[bytes_col], pdf[codec_col]):
                if bb is None:
                    new_bytes.append(None)
                    new_codec.append(cc)
                    chans.append(None)
                    continue
                raw = bytes(bb)
                ch = payload_channels(raw, cc)
                if ch is None:
                    new_bytes.append(None)
                    new_codec.append(cc)
                    chans.append(None)
                    continue
                if ch == 1 or cc not in WAV_FRAMED_CODECS:
                    new_bytes.append(raw)
                    new_codec.append(cc)
                    chans.append(int(ch))
                    continue
                try:
                    _, sr, pcm2 = wav_decode_multi(raw)
                except (ValueError, NotImplementedError):
                    new_bytes.append(None)
                    new_codec.append(cc)
                    chans.append(None)
                    continue
                mono = np.clip(
                    np.rint(pcm2.astype(np.float64).mean(axis=1)),
                    -32768, 32767).astype(np.int16)
                new_bytes.append(wav_encode(mono, sr))
                new_codec.append("pcm_s16le")
                chans.append(int(ch))
            pdf = pdf.copy()
            pdf[bytes_col] = new_bytes
            pdf[codec_col] = new_codec
            pdf["n_channels_in"] = pd.array(chans, dtype="Int32")
            yield pdf

    return map_in_pandas(df, _batches, out_schema)


# ---------------------------------------------------------------------------
# electrical defects: DC offset + mains hum (Goertzel-style single-bin DFT)
# ---------------------------------------------------------------------------

_ELECTRICAL_KEYS = ("dc_frac", "hum_ratio", "hum_base_hz")
AUDIO_ELECTRICAL_SCHEMA = (
    "dc_frac double, hum_ratio double, hum_base_hz double")


def compute_electrical_row(
    b: bytes | None,
    codec: str,
    *,
    mains: tuple[float, ...] = (50.0, 60.0),
    n_harmonics: int = 3,
    decoded: Any = None,
) -> dict[str, Any]:
    """Electrical-defect facts for one clip, from one decode:

    - dc_frac: signed mean sample value / 32768 — a miswired ADC or a
      bad high-pass leaves a constant offset that wastes headroom and
      biases every downstream energy measure.
    - hum_ratio: power at the mains fundamental and its first
      n_harmonics-1 overtones (50 and 60 Hz grids both probed, max
      wins), as a fraction of total AC power.  Each harmonic's power
      comes from a single-bin DFT (the Goertzel quantity, evaluated as
      one vectorized complex dot per frequency — O(n) per bin, no full
      FFT): amplitude a = 2|Σ x·e^{-j2πft/sr}|/n, power a²/2.
    - hum_base_hz: which grid won (null when hum_ratio is null).

    DC is removed before the hum probe so a big offset cannot leak into
    the low bins.  Undecodable or all-silent clips report nulls (their
    ratio is undefined)."""
    out: dict[str, Any] = {k: None for k in _ELECTRICAL_KEYS}
    dec = _decode(b, codec, decoded)
    if dec is None:
        return out
    sr, pcm = dec
    n = len(pcm)
    if n == 0 or sr <= 0:
        return out
    x = pcm.astype(np.float64) / 32768.0
    dc = float(np.mean(x))
    out["dc_frac"] = dc
    xc = x - dc
    ms = float(np.mean(xc * xc))
    if ms <= 0.0:
        return out
    t = np.arange(n)
    best_ratio, best_base = None, None
    for base in mains:
        p = 0.0
        for k in range(1, n_harmonics + 1):
            f = base * k
            if f >= sr / 2.0:
                break
            z = np.exp((-2j * np.pi * f / sr) * t)
            amp = 2.0 * abs(np.dot(xc, z)) / n
            p += amp * amp / 2.0
        ratio = p / ms
        if best_ratio is None or ratio > best_ratio:
            best_ratio, best_base = ratio, float(base)
    out["hum_ratio"] = best_ratio
    out["hum_base_hz"] = best_base
    return out


def electrical_features(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
    mains: tuple[float, ...] = (50.0, 60.0),
    n_harmonics: int = 3,
) -> DataFrame:
    """Per-clip DC offset + mains-hum columns (compute_electrical_row);
    map-only, binary pruned in the same projection — the recording-chain
    QA pass of an audio corpus."""
    row = partial(compute_electrical_row,
                  mains=tuple(float(m) for m in mains),
                  n_harmonics=int(n_harmonics))
    return _map_features(df, AUDIO_ELECTRICAL_SCHEMA, [row],
                         (bytes_col, codec_col), bytes_col, keep_cols)


def remove_dc_offset(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    min_frac: float = 0.001,
) -> DataFrame:
    """DC-offset repair — subtract the rounded mean sample value and
    re-encode pcm_s16le (the declip_audio convention: clean clips pass
    through with their ORIGINAL bytes, undecodable rows with null
    bytes).  Offsets below min_frac of full scale are left alone; the
    subtraction saturates at the int16 rails (a clip carrying signal
    peaks plus a huge offset was already damaged).

    Output schema = input schema + (dc_removed int: the subtracted
    sample value, 0 for passthrough, null for undecodable).  Map-only,
    no shuffle."""
    return _map_payloads(
        df, [partial(_dc_kernel, min_frac=float(min_frac))],
        bytes_col=bytes_col, codec_col=codec_col, stats="dc_removed int")


def _dc_kernel(pcm, sr, _rid, *, min_frac):
    dc = int(np.rint(np.mean(pcm))) if len(pcm) else 0
    if abs(dc) < min_frac * 32768.0:
        return None, sr, {"dc_removed": 0}
    y = np.clip(pcm.astype(np.int32) - dc, -32768, 32767).astype(np.int16)
    return y, sr, {"dc_removed": dc}


def remove_hum_pcm(
    pcm: np.ndarray,
    sr: int,
    *,
    mains: tuple[float, ...] = (50.0, 60.0),
    n_harmonics: int = 3,
    min_ratio: float = 0.01,
    notch_hz: float = 2.0,
) -> tuple[np.ndarray, float | None]:
    """Detection-gated mains-hum removal for one clip: measure the hum
    ratio per grid (the compute_electrical_row quantity), and if the
    winning grid reaches min_ratio, notch its fundamental and first
    n_harmonics-1 overtones out of the real spectrum (zero every rFFT
    bin within ±notch_hz of each harmonic — zero-phase spectral surgery,
    one rfft/irfft round trip) and re-quantize.  Returns (int16 pcm,
    pre-repair hum ratio); a clip below the gate comes back UNTOUCHED
    (same array object) so callers can pass the original bytes through.
    Detection-gating matters: notching both grids unconditionally would
    also delete legitimate 50/60 Hz program content from clean clips."""
    n = len(pcm)
    if n == 0 or sr <= 0:
        return pcm, None
    x = pcm.astype(np.float64) / 32768.0
    dc = float(np.mean(x))
    xc = x - dc
    ms = float(np.mean(xc * xc))
    if ms <= 0.0:
        return pcm, None
    t = np.arange(n)
    best_ratio, best_base = -1.0, None
    for base in mains:
        p = 0.0
        for k in range(1, n_harmonics + 1):
            f = base * k
            if f >= sr / 2.0:
                break
            z = np.exp((-2j * np.pi * f / sr) * t)
            amp = 2.0 * abs(np.dot(xc, z)) / n
            p += amp * amp / 2.0
        ratio = p / ms
        if ratio > best_ratio:
            best_ratio, best_base = ratio, base
    if best_ratio < min_ratio:
        return pcm, float(best_ratio)
    spec = np.fft.rfft(x)
    freqs = np.arange(len(spec)) * (sr / n)
    kill = np.zeros(len(spec), dtype=bool)
    for k in range(1, n_harmonics + 1):
        f = best_base * k
        if f >= sr / 2.0:
            break
        kill |= np.abs(freqs - f) <= notch_hz
    spec[kill] = 0.0
    y = np.clip(np.rint(np.fft.irfft(spec, n) * 32768.0),
                -32768, 32767).astype(np.int16)
    return y, float(best_ratio)


def remove_hum(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    mains: tuple[float, ...] = (50.0, 60.0),
    n_harmonics: int = 3,
    min_ratio: float = 0.01,
    notch_hz: float = 2.0,
) -> DataFrame:
    """Mains-hum repair — the waveform-restoration step for the
    `hum_ratio` violators the electrical screen finds (remove_hum_pcm
    per clip).  Output schema = input schema + (hum_removed_ratio
    double: the pre-repair ratio for repaired rows, the measured
    sub-gate ratio for passthrough rows, null for undecodable).  Clean
    clips keep their ORIGINAL bytes and codec; repaired clips re-encode
    pcm_s16le; undecodable rows pass through with null bytes (the
    declip/trim convention).  Map-only, no shuffle."""
    return _map_payloads(
        df, [partial(_hum_kernel, mains=tuple(float(m) for m in mains),
                     n_harmonics=int(n_harmonics),
                     min_ratio=float(min_ratio), notch_hz=float(notch_hz))],
        bytes_col=bytes_col, codec_col=codec_col,
        stats="hum_removed_ratio double")


def _hum_kernel(pcm, sr, _rid, **probe):
    y, ratio = remove_hum_pcm(pcm, sr, **probe)
    return (None if y is pcm else y), sr, {"hum_removed_ratio": ratio}


# ---------------------------------------------------------------------------
# reverberation augmentation (synthetic RIR convolution)
# ---------------------------------------------------------------------------


def make_rir(
    sr: int,
    *,
    kind: str = "exp_decay",
    rt60_ms: float = 300.0,
    delay_ms: float = 50.0,
    gain: float = 0.5,
    rng=None,
) -> np.ndarray:
    """Synthetic room impulse response, direct path normalized to 1.

    - "echo": delay-and-attenuate slapback — h = δ[0] + gain·δ[D] with
      D = delay_ms worth of samples.  Closed-form output (y[k] = x[k] +
      gain·x[k-D]), so exact oracles exist.
    - "exp_decay": the standard image-method surrogate — a seeded white
      tail shaped by the -60 dB-at-rt60 exponential, tail energy
      normalized to exactly gain² (so wet/dry power is gain²·‖x‖² for
      white inputs; `rng` must be provided).

    gain <= 0 returns the identity RIR [1] (callers pass the original
    bytes through)."""
    if gain <= 0.0:
        return np.ones(1)
    if kind == "echo":
        d = max(1, int(round(sr * delay_ms / 1000.0)))
        h = np.zeros(d + 1)
        h[0] = 1.0
        h[d] = gain
        return h
    if kind != "exp_decay":
        raise ValueError(f"unknown RIR kind {kind!r}")
    if rng is None:
        raise ValueError("exp_decay RIR needs an rng")
    rt60 = max(1, int(round(sr * rt60_ms / 1000.0)))
    n_taps = rt60  # -60 dB point; later taps are inaudible
    k = np.arange(1, n_taps + 1)
    tail = rng.standard_normal(n_taps) * 10.0 ** (-3.0 * k / rt60)
    e = float(np.dot(tail, tail))
    if e > 0.0:
        tail *= gain / e ** 0.5
    h = np.empty(n_taps + 1)
    h[0] = 1.0
    h[1:] = tail
    return h


def _check_rir_kind(kind: str, gain: float) -> None:
    # make_rir's own check runs per row under the driver's error catch,
    # where a bad kind would null every row instead of failing the call
    if gain > 0.0 and kind not in ("echo", "exp_decay"):
        raise ValueError(f"unknown RIR kind {kind!r}")


def reverb_pcm(pcm: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Convolve one clip with an RIR (FFT overlap-free full convolution,
    output trimmed to the input length — training windows keep their
    duration) and re-quantize with int16 saturation."""
    n = len(pcm)
    if n == 0 or len(h) == 1:
        return pcm
    x = pcm.astype(np.float64) / 32768.0
    m = n + len(h) - 1
    nfft = 1 << (m - 1).bit_length()
    y = np.fft.irfft(np.fft.rfft(x, nfft) * np.fft.rfft(h, nfft), nfft)[:n]
    return np.clip(np.rint(y * 32768.0), -32768, 32767).astype(np.int16)


def augment_reverb(
    df: DataFrame,
    *,
    kind: str = "exp_decay",
    rt60_ms: float = 300.0,
    delay_ms: float = 50.0,
    gain: float = 0.5,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    seed: int = 42,
) -> DataFrame:
    """Reverberation augmentation — the third standard ASR robustness
    step beside additive noise and speed perturbation: each clip is
    convolved with a synthetic RIR (make_rir).  For "exp_decay" the tail
    is drawn per row from crc32(seed:id), so the output is BIT-IDENTICAL
    at any parallelism or row order (the engine-wide determinism
    contract); "echo" is deterministic by construction and shared.

    Output schema = input + `reverb_wet_db double` (tail power below the
    direct path, 10·log10(gain²); NULL for undecodable rows, which pass
    through with null bytes).  gain <= 0 is the identity: ORIGINAL bytes
    pass through with wet_db null.  Convolved rows re-encode pcm_s16le;
    duration is preserved (full convolution trimmed to n).  mapInPandas,
    map-only: payloads never enter a shuffle."""
    _check_rir_kind(kind, gain)
    return _map_payloads(
        df, [partial(_reverb_kernel, seed=seed, kind=kind,
                     rt60_ms=float(rt60_ms), delay_ms=float(delay_ms),
                     gain=float(gain))],
        bytes_col=bytes_col, codec_col=codec_col, id_col=id_col,
        stats="reverb_wet_db double")


def _reverb_kernel(pcm, sr, rid, *, seed, **rir):
    # ":rir:" keeps the RIR stream independent of the noise stream an
    # augment_noise(seed=...) chain would draw
    rng = np.random.default_rng(
        zlib.crc32(f"{seed}:rir:{rid}".encode("utf-8")))
    h = make_rir(sr, rng=rng, **rir)
    if len(h) == 1:  # gain <= 0: the identity RIR
        return None, sr, {"reverb_wet_db": None}
    wet_db = 20.0 * np.log10(rir["gain"])
    return reverb_pcm(pcm, h), sr, {"reverb_wet_db": wet_db}


# ---------------------------------------------------------------------------
# sequence packing: short clips -> fixed-budget training windows
# ---------------------------------------------------------------------------

PACKED_SCHEMA = (
    "bin long, n_clips int, n_bad int, sr_hz int, total_samples long, "
    "dur_ms int, clip_ids string, bytes binary, codec string")


_PACK_NULL_STRATUM = "\x00__null__"


def pack_clips(
    df: DataFrame,
    target_ms: int,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    dur_col: str = "dur_ms",
    gap_ms: int = 0,
    n_ranges: int = 32,
    transcript_col: str | None = None,
    transcript_sep: str = " ",
    stratify_col: str | None = None,
    resample_to: int | None = None,
    skip_bad: bool = False,
) -> DataFrame:
    """Sequence packing for ASR training: concatenate short clips into
    ~target_ms windows (the audio twin of LM sequence packing — short
    utterances waste padded compute, so corpora are packed before
    training).  bin = floor(prefix_dur / target_ms) over the labeled
    `dur_col` in id order (next-fit: a bin may overflow by less than
    one clip, never more).

    `stratify_col` packs each stratum independently (the realistic
    shape — you pack within a sample-rate or language stratum, never
    across), with per-stratum bin numbering and a `stratum` output
    column; the distinct stratum values must be driver-collectable
    (sample rates, languages — dozens, not millions).  `transcript_col`
    carries the training labels through packing: decoded members'
    transcripts are joined by `transcript_sep` in the same id order as
    the audio, emitted as a `transcript` column.

    The payload (the dominant bytes at 10^12-clip scale) crosses the
    wire EXACTLY ONCE.  Three steps:

    1. NARROW assignment pass — ops.prefix_totals (the token_shards
       two-phase distributed prefix sum, exact LONG arithmetic) over
       just (id, dur) per stratum: column pruning keeps the binary
       column out of this job entirely.
    2. BIN-ALIGNED boundary pick, driver-side — per stratum, ~n_ranges
       boundary bins are chosen at row-quantiles of the bin column, and
       for each the first member id and its exact start prefix are
       collected (tiny).  Because every payload-partition boundary
       coincides with a bin START, no bin ever straddles two
       partitions; strata get disjoint pid ranges, so they never share
       a prefix chain.
    3. PAYLOAD pass — pid is a literal CASE over (stratum, boundary
       ids) (map-side), ONE hash exchange moves each payload to its
       partition, a per-pid window rebuilds the exact per-stratum
       prefix from the literal start offsets, and a mapInPandas walks
       the (pid, id)-sorted partition assembling each run of equal
       (stratum, bin) locally: decode members in id order, concatenate
       with gap_ms of digital silence between neighbours, re-encode
       pcm_s16le.  No join, no second payload shuffle (plan-asserted in
       tests/test_pack.py).

    Fail-closed rails (both relaxable): bins whose members mix DECODED
    sample rates emit null bytes with n_bad > 0 rather than a silently
    broken window — `resample_to` instead sinc-resamples every member
    to that rate at assembly (resample-at-pack, the realistic policy
    for mixed-rate corpora); bins containing undecodable payloads also
    fail closed — `skip_bad=True` instead drops the bad members (still
    counted in n_bad) and packs the rest, so one corrupt clip doesn't
    discard a whole training window.  Output: (bin, n_clips, n_bad,
    sr_hz, total_samples, dur_ms, clip_ids comma-joined in id order,
    bytes, codec [, stratum][, transcript])."""
    from .ops import prefix_totals

    T = int(target_ms)
    strat_expr = (
        F.coalesce(F.col(stratify_col).cast("string"),
                   F.lit(_PACK_NULL_STRATUM))
        if stratify_col is not None else F.lit("")
    )
    if stratify_col is not None:
        strata = sorted(
            r["_pstr"] for r in df.select(strat_expr.alias("_pstr"))
            .distinct().collect())
    else:
        strata = [""]

    def _boundaries(narrow: DataFrame) -> list[tuple]:
        """[(first_id, start_prefix)] of the chosen boundary bins for
        one stratum, ascending by start prefix."""
        pref = prefix_totals(
            narrow, id_col, dur_col, n_ranges=n_ranges,
        ).withColumn("bin", F.expr(f"_prefix_tok div {T}").cast("long"))
        # boundary bins at row-quantiles; dedup + drop bin 0 (the
        # stratum's pid 0 starts at prefix 0 unconditionally)
        if n_ranges > 1:
            qs = [i / n_ranges for i in range(1, n_ranges)]
            cand = sorted({int(b) for b in pref.stat.approxQuantile(
                "bin", qs, 0.001)} - {0})
        else:
            cand = []
        if not cand:
            return []
        firsts = (
            pref.filter(F.col("bin").isin([*cand]))
            .groupBy("bin")
            .agg(F.min("id").alias("first_id"),
                 F.min("_prefix_tok").alias("start"))
            .collect()
        )
        return sorted(((r["first_id"], int(r["start"])) for r in firsts),
                      key=lambda x: x[1])

    narrow_all = df.select(
        strat_expr.alias("_pstr"), F.col(id_col), F.col(dur_col))
    offsets: dict[int, int] = {}
    pid = F.lit(-1)
    base = 0
    for s in strata:
        nb = (narrow_all.filter(F.col("_pstr") == s)
              .select(id_col, dur_col))
        bmeta = _boundaries(nb)
        inner = F.lit(base)
        offsets[base] = 0
        for j, (fid, start) in enumerate(bmeta):
            inner = F.when(F.col("_pkid") >= F.lit(fid),
                           F.lit(base + j + 1)).otherwise(inner)
            offsets[base + j + 1] = start
        pid = F.when(F.col("_pstr") == s, inner).otherwise(pid)
        base += len(bmeta) + 1
    omap = F.create_map(
        *[x for p, o in offsets.items()
          for x in (F.lit(p), F.lit(o).cast("long"))])
    w = (
        Window.partitionBy("_ppid").orderBy(F.asc("_pkid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tx_expr = (F.coalesce(F.col(transcript_col).cast("string"), F.lit(""))
               if transcript_col is not None else F.lit(""))
    binned = (
        df.select(
            strat_expr.alias("_pstr"),
            F.col(id_col).alias("_pkid"),
            F.col(bytes_col).alias("_pbytes"),
            F.col(codec_col).alias("_pcodec"),
            F.col(dur_col).cast("long").alias("_ptok"),
            tx_expr.alias("_ptx"),
        )
        .withColumn("_ppid", pid)
        .repartition(base, "_ppid")
        .withColumn("_pcum", F.sum("_ptok").over(w))
        .withColumn("_poff", omap[F.col("_ppid")])
        .withColumn(
            "bin",
            F.expr(f"(_poff + _pcum - _ptok) div {T}").cast("long"))
    )
    gap = int(gap_ms)
    with_stratum = stratify_col is not None
    with_tx = transcript_col is not None
    sep_tx = str(transcript_sep)

    target_sr = int(resample_to) if resample_to else None
    drop_bad = bool(skip_bad)

    def _flush(s, b, ids, members):
        from gx_spark.audio import decode_payload, wav_encode
        from gx_spark.audio_ops import resample_sinc as _rs

        parts: list[np.ndarray] = []
        txs: list[str] = []
        srs: set[int] = set()
        n_bad = 0
        for bb, cc, tx in members:
            if bb is None:
                n_bad += 1
                continue
            try:
                sr, pcm = decode_payload(bytes(bb), cc)
            except (ValueError, NotImplementedError, TypeError):
                n_bad += 1
                continue
            if target_sr is not None and sr != target_sr:
                pcm = _rs(pcm, sr, target_sr)
                sr = target_sr
            srs.add(int(sr))
            parts.append(pcm)
            txs.append(tx)
        extra: tuple = ()
        if with_stratum:
            extra += (None if s == _PACK_NULL_STRATUM else s,)
        if (n_bad and not drop_bad) or len(srs) != 1 or not parts:
            if with_tx:
                extra += (None,)
            return (b, len(ids), n_bad,
                    srs.pop() if len(srs) == 1 else None, None, None,
                    ",".join(ids), None, "pcm_s16le") + extra
        if with_tx:
            extra += (sep_tx.join(txs),)
        sr = srs.pop()
        sep = np.zeros(sr * gap // 1000, dtype=np.int16)
        pieces: list[np.ndarray] = []
        for i, p in enumerate(parts):
            if i and len(sep):
                pieces.append(sep)
            pieces.append(p)
        packed = np.concatenate(pieces)
        return (b, len(parts), n_bad, sr, len(packed),
                int(round(len(packed) * 1000.0 / sr)), ",".join(ids),
                wav_encode(packed, sr), "pcm_s16le") + extra

    cols = ["bin", "n_clips", "n_bad", "sr_hz", "total_samples",
            "dur_ms", "clip_ids", "bytes", "codec"]
    out_schema = PACKED_SCHEMA
    if with_stratum:
        cols.append("stratum")
        out_schema += ", stratum string"
    if with_tx:
        cols.append("transcript")
        out_schema += ", transcript string"

    def _assemble(batches):
        # rows arrive (pid, id)-sorted; within a task bins never
        # straddle a partition, but two pids (so two strata) can hash
        # into one task — group on the (stratum, bin) PAIR transition,
        # carrying the open bin across Arrow batch boundaries
        cur = None
        ids: list = []
        mem: list = []
        for pdf in batches:
            out = []
            for s, b, i, bb, cc, tx in zip(
                    pdf["_pstr"], pdf["bin"], pdf["_pkid"],
                    pdf["_pbytes"], pdf["_pcodec"], pdf["_ptx"]):
                key = (s, int(b))
                if cur is not None and key != cur:
                    out.append(_flush(cur[0], cur[1], ids, mem))
                    ids, mem = [], []
                cur = key
                ids.append(str(i))
                mem.append((bb, cc, tx))
            if out:
                yield pd.DataFrame(out, columns=cols)
        if cur is not None:
            yield pd.DataFrame([_flush(cur[0], cur[1], ids, mem)],
                               columns=cols)

    return map_in_pandas(
        binned.select("_pstr", "bin", "_pkid", "_pbytes", "_pcodec", "_ptx"),
        _assemble, out_schema)


# ---------------------------------------------------------------------------
# tempo stretch: pitch-PRESERVING time-scale modification (WSOLA)
# ---------------------------------------------------------------------------


def tempo_stretch_pcm(
    pcm: np.ndarray, sr: int, factor: float,
    frame_ms: float = 25.0, search_ms: float = 7.5,
) -> np.ndarray:
    """WSOLA time-scale modification (Verhelst & Roelands, ICASSP 1993):
    change tempo by `factor` (>1 = faster/shorter) while PRESERVING
    pitch — the complement of speed_perturb, whose resample shifts pitch
    with tempo.  Deterministic pure numpy; no RNG, no state.

    Periodic-Hann frames at 50% overlap (exact COLA: interior window
    sums are identically 1) are copied from input positions chosen by
    cross-correlation: frame k's nominal source is round(k*H*factor),
    refined within ±search_ms to best continue the previous frame's
    waveform (template = the previous source advanced by one synthesis
    hop), which is what removes the pitch artifacts of naive hop
    resampling.  Output length is EXACTLY round(n/factor); edge samples
    are renormalized by the accumulated window sum.  Clips shorter than
    one analysis window fall back to trim/zero-pad (pitch is undefined
    below one frame)."""
    if factor <= 0:
        raise ValueError("factor must be positive")
    x = pcm.astype(np.float64)
    n = len(x)
    n_out = int(round(n / factor))
    if n_out <= 0:
        return np.zeros(0, dtype=np.int16)
    if factor == 1.0:
        return pcm.copy()
    N = max(32, int(round(sr * frame_ms / 1000.0)) & ~1)
    H = N // 2
    S = max(1, int(round(sr * search_ms / 1000.0)))
    if n < N + 2 * S + 2 or n_out < N:
        y = x[:n_out] if n >= n_out else np.pad(x, (0, n_out - n))
        return np.clip(np.rint(y), -32768, 32767).astype(np.int16)
    w = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(N) / N)
    n_frames = max(1, -(-(n_out - N) // H) + 1)
    out = np.zeros(n_frames * H + N, dtype=np.float64)
    wsum = np.zeros_like(out)
    prev = 0
    out[:N] += x[:N] * w
    wsum[:N] += w
    for k in range(1, n_frames):
        pos = k * H
        nominal = int(round(pos * factor))
        lo = max(0, min(nominal - S, n - N))
        hi = max(lo, min(nominal + S, n - N))
        tmpl = x[prev + H: prev + H + H]
        if hi > lo:
            c = lo + int(np.argmax(
                np.correlate(x[lo: hi + H], tmpl, "valid")))
        else:
            c = lo
        out[pos: pos + N] += x[c: c + N] * w
        wsum[pos: pos + N] += w
        prev = c
    y = out[:n_out] / np.maximum(wsum[:n_out], 1e-8)
    return np.clip(np.rint(y), -32768, 32767).astype(np.int16)


def tempo_stretch(
    df: DataFrame,
    factor: float,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """Tempo augmentation WITHOUT pitch shift (WSOLA, tempo_stretch_pcm)
    — `factor`x faster playback, duration scaled by exactly 1/factor,
    dominant frequency unchanged (speed_perturb scales it by `factor`;
    tests pin the contrast on pure tones).  Output re-encodes pcm_s16le
    at the original sr; dur_ms (when present) recomputed; undecodable
    rows pass through with null bytes.  mapInPandas, map-only — payloads
    never shuffle, the same embarrassingly-parallel shape as every other
    augmentation here."""
    if factor <= 0:
        raise ValueError("factor must be positive")
    return _map_payloads(
        df, [partial(_tempo_kernel, factor=factor)],
        bytes_col=bytes_col, codec_col=codec_col, headers=("dur_ms",))


def _tempo_kernel(pcm, sr, _rid, *, factor):
    y = tempo_stretch_pcm(pcm, sr, factor)
    return y, sr, {"dur_ms": int(round(len(y) * 1000.0 / sr))}


# ---------------------------------------------------------------------------
# SpecAugment: deterministic time/frequency masking on log-mel features
# ---------------------------------------------------------------------------

SPECAUG_SCHEMA = (
    "n_frames long, n_mels int, masked_frames int, masked_bands int, "
    "masked_cell_frac double, logmel array<array<double>>")

_SPECAUG_KEYS = ("n_frames", "n_mels", "masked_frames", "masked_bands",
                 "masked_cell_frac", "logmel")


def specaugment(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
    n_mels: int = 26,
    frame_ms: int = 25,
    hop_ms: int = 10,
    time_masks: int = 2,
    max_time_frames: int = 10,
    freq_masks: int = 2,
    max_freq_bands: int = 4,
    floor_db: float = -80.0,
    seed: int = 42,
) -> DataFrame:
    """SpecAugment (Park et al., Interspeech 2019): the standard ASR
    feature-space augmentation — random time and frequency stripes of
    the log-mel matrix replaced by a floor value, done at corpus-prep
    time so the training job reads augmented features directly.

    Per clip: decode once, 25/10 ms periodic-Hann log-mel (the
    mel_features front end), then `time_masks` stripes of width
    uniform[0, max_time_frames] over frames and `freq_masks` stripes of
    width uniform[0, max_freq_bands] over bands are set to EXACTLY
    `floor_db`.  The mask RNG is crc32(seed:id)-seeded per row —
    bit-identical at any parallelism/partitioning, the augment_noise
    determinism contract.  Natural cells are clamped at -100 dB
    (1e-10 power), so a cell equal to floor_db identifies a masked
    cell exactly — tests and the driver oracle recount masked frames /
    bands from the emitted matrix with JVM-side higher-order functions
    and match them against the bookkeeping columns:

    - masked_frames / masked_bands: count of DISTINCT masked frame rows
      / band columns (stripes may overlap)
    - masked_cell_frac: exact covered-cell fraction,
      (mf*n_mels + mb*nf - mf*mb) / (nf*n_mels)

    Undecodable rows and clips shorter than one frame emit null
    features.  `keep_cols` (default none) come first, in input order.
    Map-only, one Arrow decode, no shuffle."""
    if not (0 < n_mels and max_freq_bands * freq_masks < n_mels):
        raise ValueError("freq masks must not cover every band")
    row = partial(_specaugment_row, n_mels=n_mels, frame_ms=frame_ms,
                  hop_ms=hop_ms, time_masks=time_masks,
                  max_time_frames=max_time_frames, freq_masks=freq_masks,
                  max_freq_bands=max_freq_bands, floor_db=floor_db,
                  seed=seed)
    keep = [c for c in df.columns if c in (keep_cols or ())]
    return _map_features(df, SPECAUG_SCHEMA, [row],
                         (id_col, bytes_col, codec_col), bytes_col, keep)


def _specaugment_row(rid, b, codec, *, n_mels, frame_ms, hop_ms,
                     time_masks, max_time_frames, freq_masks,
                     max_freq_bands, floor_db, seed):
    out: dict[str, Any] = dict.fromkeys(_SPECAUG_KEYS)
    out["n_mels"] = int(n_mels)
    dec = _decode(b, codec)
    if dec is None or dec[0] <= 0:
        return out
    nf, mel = _mel_power(*dec, n_mels, frame_ms, hop_ms)
    if nf == 0:
        return out
    mel = 10.0 * np.log10(np.maximum(mel, 1e-10))
    rng = np.random.default_rng(zlib.crc32(f"{seed}:{rid}".encode("utf-8")))
    trows: set[int] = set()
    for _ in range(int(time_masks)):
        wlen = int(rng.integers(0, max_time_frames + 1))
        start = int(rng.integers(0, max(1, nf - wlen + 1)))
        wlen = min(wlen, nf - start)
        mel[start:start + wlen, :] = floor_db
        trows.update(range(start, start + wlen))
    bcols: set[int] = set()
    for _ in range(int(freq_masks)):
        wlen = int(rng.integers(0, max_freq_bands + 1))
        start = int(rng.integers(0, max(1, n_mels - wlen + 1)))
        wlen = min(wlen, n_mels - start)
        mel[:, start:start + wlen] = floor_db
        bcols.update(range(start, start + wlen))
    mf, mb = len(trows), len(bcols)
    out.update(n_frames=int(nf), masked_frames=mf, masked_bands=mb,
               masked_cell_frac=(mf * n_mels + mb * nf - mf * mb)
               / float(nf * n_mels),
               logmel=[list(r) for r in mel])
    return out


# ---------------------------------------------------------------------------
# CMVN: corpus-level cepstral/filterbank mean-variance normalization
# ---------------------------------------------------------------------------

CMVN_PARTIAL_SCHEMA = (
    "n_frames long, band_sum array<double>, band_sumsq array<double>")


def cmvn_partials(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
    n_mels: int = 26,
    frame_ms: int = 25,
    hop_ms: int = 10,
) -> DataFrame:
    """Per-clip CMVN partials: frame count plus per-band Σx and Σx² of
    the 25/10 log-mel matrix (one Arrow decode, map-only).  These are
    the mergeable sufficient statistics of corpus-level mean/variance —
    the DataFrame form of a treeAggregate: every clip contributes a
    26-element partial, Catalyst's partial+final HashAggregate merges
    them map-side, and only (band, sum, sumsq, n) scalars ever shuffle.
    Undecodable / sub-frame clips emit n_frames=0 with zero vectors.
    `keep_cols` (default none) come first, in input order."""
    row = partial(_cmvn_row, n_mels=n_mels, frame_ms=frame_ms,
                  hop_ms=hop_ms)
    keep = [c for c in df.columns if c in (keep_cols or ())]
    return _map_features(df, CMVN_PARTIAL_SCHEMA, [row],
                         (bytes_col, codec_col), bytes_col, keep)


def _cmvn_row(b, codec, *, n_mels, frame_ms, hop_ms):
    dec = _decode(b, codec)
    nf, mel = ((0, None) if dec is None or dec[0] <= 0
               else _mel_power(*dec, n_mels, frame_ms, hop_ms))
    if nf == 0:
        return {"n_frames": 0, "band_sum": [0.0] * n_mels,
                "band_sumsq": [0.0] * n_mels}
    mel = 10.0 * np.log10(np.maximum(mel, 1e-10))
    return {"n_frames": int(nf),
            "band_sum": [float(v) for v in mel.sum(axis=0)],
            "band_sumsq": [float(v) for v in (mel * mel).sum(axis=0)]}


def cmvn_stats(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    n_mels: int = 26,
    frame_ms: int = 25,
    hop_ms: int = 10,
) -> tuple[int, list[float], list[float]]:
    """Corpus CMVN statistics: (total_frames, per-band means, per-band
    POPULATION stds) of the log-mel features over every decodable clip.
    One pass: cmvn_partials map-side, then a single 26-row aggregate
    (posexplode of the partial vectors -> groupBy(band).sum — map-side
    partial aggregation means only n_partitions x 26 scalar triples
    cross the wire, the treeAggregate merge in DataFrame form)."""
    parts = cmvn_partials(
        df, bytes_col=bytes_col, codec_col=codec_col, n_mels=n_mels,
        frame_ms=frame_ms, hop_ms=hop_ms)
    agg = (
        parts.select(
            "n_frames",
            F.posexplode("band_sum").alias("band", "s"),
            F.col("band_sumsq"))
        .select("n_frames", "band", "s",
                F.col("band_sumsq")[F.col("band")].alias("q"))
        .groupBy("band")
        .agg(F.sum("n_frames").alias("n"), F.sum("s").alias("s"),
             F.sum("q").alias("q"))
        .collect()
    )
    rows = sorted(agg, key=lambda r: r["band"])
    n = int(rows[0]["n"]) if rows else 0
    means, stds = [], []
    for r in rows:
        m = r["s"] / n if n else 0.0
        v = max(r["q"] / n - m * m, 0.0) if n else 0.0
        means.append(float(m))
        stds.append(float(v ** 0.5))
    return n, means, stds


def apply_cmvn(
    df: DataFrame,
    means: list[float],
    stds: list[float],
    *,
    logmel_col: str = "logmel",
    eps: float = 1e-8,
) -> DataFrame:
    """Normalize a log-mel matrix column by corpus CMVN statistics:
    cell[j] -> (cell[j] - means[j]) / max(stds[j], eps).  The stats are
    literal arrays (broadcast by value inside the plan — no join, no
    shuffle); the transform is JVM-side nested higher-order functions,
    no Python in the hot path."""
    marr = F.array(*[F.lit(float(m)) for m in means])
    sarr = F.array(*[F.lit(max(float(s), eps)) for s in stds])
    return df.withColumn(
        logmel_col,
        F.transform(
            F.col(logmel_col),
            lambda row: F.zip_with(
                F.zip_with(row, marr, lambda c, m: c - m),
                sarr, lambda d, s: d / s)))


# ---------------------------------------------------------------------------
# declick: isolated-impulse (click/pop) detection and repair
# ---------------------------------------------------------------------------


def declick_pcm(
    pcm: np.ndarray, thr_frac: float = 0.2
) -> tuple[np.ndarray, int]:
    """Click/pop repair on one int16 clip: a sample whose residual
    against the 5-point running median exceeds `thr_frac` of full scale
    is an isolated impulse (vinyl tick, packet glitch, sensor pop) and
    is replaced BY that median.  The median is robust to the impulse
    itself, so the estimate under a true click is the local waveform;
    smooth program material (speech/tones) has per-sample curvature
    orders of magnitude below 20% FS and passes through bit-identical.
    Returns (repaired int16 copy, n_clicks)."""
    n = len(pcm)
    if n < 5:
        return pcm.copy(), 0
    x = pcm.astype(np.float64)
    # 5-point running median via a (n-4, 5) stride-free window stack
    w = np.stack([x[i:n - 4 + i] for i in range(5)], axis=1)
    med = np.median(w, axis=1)
    resid = np.abs(x[2:n - 2] - med)
    thr = float(thr_frac) * 32767.0
    hits = np.nonzero(resid > thr)[0]
    if not len(hits):
        return pcm.copy(), 0
    y = x.copy()
    y[hits + 2] = med[hits]
    out = np.clip(np.rint(y), -32768, 32767).astype(np.int16)
    return out, int(len(hits))


def _click_count_row(b, codec: str, thr_frac: float) -> int:
    """declick_pcm's impulse count for one payload (detection only,
    nothing re-encoded) — the click gate's row function."""
    return declick_pcm(decode_payload(bytes(b), codec)[1], thr_frac)[1]


def declick_audio(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    thr_frac: float = 0.2,
) -> DataFrame:
    """Click/pop repair across a corpus (declick_pcm) — the restoration
    companion to declip_audio (rail runs), remove_hum (tonal
    interference), and the DC repair: impulsive defects that a
    validation pass flags get repaired rather than dropped.

    Output schema = input + (n_clicks long).  Clean clips pass through
    with their ORIGINAL bytes and codec (n_clicks 0); repaired clips
    re-encode pcm_s16le; undecodable rows pass through with null bytes
    (the trim_silence convention).  mapInPandas, map-only — payloads
    never shuffle."""
    return _map_payloads(
        df, [partial(_declick_kernel, thr_frac=thr_frac)],
        bytes_col=bytes_col, codec_col=codec_col, stats="n_clicks long")


def _declick_kernel(pcm, sr, _rid, *, thr_frac):
    y, k = declick_pcm(pcm, thr_frac)
    return (y if k else None), sr, {"n_clicks": k}


# ---------------------------------------------------------------------------
# spectral-subtraction noise reduction (Boll 1979)
# ---------------------------------------------------------------------------


def denoise_pcm(
    pcm: np.ndarray, sr: int,
    frame_ms: int = 25, hop_ms: int = 10,
    noise_quantile: float = 0.1, oversub: float = 3.0,
    floor_gain: float = 0.05,
) -> np.ndarray:
    """Spectral-subtraction noise reduction (Boll, IEEE TASSP 1979) on
    one int16 clip: STFT with periodic-Hann 25/10 frames, a noise
    power profile estimated as the mean spectrum of the lowest-energy
    `noise_quantile` of frames (the pauses a VAD would mark), per-bin
    Wiener-style gain max(1 - oversub*noise/power, floor_gain²)^0.5,
    then COLA overlap-add resynthesis at the exact input length.
    Deterministic, no RNG; clips shorter than two frames pass through
    unchanged."""
    n = len(pcm)
    win = max(2, sr * frame_ms // 1000)
    hop = max(1, sr * hop_ms // 1000)
    if n < win + hop:
        return pcm.copy()
    x = pcm.astype(np.float64)
    nf = 1 + (n - win) // hop
    idx = np.arange(nf)[:, None] * hop + np.arange(win)[None, :]
    w = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(win) / win)
    nfft = 1 << max(1, int(win - 1).bit_length())
    spec = np.fft.rfft(x[idx] * w, nfft, axis=1)
    pwr = np.abs(spec) ** 2
    energy = pwr.sum(axis=1)
    k = max(1, int(round(nf * noise_quantile)))
    quiet = np.argsort(energy)[:k]
    noise = pwr[quiet].mean(axis=0)
    gain = np.sqrt(np.maximum(
        1.0 - oversub * noise / np.maximum(pwr, 1e-30),
        floor_gain * floor_gain))
    frames = np.fft.irfft(spec * gain, nfft, axis=1)[:, :win]
    out = np.zeros(n + win, dtype=np.float64)
    wsum = np.zeros_like(out)
    for i in range(nf):  # COLA overlap-add with window normalization
        p = i * hop
        out[p:p + win] += frames[i] * w
        wsum[p:p + win] += w * w
    tail = (nf - 1) * hop + win
    y = x.copy()
    good = wsum[:tail] > 1e-8
    y[:tail][good] = out[:tail][good] / wsum[:tail][good]
    return np.clip(np.rint(y), -32768, 32767).astype(np.int16)


def denoise_audio(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    noise_quantile: float = 0.1,
    oversub: float = 3.0,
    floor_gain: float = 0.05,
) -> DataFrame:
    """Corpus-wide stationary-noise reduction (denoise_pcm): the
    cleanup step for hiss/hum-bed recordings a validation pass flags by
    SNR.  Output schema = input; every decodable clip re-encodes
    pcm_s16le at its original length; undecodable rows pass through
    with null bytes (the trim_silence convention).  mapInPandas,
    map-only — payloads never shuffle."""
    return _map_payloads(
        df, [partial(_denoise_kernel, noise_quantile=noise_quantile,
                     oversub=oversub, floor_gain=floor_gain)],
        bytes_col=bytes_col, codec_col=codec_col)


def _denoise_kernel(pcm, sr, _rid, **params):
    return denoise_pcm(pcm, sr, **params), sr, {}


# ---------------------------------------------------------------------------
# fused repair pipeline: every waveform restoration in ONE decode/encode
# ---------------------------------------------------------------------------


def repair_pipeline(
    df: DataFrame,
    *,
    dc: bool = True,
    declip: bool = True,
    declick: bool = True,
    hum: bool = True,
    denoise: bool = False,
    dc_min_frac: float = 0.001,
    rail_frac: float = 0.999,
    out_peak: float = 0.97,
    click_thr_frac: float = 0.2,
    mains: tuple[float, ...] = (50.0, 60.0),
    n_harmonics: int = 3,
    hum_min_ratio: float = 0.01,
    notch_hz: float = 2.0,
    noise_quantile: float = 0.1,
    oversub: float = 3.0,
    floor_gain: float = 0.05,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """Fused waveform-restoration chain: DC removal -> declip ->
    declick -> hum notch -> (optional) denoise in ONE decode/encode
    pass — the repair twin of augment_pipeline.  Composing
    remove_dc_offset / declip_audio / declick_audio / remove_hum /
    denoise_audio as separate ops is semantically identical but pays
    one Arrow payload round trip and one decode/encode per stage; at
    10^12 clips the intermediate payload traffic IS the cost.  This op
    is BIT-IDENTICAL to the chained composition (pinned by test):
    every stage applies the same *_pcm function the standalone op
    uses, on the exact int16 grid the chained form would re-decode
    (pcm16 WAV round-trips losslessly), with the same detection gates —
    a clip no stage touches keeps its ORIGINAL bytes and codec.

    Output schema = input + the enabled stages' stat columns
    (dc_removed int, n_clipped long + declip_gain_db double,
    n_clicks long, hum_removed_ratio double — denoise adds none and
    always re-encodes).  Undecodable rows pass through with null bytes
    and null stats.  mapInPandas, map-only — payloads never shuffle."""
    stages = [
        (dc, partial(_dc_kernel, min_frac=dc_min_frac), "dc_removed int"),
        (declip, partial(_declip_kernel, rail_frac=rail_frac,
                         out_peak=out_peak),
         "n_clipped long, declip_gain_db double"),
        (declick, partial(_declick_kernel, thr_frac=click_thr_frac),
         "n_clicks long"),
        (hum, partial(_hum_kernel, mains=tuple(float(m) for m in mains),
                      n_harmonics=int(n_harmonics),
                      min_ratio=float(hum_min_ratio),
                      notch_hz=float(notch_hz)), "hum_removed_ratio double"),
        (denoise, partial(_denoise_kernel, noise_quantile=noise_quantile,
                          oversub=oversub, floor_gain=floor_gain), ""),
    ]
    if not any(on for on, _, _ in stages):
        raise ValueError("enable at least one stage")
    return _map_payloads(
        df, [k for on, k, _ in stages if on],
        bytes_col=bytes_col, codec_col=codec_col,
        stats=", ".join(st for on, _, st in stages if on and st))


# ---------------------------------------------------------------------------
# fused QA features: loudness + pitch + electrical from ONE decode
# ---------------------------------------------------------------------------

QA_FEATURES_SCHEMA = (
    "n_samples long, n_blocks long, lufs_integrated double, "
    "lufs_momentary_max double, gated_block_frac double, "
    "n_frames long, voiced_frac double, f0_median_hz double, "
    "periodicity_mean double, dc_frac double, hum_ratio double, "
    "hum_base_hz double")

def qa_features(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Fused level + pitch + electrical QA pass: the BS.1770-4 gated
    loudness block (compute_loudness_row), the framewise-ACF pitch
    tracker (compute_pitch_row), and the DC/mains-hum probes
    (compute_electrical_row) all ride ONE Arrow decode per clip — the
    validate_and_extract_audio fusion shape applied to the QA trio.
    Honest numbers: these probes are COMPUTE-dominated, so fusing away
    two of three decodes saves ~8% wall on the bench shard (22.8 s vs
    24.7 s separate, both in BENCH), not the ~2x the decode-dominated
    feature/fingerprint fusion gets — the win here is one pipeline
    stage and one pass over the table.  Column values are IDENTICAL to
    the standalone ops'
    (same row functions via their `decoded=` hand-off, test-pinned).
    Map-only, binary pruned in the same select — no shuffle."""
    keep = [f.name for f in df.schema.fields if f.name in (keep_cols or [])]
    return _map_features(
        df, QA_FEATURES_SCHEMA,
        [compute_loudness_row, compute_pitch_row, compute_electrical_row],
        (bytes_col, codec_col), bytes_col, keep)
