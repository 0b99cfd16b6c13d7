"""Audio payload expectations (north-rule extension, no upstream analog —
SURVEY.md §2.5 'Audio payload checks').

The decode-backed expectations read shared derived columns, each built
once per run by one row UDF (gx_spark/row_udf.py) and registered by
base._shared_udf_column: the `__audio` flags struct (gx_spark/audio.py)
and the `__pitch` / `__loudness` / `__electrical` / `__clicks` gate
columns (gx_spark/audio_ops.py row functions).  All of them are
`count_via_violations`: their unexpected counts come from the fused
violations pass, so each decode (and the binary column's Arrow transfer
to Python) happens exactly ONCE per run, map-side.  Catalyst prunes the
unused derived projections out of the stage-1 agg plan, which therefore
never decodes.  The binary column never enters a shuffle in either pass
— only tiny partial-agg rows and violation structs move (plan-shape
tested).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..audio import make_audio_flags_udf
from ..model import ExpectationConfiguration
from ..planner import MetricContext
from ..registry import register_expectation
from ..row_udf import _row_udf
from .base import ColumnMapExpectation, _SharedColumnMap, _shared_udf_column, require_columns

_AUDIO_COL = "__audio"


def ensure_audio_flags(
    ctx: MetricContext,
    cfg: ExpectationConfiguration,
    quality: dict | None = None,
) -> None:
    """Register the shared `__audio` flags column (one decode per run).

    Quality expectations pass their decode-level params (clip_rail /
    frame_ms / silence_dbfs); the registered column is then REBUILT with
    the wider quality schema, still as one UDF instance — plan() for every
    expectation runs before execution, so the richest request wins and the
    decode still happens exactly once.  Two quality expectations in one
    suite must agree on the decode-level params (thresholds like max_ratio
    are per-expectation and free to differ)."""
    k = cfg.kwargs
    cols = (
        k.get("clip_id_column", "clip_id"),
        k.get("bytes_column", "bytes"),
        k.get("sr_column", "sr_hz"),
        k.get("dur_column", "dur_ms"),
        k.get("codec_column", "codec"),
        k.get("transcript_column", "transcript"),
    )
    _shared_udf_column(ctx, _AUDIO_COL, cols,
                       lambda: make_audio_flags_udf(quality=quality),
                       quality, "audio quality params")


def _payload_cols(cfg: ExpectationConfiguration) -> tuple[str, str]:
    k = cfg.kwargs
    return k.get("bytes_column", "bytes"), k.get("codec_column", "codec")


@register_expectation("expect_audio_metadata_to_be_consistent")
class AudioMetadataConsistent(_SharedColumnMap):
    """Unexpected when the payload fails to decode, the embedded header
    sample-rate disagrees with `sr_hz`, or the decoded frame count disagrees
    with `sr_hz * dur_ms` (truncation)."""

    metric_name = "audio.metadata_consistent"
    shared = staticmethod(ensure_audio_flags)

    def unexpected_condition(self, cfg, ctx) -> Column:
        a = F.col(_AUDIO_COL)
        ok = (
            a["decodable"]
            & F.coalesce(a["header_sr_ok"], F.lit(True))
            & F.coalesce(a["dur_ok"], F.lit(True))
        )
        return ~F.coalesce(ok, F.lit(False))

    def observed_expr(self, cfg) -> Column:
        a = F.col(_AUDIO_COL)
        return F.to_json(
            F.struct(
                a["decodable"].alias("decodable"),
                a["header_sr"].alias("header_sr"),
                a["n_samples"].alias("n_samples"),
            )
        )


@register_expectation("expect_audio_snr_to_be_at_least")
class AudioSnrAtLeast(_SharedColumnMap):
    """Decoded PCM vs the deterministic reference re-synthesis:
    SNR >= min_snr_db (default 30, per BASELINE.json's per-row invariant).
    Non-decodable codecs are metadata-only and excluded (snr_db null)."""

    metric_name = "audio.snr"
    shared = staticmethod(ensure_audio_flags)

    def unexpected_condition(self, cfg, ctx) -> Column:
        thr = float(cfg.kwargs.get("min_snr_db", 30.0))
        s = F.col(_AUDIO_COL)["snr_db"]
        return s.isNotNull() & (s < F.lit(thr))

    def observed_expr(self, cfg) -> Column:
        return F.round(F.col(_AUDIO_COL)["snr_db"], 2)


@register_expectation("expect_transcript_to_match_reference")
class TranscriptMatchesReference(_SharedColumnMap):
    """Transcript equality vs the deterministic reference (computed in the
    same pandas UDF batch as the audio decode)."""

    metric_name = "audio.transcript_match"
    # target column is the transcript itself (null transcripts are a
    # not_be_null concern, excluded from this denominator)
    target = ("transcript_column", "transcript")
    shared = staticmethod(ensure_audio_flags)

    def unexpected_condition(self, cfg, ctx) -> Column:
        return ~F.coalesce(F.col(_AUDIO_COL)["transcript_ok"], F.lit(False))

    def observed_expr(self, cfg) -> Column:
        return F.col(cfg.kwargs.get("column", "transcript"))


@register_expectation("expect_speaking_rate_to_be_between")
class SpeakingRateBetween(ColumnMapExpectation):
    """Transcript chars-per-second vs the clip's labeled duration — the
    standard ASR-curation screen for misaligned audio/transcript pairs (a
    2 s clip cannot carry a 500-char transcript; a 30 s clip with 3 chars
    is dead air or a dropped label).  Pure JVM column arithmetic over
    (transcript, dur_ms): no payload decode, no UDF, so it rides the
    stage-1 agg scan and Catalyst prunes the binary column entirely.

    cps = length(transcript) / (dur_ms / 1000); unexpected when dur_ms is
    null or <= 0 (rate undefined == misaligned pair) or cps falls outside
    [min_cps, max_cps] (defaults 1.0 .. 50.0 — wide enough for slow read
    speech through fast synthetic TTS; real English speech sits ~12-18).
    Denominator = non-null transcripts; null transcripts are a
    not_be_null concern, per the audio family's convention."""

    metric_name = "audio.speaking_rate"

    def plan(self, ctx, cfg, index):
        cfg.kwargs.setdefault(
            "column", cfg.kwargs.get("transcript_column", "transcript"))
        require_columns(ctx, cfg.kwargs.get("dur_column", "dur_ms"))
        return super().plan(ctx, cfg, index)

    def _cps(self, cfg) -> Column:
        # ANSI-safe: null (never a divide-by-zero error) when dur_ms <= 0
        tr = cfg.kwargs.get("column", "transcript")
        dur = F.col(cfg.kwargs.get("dur_column", "dur_ms")).cast("double")
        safe = F.when(dur > 0, dur / F.lit(1000.0))
        return F.length(tr).cast("double") / safe

    def unexpected_condition(self, cfg, ctx) -> Column:
        lo = float(cfg.kwargs.get("min_cps", 1.0))
        hi = float(cfg.kwargs.get("max_cps", 50.0))
        dur = F.col(cfg.kwargs.get("dur_column", "dur_ms"))
        bad_dur = dur.isNull() | (dur <= 0)
        cps = self._cps(cfg)
        return bad_dur | (cps < F.lit(lo)) | (cps > F.lit(hi))

    def observed_expr(self, cfg) -> Column:
        return F.round(self._cps(cfg), 3)


def _quality_params(cfg: ExpectationConfiguration) -> dict:
    k = cfg.kwargs
    return dict(
        clip_rail=int(k.get("clip_rail", 32000)),
        frame_ms=int(k.get("frame_ms", 25)),
        silence_dbfs=float(k.get("silence_dbfs", -40.0)),
    )


def _ensure_quality_flags(ctx: MetricContext,
                          cfg: ExpectationConfiguration) -> None:
    ensure_audio_flags(ctx, cfg, quality=_quality_params(cfg))


@register_expectation("expect_audio_clipping_ratio_to_be_below")
class AudioClippingBelow(_SharedColumnMap):
    """Unexpected when the fraction of decoded samples at |pcm| >=
    clip_rail reaches max_ratio (default 0.01) — hard-limited / hot takes.
    Rides the shared audio decode (gx_spark/audio.py quality_ratios); the
    default rail is 32000 because companded codecs cannot represent 32767.
    Non-decodable payloads have a null ratio and are excluded (they are
    expect_audio_metadata_to_be_consistent's concern)."""

    metric_name = "audio.clipping_ratio"
    shared = staticmethod(_ensure_quality_flags)

    def unexpected_condition(self, cfg, ctx) -> Column:
        thr = float(cfg.kwargs.get("max_ratio", 0.01))
        r = F.col(_AUDIO_COL)["clipping_ratio"]
        return r.isNotNull() & (r >= F.lit(thr))

    def observed_expr(self, cfg) -> Column:
        return F.round(F.col(_AUDIO_COL)["clipping_ratio"], 4)


@register_expectation("expect_audio_silence_ratio_to_be_below")
class AudioSilenceBelow(_SharedColumnMap):
    """Unexpected when the fraction of frame_ms frames with frame power
    below silence_dbfs reaches max_ratio (default 0.5) — mostly-silent or
    dead-air clips.  Same shared decode; null ratio (undecodable / shorter
    than one frame) is excluded from the denominator."""

    metric_name = "audio.silence_ratio"
    shared = staticmethod(_ensure_quality_flags)

    def unexpected_condition(self, cfg, ctx) -> Column:
        thr = float(cfg.kwargs.get("max_ratio", 0.5))
        r = F.col(_AUDIO_COL)["silence_ratio"]
        return r.isNotNull() & (r >= F.lit(thr))

    def observed_expr(self, cfg) -> Column:
        return F.round(F.col(_AUDIO_COL)["silence_ratio"], 4)


@register_expectation("expect_audio_payload_size_to_be_consistent")
class AudioPayloadSizeConsistent(ColumnMapExpectation):
    """Container-arithmetic payload screen — catches truncated uploads,
    double-written blobs, and label/payload mismatches WITHOUT decoding a
    single sample.  Pure JVM arithmetic over (length(bytes), sr_hz,
    dur_ms, codec), so like SpeakingRateBetween it rides the stage-1 agg
    scan with the binary column touched only by `length()` (no Arrow
    transfer, no Python worker) — at 10^12 clips this is the cheap
    first-pass gate you run BEFORE paying for the decode suite, and at
    100 TB it is the difference between a metadata-speed scan and a
    full-decode pass.

    Expected sizes per codec, with n = floor(sr_hz * dur_ms / 1000)
    labeled samples (RIFF/WAVE layout per gx_spark/audio.py wav_encode:
    44-byte canonical header = 12 RIFF/WAVE + 24 fmt + 8 data):

    - pcm_s16le:            len == 44 + 2*n  (± tolerance_bytes)
    - pcm_f32le:            len == 56 + 4*n  (± tolerance_bytes; IEEE-
                            float WAV carries a mandatory fact chunk)
    - pcm_mulaw / pcm_alaw: len == 44 + n    (± tolerance_bytes, G.711 is
                            1 byte/sample)
    - adpcm_ima:            len == 60 + 256 * ceil(n / 505)
                            (± tolerance_bytes; tag-0x11 block framing is
                            exact arithmetic — 256 B blocks of 505
                            samples, 60 B of RIFF/fmt+ext/fact/data
                            framing per gx_spark/audio.py wav_encode)
    - flac:                 42 < len <= ceil(max_flac_ratio * 2*n) + 64
                            (42 = fLaC magic + STREAMINFO; lossless FLAC
                            never exceeds verbatim + ~0.3% frame-header
                            overhead, default max_flac_ratio 1.02; no
                            useful lower bound beyond the header — silence
                            compresses arbitrarily well)
    - anything else:        excluded (codec validity is
                            expect_audio_metadata_to_be_consistent's
                            concern; opus containers have no
                            arithmetic size)

    Null/non-positive sr_hz or dur_ms with a known codec are unexpected
    (a labeled clip with no valid geometry IS the violation this screen
    exists for).  Null bytes are MISSING, not unexpected — the audio
    family's convention (they are expect_column_values_to_not_be_null's
    concern), enforced by the map-metric denominator."""

    metric_name = "audio.payload_size"

    _WAV_BPS = {"pcm_s16le": 2, "pcm_mulaw": 1, "pcm_alaw": 1}
    _WAV_HEADER = 44
    _F32_HEADER = 56     # RIFF 12 + fmt 24 + fact 12 (mandatory) + data 8
    _FLAC_HEADER = 42
    _ADPCM_HEADER = 60   # RIFF 12 + fmt 28 (16+2+2 ext) + fact 12 + data 8
    _ADPCM_BLOCK = 256
    _ADPCM_SPB = 505     # (256 - 4) * 2 + 1

    def plan(self, ctx, cfg, index):
        cfg.kwargs.setdefault(
            "column", cfg.kwargs.get("bytes_column", "bytes"))
        require_columns(
            ctx,
            cfg.kwargs.get("sr_column", "sr_hz"),
            cfg.kwargs.get("dur_column", "dur_ms"),
            cfg.kwargs.get("codec_column", "codec"),
        )
        return super().plan(ctx, cfg, index)

    def _cols(self, cfg):
        k = cfg.kwargs
        return (
            F.col(k.get("column", "bytes")),
            F.col(k.get("sr_column", "sr_hz")).cast("long"),
            F.col(k.get("dur_column", "dur_ms")).cast("long"),
            F.col(k.get("codec_column", "codec")),
        )

    def _n_samples(self, sr, dur):
        return F.floor(sr * dur / F.lit(1000)).cast("long")

    def unexpected_condition(self, cfg, ctx) -> Column:
        tol = int(cfg.kwargs.get("tolerance_bytes", 0))
        ratio = float(cfg.kwargs.get("max_flac_ratio", 1.02))
        b, sr, dur, codec = self._cols(cfg)
        known = codec.isin(
            list(self._WAV_BPS) + ["flac", "adpcm_ima", "pcm_f32le"])
        # null bytes never reach here (map-metric missing-denominator)
        bad_geom = sr.isNull() | dur.isNull() | (sr <= 0) | (dur <= 0)
        n = self._n_samples(sr, dur)
        ln = F.length(b).cast("long")
        bps = F.create_map(
            *[F.lit(x) for kv in self._WAV_BPS.items() for x in kv]
        )[codec]
        wav_expected = F.lit(self._WAV_HEADER) + bps * n
        wav_bad = F.abs(ln - wav_expected) > F.lit(tol)
        flac_hi = (
            F.ceil(F.lit(ratio) * (F.lit(2) * n).cast("double"))
            .cast("long") + F.lit(64 + tol)
        )
        flac_bad = (ln <= F.lit(self._FLAC_HEADER)) | (ln > flac_hi)
        adpcm_expected = F.lit(self._ADPCM_HEADER) + F.lit(
            self._ADPCM_BLOCK) * F.floor(
            (n + F.lit(self._ADPCM_SPB - 1)) / F.lit(self._ADPCM_SPB))
        adpcm_bad = F.abs(ln - adpcm_expected) > F.lit(tol)
        f32_expected = F.lit(self._F32_HEADER) + F.lit(4) * n
        f32_bad = F.abs(ln - f32_expected) > F.lit(tol)
        return known & (
            bad_geom
            | F.when(codec == "flac", flac_bad)
            .when(codec == "adpcm_ima", adpcm_bad)
            .when(codec == "pcm_f32le", f32_bad)
            .otherwise(wav_bad)
        )

    def observed_expr(self, cfg) -> Column:
        b, _, _, _ = self._cols(cfg)
        return F.length(b).cast("long")


# ---------------------------------------------------------------------------
# pitch gates (framewise ACF F0 — gx_spark/audio_ops.py compute_pitch_row)
# ---------------------------------------------------------------------------

_PITCH_COL = "__pitch"
_PITCH_PARAM_KEYS = ("fmin", "fmax", "frame_ms", "hop_ms",
                     "voiced_threshold")


def _pitch_params(cfg: ExpectationConfiguration) -> dict:
    k = cfg.kwargs
    return dict(
        fmin=float(k.get("fmin", 60.0)),
        fmax=float(k.get("fmax", 500.0)),
        frame_ms=int(k.get("frame_ms", 40)),
        hop_ms=int(k.get("hop_ms", 20)),
        voiced_threshold=float(k.get("voiced_threshold", 0.5)),
    )


def ensure_pitch_features(
    ctx: MetricContext, cfg: ExpectationConfiguration,
) -> None:
    """Register the shared `__pitch` column (one framewise-ACF decode per
    run; the ensure_audio_flags convention).  The pitch tracker's
    decode-level params must agree across pitch expectations in one suite
    — band thresholds (min/max) are per-expectation and free to differ."""
    from ..audio_ops import compute_pitch_row

    params = _pitch_params(cfg)
    _shared_udf_column(
        ctx, _PITCH_COL, _payload_cols(cfg),
        lambda: _row_udf(
            "voiced_frac double, f0_median_hz double, periodicity_mean double",
            partial(compute_pitch_row, **params)),
        params, "pitch decode params")


@register_expectation("expect_audio_voiced_fraction_to_be_between")
class AudioVoicedFractionBetween(_SharedColumnMap):
    """Unexpected when the fraction of voiced frames (ACF periodicity
    above voiced_threshold) falls outside [min_fraction, max_fraction] —
    the speech-vs-music/noise screen of a speech-corpus gate (a speech
    dataset clip with voiced_frac ~0 is noise, hum, or dead channel; a
    music bed pins near 1 with out-of-band F0).  Rides one shared
    framewise-ACF decode with expect_audio_pitch_to_be_between.
    Undecodable payloads and clips shorter than one frame have a null
    fraction and are excluded (metadata/payload-size concerns)."""

    metric_name = "audio.voiced_fraction"
    shared = staticmethod(ensure_pitch_features)

    def unexpected_condition(self, cfg, ctx) -> Column:
        lo = float(cfg.kwargs.get("min_fraction", 0.0))
        hi = float(cfg.kwargs.get("max_fraction", 1.0))
        v = F.col(_PITCH_COL)["voiced_frac"]
        return v.isNotNull() & ((v < F.lit(lo)) | (v > F.lit(hi)))

    def observed_expr(self, cfg) -> Column:
        return F.round(F.col(_PITCH_COL)["voiced_frac"], 4)


@register_expectation("expect_audio_pitch_to_be_between")
class AudioPitchBetween(_SharedColumnMap):
    """Unexpected when the clip's median F0 over voiced frames falls
    outside [min_hz, max_hz] — the speaker-band gate (adult speech sits
    ~85-255 Hz; a corpus labeled 'adult speech' with 450 Hz medians is
    mislabeled or pitch-shifted).  Clips with NO voiced frames have a
    null median and are excluded here — gate voicing itself with
    expect_audio_voiced_fraction_to_be_between, which shares this
    expectation's single decode."""

    metric_name = "audio.f0_median"
    shared = staticmethod(ensure_pitch_features)

    def unexpected_condition(self, cfg, ctx) -> Column:
        lo = float(cfg.kwargs.get("min_hz", 0.0))
        hi = float(cfg.kwargs.get("max_hz", float("inf")))
        f0 = F.col(_PITCH_COL)["f0_median_hz"]
        return f0.isNotNull() & ((f0 < F.lit(lo)) | (f0 > F.lit(hi)))

    def observed_expr(self, cfg) -> Column:
        return F.round(F.col(_PITCH_COL)["f0_median_hz"], 2)


# ---------------------------------------------------------------------------
# loudness gate (ITU-R BS.1770-4 — gx_spark/audio_ops.py compute_loudness_row)
# ---------------------------------------------------------------------------

_LOUDNESS_COL = "__loudness"


def ensure_loudness_features(
    ctx: MetricContext, cfg: ExpectationConfiguration,
) -> None:
    """Register the shared `__loudness` column (one K-weighted decode per
    run; the ensure_audio_flags convention).  Block/hop sizes must agree
    across loudness expectations in one suite."""
    from ..audio_ops import compute_loudness_row

    k = cfg.kwargs
    params = dict(block_ms=int(k.get("block_ms", 400)),
                  hop_ms=int(k.get("hop_ms", 100)))
    _shared_udf_column(
        ctx, _LOUDNESS_COL, _payload_cols(cfg),
        lambda: _row_udf(
            "lufs_integrated double, lufs_momentary_max double, "
            "gated_block_frac double",
            partial(compute_loudness_row, **params)),
        params, "loudness block params")


@register_expectation("expect_audio_loudness_to_be_between")
class AudioLoudnessBetween(_SharedColumnMap):
    """Unexpected when the clip's integrated programme loudness
    (ITU-R BS.1770-4: K-weighted, absolute -70 LUFS + relative -10 LU
    gated) falls outside [min_lufs, max_lufs] — the level-QA gate of an
    audio corpus (streaming masters target ~-14 LUFS, broadcast -23/-24;
    a 'normalized' corpus with -40 LUFS clips has a gain bug upstream).
    Gating means leading/trailing dead air does NOT drag the reading
    down the way a plain RMS gate would.  Undecodable payloads and
    clips shorter than one gating block have a null loudness and are
    excluded (metadata/payload-size concerns)."""

    metric_name = "audio.lufs_integrated"
    shared = staticmethod(ensure_loudness_features)

    def unexpected_condition(self, cfg, ctx) -> Column:
        lo = float(cfg.kwargs.get("min_lufs", -70.0))
        hi = float(cfg.kwargs.get("max_lufs", 0.0))
        v = F.col(_LOUDNESS_COL)["lufs_integrated"]
        return v.isNotNull() & ((v < F.lit(lo)) | (v > F.lit(hi)))

    def observed_expr(self, cfg) -> Column:
        return F.round(F.col(_LOUDNESS_COL)["lufs_integrated"], 2)


# ---------------------------------------------------------------------------
# channel count (decode-free header arithmetic)
# ---------------------------------------------------------------------------


def _u8(col: Column, pos: int) -> Column:
    """Unsigned byte at 1-based position `pos` of a binary column,
    JVM-side (hex of the one-byte slice, base-16 conv)."""
    return F.conv(F.hex(F.substring(col, pos, 1)), 16, 10).cast("int")


def channel_count_expr(b: Column, codec: Column) -> Column:
    """Channel count from container headers as a pure-JVM expression —
    the Catalyst twin of gx_spark.audio.payload_channels, for the
    canonical layouts every mainstream encoder writes (WAV: fmt as the
    first chunk after RIFF/WAVE; FLAC: STREAMINFO as the first metadata
    block, which the spec mandates; Ogg-Opus: single-segment BOS page,
    always true for a 19-byte OpusHead).  Null when the codec is unknown
    or the header is not canonically parseable.

    Byte offsets (1-based): WAV channels = u16le at 23; FLAC channels =
    bits 1-3 of the STREAMINFO packing byte at 21, plus 1; OpusHead
    channel byte at 38 (27-byte page header + 1 lacing byte + offset 9
    into the head packet)."""
    from ..audio import WAV_FRAMED_CODECS

    wav_magic = (F.hex(F.substring(b, 1, 4)) == F.lit("52494646")) & (
        F.hex(F.substring(b, 9, 8)) == F.lit("57415645666D7420"))
    wav_ch = _u8(b, 23) + _u8(b, 24) * F.lit(256)
    flac_magic = F.hex(F.substring(b, 1, 4)) == F.lit("664C6143")
    flac_ch = (F.shiftright(_u8(b, 21), 1) % 8 + 1).cast("int")
    opus_magic = (
        (F.hex(F.substring(b, 1, 4)) == F.lit("4F676753"))
        & (_u8(b, 27) == 1)
        & (F.hex(F.substring(b, 29, 8)) == F.lit("4F70757348656164"))
    )
    opus_ch = _u8(b, 38)
    return (
        F.when(codec.isin(list(WAV_FRAMED_CODECS)) & wav_magic, wav_ch)
        .when((codec == "flac") & flac_magic, flac_ch)
        .when((codec == "opus") & opus_magic, opus_ch)
    )


@register_expectation("expect_audio_channel_count_to_equal")
class AudioChannelCountEqual(ColumnMapExpectation):
    """The channel-layout gate ("is this corpus actually mono?") —
    unexpected when the container header's channel count differs from
    `n_channels` (default 1), or when a known-codec payload's header is
    not canonically parseable (a malformed header IS what this screen
    exists to catch).  Like expect_audio_payload_size_to_be_consistent
    this is decode-free, pure JVM arithmetic over a few header bytes
    (channel_count_expr), so it rides the stage-1 agg scan with no Arrow
    transfer and no Python worker — the metadata-speed first gate you
    run before paying for the mono decode pipeline (which would merely
    report multi-channel rows as undecodable).  Unknown codecs are
    excluded (codec validity is the metadata check's concern); null
    bytes are MISSING, not unexpected (the audio family's convention)."""

    metric_name = "audio.channel_count"

    def plan(self, ctx, cfg, index):
        cfg.kwargs.setdefault(
            "column", cfg.kwargs.get("bytes_column", "bytes"))
        require_columns(ctx, cfg.kwargs.get("codec_column", "codec"))
        return super().plan(ctx, cfg, index)

    def unexpected_condition(self, cfg, ctx) -> Column:
        from ..audio import WAV_FRAMED_CODECS

        n = int(cfg.kwargs.get("n_channels", 1))
        b = F.col(cfg.kwargs.get("column", "bytes"))
        codec = F.col(cfg.kwargs.get("codec_column", "codec"))
        known = codec.isin(list(WAV_FRAMED_CODECS) + ["flac", "opus"])
        ch = channel_count_expr(b, codec)
        return known & (ch.isNull() | (ch != F.lit(n)))

    def observed_expr(self, cfg) -> Column:
        return channel_count_expr(
            F.col(cfg.kwargs.get("column", "bytes")),
            F.col(cfg.kwargs.get("codec_column", "codec")))


# ---------------------------------------------------------------------------
# electrical defects (DC offset / mains hum — one shared decode column)
# ---------------------------------------------------------------------------

_ELECTRICAL_COL = "__electrical"


def _electrical_params(cfg: ExpectationConfiguration) -> dict:
    k = cfg.kwargs
    return dict(
        mains=tuple(float(m) for m in k.get("mains", (50.0, 60.0))),
        n_harmonics=int(k.get("n_harmonics", 3)),
    )


def ensure_electrical_features(
    ctx: MetricContext, cfg: ExpectationConfiguration,
) -> None:
    """Register the shared `__electrical` column (one DC+hum decode per
    run; the ensure_audio_flags convention).  Probe-level params (mains
    grids, harmonic count) must agree across the suite — thresholds are
    per-expectation."""
    from ..audio_ops import compute_electrical_row

    params = _electrical_params(cfg)
    _shared_udf_column(
        ctx, _ELECTRICAL_COL, _payload_cols(cfg),
        lambda: _row_udf(
            "dc_frac double, hum_ratio double, hum_base_hz double",
            partial(compute_electrical_row, **params)),
        params, "electrical probe params")


@register_expectation("expect_audio_dc_offset_to_be_below")
class AudioDcOffsetBelow(_SharedColumnMap):
    """Unexpected when |mean sample value| / 32768 reaches max_frac
    (default 0.02) — a miswired ADC or missing high-pass leaves a
    constant offset that wastes headroom and biases every energy-based
    measure downstream.  Rides the shared electrical decode
    (compute_electrical_row); undecodable/empty payloads have a null
    offset and are excluded (metadata concerns)."""

    metric_name = "audio.dc_offset"
    shared = staticmethod(ensure_electrical_features)

    def unexpected_condition(self, cfg, ctx) -> Column:
        thr = float(cfg.kwargs.get("max_frac", 0.02))
        v = F.col(_ELECTRICAL_COL)["dc_frac"]
        return v.isNotNull() & (F.abs(v) >= F.lit(thr))

    def observed_expr(self, cfg) -> Column:
        return F.round(F.col(_ELECTRICAL_COL)["dc_frac"], 4)


@register_expectation("expect_audio_hum_ratio_to_be_below")
class AudioHumRatioBelow(_SharedColumnMap):
    """Unexpected when mains-hum power (the 50/60 Hz grids and their
    first harmonics, max over grids) reaches max_ratio (default 0.01)
    of the clip's AC power — ground loops and induced interference in
    the recording chain.  Rides the same shared electrical decode as
    the DC gate: both checks cost ONE decode together.  Undecodable or
    silent clips have a null ratio and are excluded."""

    metric_name = "audio.hum_ratio"
    shared = staticmethod(ensure_electrical_features)

    def unexpected_condition(self, cfg, ctx) -> Column:
        thr = float(cfg.kwargs.get("max_ratio", 0.01))
        v = F.col(_ELECTRICAL_COL)["hum_ratio"]
        return v.isNotNull() & (v >= F.lit(thr))

    def observed_expr(self, cfg) -> Column:
        return F.round(F.col(_ELECTRICAL_COL)["hum_ratio"], 4)


# ---------------------------------------------------------------------------
# impulsive-defect gate (clicks/pops)
# ---------------------------------------------------------------------------

_CLICK_COL = "__clicks"


def ensure_click_features(
    ctx: MetricContext, cfg: ExpectationConfiguration,
) -> None:
    """Register the shared `__clicks` column: per-row isolated-impulse
    count from the declick detector (audio_ops.declick_pcm, detection
    only — nothing is re-encoded here), one decode per run.  The
    detector threshold must agree across the suite."""
    from ..audio_ops import _click_count_row

    thr = float(cfg.kwargs.get("thr_frac", 0.2))
    _shared_udf_column(
        ctx, _CLICK_COL, _payload_cols(cfg),
        lambda: _row_udf("bigint", partial(_click_count_row, thr_frac=thr)),
        thr, "click-detector thr_frac")


@register_expectation("expect_audio_click_count_to_be_below")
class AudioClickCountBelow(_SharedColumnMap):
    """Unexpected when the clip's isolated-impulse count (samples whose
    residual against the robust 5-point running median exceeds
    thr_frac of full scale — vinyl ticks, packet glitches, sensor
    pops) reaches max_clicks (default 1: any click flags the row).
    The restoration companion op is audio_ops.declick_audio; this gate
    is the validation half, one decode per run.  Undecodable payloads
    have a null count and are excluded (metadata concerns)."""

    metric_name = "audio.click_count"
    shared = staticmethod(ensure_click_features)

    def unexpected_condition(self, cfg, ctx) -> Column:
        thr = int(cfg.kwargs.get("max_clicks", 1))
        v = F.col(_CLICK_COL)
        return v.isNotNull() & (v >= F.lit(thr))

    def observed_expr(self, cfg) -> Column:
        return F.col(_CLICK_COL)


@register_expectation("expect_transcript_oov_rate_to_be_below")
class TranscriptOovRateBelow(ColumnMapExpectation):
    """Lexicon-coverage gate: the fraction of a transcript's normalized
    tokens (ops.normalize_text — lower / [a-z0-9'] / collapse) that are
    NOT in the user-supplied `lexicon` list must stay below `max_rate`
    (default 0.5).  Wrong-language rows, OCR garbage, and mojibake all
    surface as high OOV.  A transcript that normalizes to nothing (no
    lexical content at all) is also unexpected — rate undefined means the
    pair cannot be validated against the lexicon.

    Pure JVM higher-order functions (split / filter / array_contains):
    no UDF, no decode, rides the stage-1 agg scan.  The lexicon travels
    as a literal array, so this form suits bounded vocabularies (up to
    ~10^4 words); corpus-derived lexicons at web scale go through
    ops.oov_stats, which broadcasts the vocabulary as a table instead."""

    metric_name = "audio.transcript_oov_rate"

    def plan(self, ctx, cfg, index):
        cfg.kwargs.setdefault(
            "column", cfg.kwargs.get("transcript_column", "transcript"))
        if not cfg.kwargs.get("lexicon"):
            raise ValueError(
                "expect_transcript_oov_rate_to_be_below requires a "
                "non-empty `lexicon` list")
        return super().plan(ctx, cfg, index)

    def _toks(self, cfg) -> Column:
        from ..ops import normalize_text

        col = cfg.kwargs.get("column", "transcript")
        return F.filter(
            F.split(normalize_text(F.col(col)), " "),
            lambda w: w != F.lit(""),
        )

    def _rate(self, cfg) -> Column:
        lex = F.array(*[
            F.lit(str(w).lower()) for w in cfg.kwargs["lexicon"]])
        toks = self._toks(cfg)
        oov = F.size(F.filter(
            toks, lambda w: ~F.array_contains(lex, w)))
        n = F.size(toks)
        return F.when(n > 0, oov.cast("double") / n.cast("double"))

    def unexpected_condition(self, cfg, ctx) -> Column:
        thr = float(cfg.kwargs.get("max_rate", 0.5))
        rate = self._rate(cfg)
        return rate.isNull() | (rate >= F.lit(thr))

    def observed_expr(self, cfg) -> Column:
        return F.round(self._rate(cfg), 4)
