"""Golden parity for the per-clip audio ops (gx_spark/audio_ops.py), the
four decode-backed gate columns (gx_spark/expectations/audio_exp.py) and
the audio suite's flags struct (gx_spark/audio.py make_audio_flags_udf,
plain and with the quality fields).

Every op runs over one seeded table: tools/gen_audio.gen_row clips in
every codec the generator emits (pcm_s16le, flac, pcm_mulaw, pcm_alaw,
opus), the same clips re-encoded as pcm_f32le and adpcm_ima, a silent
clip, an empty clip, a clip carrying DC + mains hum + rail clipping +
clicks, a null payload, a garbage payload and an mp3-labeled row.  Each
op's output is reduced to a digest of its schema (names, order, types,
nullability) and its rows in table order (payload bytes as md5, floats
rounded to 9 places); the digests below were generated before the ops
moved onto the shared decode/encode driver and must not move.

The failure rows (null, garbage, opus, mp3) also check the one error
contract: a payload transform emits null bytes, the ORIGINAL codec and
null in every column it writes; a feature op emits null features; an
exploding op (segment_audio) emits no row for them.  Digest-only entries
skip that check: the flags struct reports a failure row as a validation
finding (decodable=False), cmvn_partials as a zero partial (the merge
identity), and downmix_audio reads only container headers, so it passes
the opus row through.  Decodable rows never take the failure path, so
no decodable input reaches a kernel that raises.

Regenerate (only after an intended output change):
    python tests/test_audio_kernels.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gx_spark import audio_ops as ao  # noqa: E402
from gx_spark.audio import decode_payload, encode_payload  # noqa: E402

SCHEMA = ("idx int, clip_id string, bytes binary, sr_hz int, dur_ms int, "
          "codec string, transcript string, part_id int")
FAILURE_IDX = {3, 5, 12, 13}  # opus, mp3, null payload, garbage payload


def golden_rows() -> list[tuple]:
    from tools.gen_audio import gen_row

    def row(i, r, b=None, codec=None, sr=None, dur=None, cid=None):
        return (i, cid or r["clip_id"],
                bytearray(r["bytes"] if b is None else b),
                r["sr_hz"] if sr is None else sr,
                r["dur_ms"] if dur is None else dur,
                codec or r["codec"], r["transcript"], r["part_id"])

    rows = []
    # gen_row 0/1/20/26/30 are alaw/s16le/mulaw/opus/flac; 157 is an
    # mp3-labeled WAV; 2 and 4 are extra s16le clips at other rates
    for i, g in enumerate((0, 1, 20, 26, 30, 157, 2, 4)):
        rows.append(row(i, gen_row(g, 16)[0]))
    for i, (g, codec) in ((8, (5, "pcm_f32le")), (9, (6, "adpcm_ima"))):
        r = gen_row(g, 16)[0]
        sr, pcm = decode_payload(r["bytes"], r["codec"])
        rows.append(row(i, r, encode_payload(pcm, sr, codec), codec))
    base = gen_row(7, 16)[0]
    sr = 16000
    t = np.arange(sr) / sr
    x = (1.2 * np.sin(2 * np.pi * 440.0 * t) + 0.08
         + 0.15 * np.sin(2 * np.pi * 50.0 * t))
    defect = np.clip(np.rint(x * 32767), -32768, 32767).astype(np.int16)
    for p in (3001, 9001):
        defect[p] = 20000 if defect[p] < 0 else -20000
    rows += [
        row(10, base, encode_payload(np.zeros(0, np.int16), sr, "pcm_s16le"),
            "pcm_s16le", sr, 0, "syn_empty"),
        row(11, base, encode_payload(np.zeros(8000, np.int16), sr, "flac"),
            "flac", sr, 500, "syn_silent"),
        (12, "syn_null", None, sr, 1000, "pcm_s16le", "null", 0),
        row(13, base, b"junk", "pcm_s16le", sr, 1000, "syn_junk"),
        row(14, base, encode_payload(defect, sr, "pcm_s16le"), "pcm_s16le",
            sr, 1000, "syn_defect"),
    ]
    return rows


def _gates(df):
    """The four gate expectations' derived columns, one per gate."""
    from gx_spark.expectations import audio_exp as ax
    from gx_spark.model import EngineOptions, ExpectationConfiguration
    from gx_spark.planner import MetricContext

    ctx = MetricContext(df, EngineOptions())
    for fn in (ax.ensure_pitch_features, ax.ensure_loudness_features,
               ax.ensure_electrical_features, ax.ensure_click_features):
        fn(ctx, ExpectationConfiguration("gate", {}))
    return df.select("idx", *[c.alias(n) for n, c in ctx.derived.items()])


def _audio_flags(quality):
    def op(df):
        from gx_spark.audio import make_audio_flags_udf

        udf = make_audio_flags_udf(quality)
        return df.select("idx", udf("clip_id", "bytes", "sr_hz", "dur_ms",
                                    "codec", "transcript").alias("flags"))
    return op


# name -> (op, kind): "payload" ops keep every input column and rewrite
# bytes/codec; "features" ops drop the payload and add feature columns;
# "segments" ops emit zero or more rows per clip; "digest" ops are pinned
# by their digest alone
OPS = {
    "trim_silence": (lambda d: ao.trim_silence(d), "payload"),
    "normalize_gain": (lambda d: ao.normalize_gain(d), "payload"),
    "speed_perturb": (lambda d: ao.speed_perturb(d, 1.1), "payload"),
    "pad_or_trim": (lambda d: ao.pad_or_trim(d, 1000), "payload"),
    "augment_noise": (lambda d: ao.augment_noise(d, 20.0), "payload"),
    "transcode_flac": (lambda d: ao.transcode_audio(d, "flac"), "payload"),
    "transcode_mulaw": (lambda d: ao.transcode_audio(d, "pcm_mulaw"),
                        "payload"),
    "resample_audio": (lambda d: ao.resample_audio(d, 16000), "payload"),
    "declip_audio": (lambda d: ao.declip_audio(d), "payload"),
    "remove_dc_offset": (lambda d: ao.remove_dc_offset(d), "payload"),
    "remove_hum": (lambda d: ao.remove_hum(d), "payload"),
    "augment_reverb": (lambda d: ao.augment_reverb(d), "payload"),
    "augment_reverb_echo": (lambda d: ao.augment_reverb(d, kind="echo"),
                            "payload"),
    "augment_reverb_off": (lambda d: ao.augment_reverb(d, gain=0.0),
                           "payload"),
    "tempo_stretch": (lambda d: ao.tempo_stretch(d, 1.25), "payload"),
    "declick_audio": (lambda d: ao.declick_audio(d), "payload"),
    "denoise_audio": (lambda d: ao.denoise_audio(d), "payload"),
    "augment_pipeline_noise_speed_window": (
        lambda d: ao.augment_pipeline(d, snr_db=20.0, speed=1.1,
                                      target_ms=1500), "payload"),
    "augment_pipeline_reverb_tempo": (
        lambda d: ao.augment_pipeline(d, reverb_gain=0.4, tempo=0.9),
        "payload"),
    "augment_pipeline_noise_only": (
        lambda d: ao.augment_pipeline(d, snr_db=10.0), "payload"),
    "repair_pipeline": (lambda d: ao.repair_pipeline(d), "payload"),
    "repair_pipeline_denoise": (
        lambda d: ao.repair_pipeline(d, hum=False, denoise=True), "payload"),
    "extract_audio_features": (lambda d: ao.extract_audio_features(d),
                               "features"),
    "extract_audio_features_fp": (
        lambda d: ao.extract_audio_features(d, fingerprint=True), "features"),
    "fingerprint_audio": (lambda d: ao.fingerprint_audio(d, id_col="idx"),
                          "features"),
    "silence_bounds": (lambda d: ao.silence_bounds(d), "features"),
    "segment_stats": (lambda d: ao.segment_stats(d), "features"),
    "validate_and_extract_audio": (
        lambda d: ao.validate_and_extract_audio(d), "features"),
    "mel_features": (lambda d: ao.mel_features(d), "features"),
    "mfcc_features": (lambda d: ao.mfcc_features(d), "features"),
    "spectral_features": (lambda d: ao.spectral_features(d), "features"),
    "pitch_features": (lambda d: ao.pitch_features(d), "features"),
    "loudness_features": (lambda d: ao.loudness_features(d), "features"),
    "channel_stats": (lambda d: ao.channel_stats(d), "features"),
    "electrical_features": (lambda d: ao.electrical_features(d), "features"),
    "qa_features": (lambda d: ao.qa_features(d, keep_cols=["idx"]),
                    "features"),
    "gates": (_gates, "features"),
    "audio_flags": (_audio_flags(None), "digest"),
    "audio_flags_quality": (_audio_flags({}), "digest"),
    "downmix_audio": (lambda d: ao.downmix_audio(d), "digest"),
    "segment_audio": (lambda d: ao.segment_audio(d), "segments"),
    "specaugment": (lambda d: ao.specaugment(d, id_col="idx"), "features"),
    "specaugment_keep": (
        lambda d: ao.specaugment(d, id_col="idx", keep_cols=["codec", "idx"]),
        "features"),
    "cmvn_partials": (lambda d: ao.cmvn_partials(d), "digest"),
}

# feature columns that legitimately carry a value on a failure row: a
# parameter echo, a container-header fact, or a validation flag
ECHOES = {"n_mels", "n_mfcc", "n_channels", "decodable", "header_sr",
          "header_sr_ok", "dur_ok", "transcript_ok"}

GOLDEN = {
    'audio_flags': '8495571c7f62653c67b563d34236873b',
    'audio_flags_quality': '71239a830cf63e572f07a6a3985dd086',
    'augment_noise': '9eb5b9c91ef1e834cd4a0ec97843713f',
    'augment_pipeline_noise_only': '370fd9d322723e9c06d0047a101e1425',
    'augment_pipeline_noise_speed_window': 'b0cddb46bd3774040b08bd06384db583',
    'augment_pipeline_reverb_tempo': '2dc6a672c0adf206d4a9ceb45ddfe815',
    'augment_reverb': '8b021fa0f8d8249dbf033362429ed3bf',
    'augment_reverb_echo': '571fe9b91f1b43849c52439deaffb1e3',
    'augment_reverb_off': 'd24c64547b23fe961f9cab58208a0785',
    'channel_stats': '29916e28c169d4288e32d1c6dad7053d',
    'cmvn_partials': '9062ea3a0109c07712525d9172c05991',
    'declick_audio': '76824eb8628010a55f8039207b9f6a98',
    'declip_audio': 'f2fe19025717f8ff385091024b573c03',
    'denoise_audio': '201e373b3f5656add709744c0032f87e',
    'downmix_audio': 'c5e7a21586a41c23a2e2e15e82ddfc9b',
    'electrical_features': 'a5f666976a2dc4de8a5ebee6e0caa3f1',
    'extract_audio_features': '34604cef42f16c0f803afa5f82d87e30',
    'extract_audio_features_fp': 'b45f4fe119985126627184b19c87c4d6',
    'fingerprint_audio': '871890c888e129f9704c5d0693a08d86',
    'gates': '218dd062bcbe34197e3db98d374aa25b',
    'loudness_features': '4d65d1f27f872444896968ab79a4679a',
    'mel_features': '8fcc6c0338ca4eda1e42b56fd2fdb763',
    'mfcc_features': 'b59c032cd68e50904028dfaf29fe3970',
    'normalize_gain': '7827fd3bbf46d3dd983c3d88e9c5841c',
    'pad_or_trim': '7f088b48c035ee0c733fab26273cdb25',
    'pitch_features': '0aad86ce0b6705c75ea06158288fe4ce',
    'qa_features': 'f3ac2411316ff7e92517413eed95bf3a',
    'remove_dc_offset': '79796c1909573d9d9d716126990112f9',
    'remove_hum': '029a7ce718cab889c2aa00cfd9cd4eaf',
    'repair_pipeline': '546ab57e4e082f7c8c9cf87509483a56',
    'repair_pipeline_denoise': '0a34dcdf42956a3886f2ec4fadb78076',
    'resample_audio': 'af879ed34cd22acd3e47c6b1951b483a',
    'segment_audio': '23284c74cf9133e37e28938bbcba0dd9',
    'segment_stats': '5981e19487802da158d6c57f87b1b26c',
    'silence_bounds': '8c5e91262146d00944257abfec9b2e7a',
    'specaugment': '7c905630caefa72165a3f68426f9df3b',
    'specaugment_keep': '31032141ce43d59f8cf88e4874d4fcb7',
    'spectral_features': '30ed2860cc22ff16278950dfb96586b4',
    'speed_perturb': '7993756c78e2d2cf44b6a417456eff95',
    'tempo_stretch': '0c4d6a3a61a1825a7dbb3cb9eed72c79',
    'transcode_flac': '00cdbed80729d20be17dfbab2004e245',
    'transcode_mulaw': 'd25bf8edeacfb5100563721385358b74',
    'trim_silence': '791739e0f4b6ceb0099aacad7f8a08be',
    'validate_and_extract_audio': '87b1898e16586f0a502bd2c1011415d9',
}


def _null(v) -> bool:
    """None, or a struct (Row) whose every field is None."""
    return v is None or (isinstance(v, tuple) and all(x is None for x in v))


def _norm(v):
    if isinstance(v, (bytes, bytearray)):
        return "md5:" + hashlib.md5(bytes(v)).hexdigest()
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def digest(df, rows) -> str:
    schema = [(f.name, f.dataType.simpleString(), f.nullable)
              for f in df.schema.fields]
    body = json.dumps({"schema": schema, "rows": [_norm(tuple(r))
                                                  for r in rows]})
    return hashlib.md5(body.encode()).hexdigest()


def _run(spark, name):
    op, _kind = OPS[name]
    out = op(spark.createDataFrame(golden_rows(), SCHEMA))
    rows = out.collect()
    if "idx" in out.columns:
        rows.sort(key=lambda r: r["idx"])
    return out, rows


@pytest.mark.parametrize("name", sorted(OPS))
def test_golden_digest_and_error_contract(spark, name):
    out, rows = _run(spark, name)
    assert digest(out, rows) == GOLDEN[name]
    src = {r[0]: r for r in golden_rows()}
    in_names = [c.split(" ")[0] for c in SCHEMA.split(", ")]
    new_cols = [c for c in out.columns if c not in in_names]
    kind = OPS[name][1]
    for pos, r in enumerate(rows):
        d = r.asDict()
        # an op that keeps no idx column emits one row per clip in table
        # order (map-only)
        i = d.get("idx", pos)
        if kind == "payload":
            written = new_cols + [c for c in ("sr_hz", "dur_ms")
                                  if d[c] != src[i][in_names.index(c)]]
            if i in FAILURE_IDX:
                assert d["bytes"] is None, (name, i)
                assert d["codec"] == src[i][in_names.index("codec")], (name, i)
                assert all(d[c] is None for c in written), (name, i, d)
            else:
                assert d["bytes"] is not None, (name, i)
        elif kind == "features" and i in FAILURE_IDX:
            feats = [c for c in new_cols if c not in ECHOES]
            assert all(_null(d[c]) for c in feats), (name, i, d)
        elif kind == "segments":
            assert i not in FAILURE_IDX and d["bytes"] is not None, (name, i)


def test_augment_pipeline_reverb_then_noise_matches_chain_on_silence(spark):
    """A silent clip through reverb then noise: chained, augment_reverb
    re-encodes it as pcm_s16le and augment_noise passes that through
    (SNR vs silence is undefined); the fused pipeline must emit the same
    bytes and codec, not the original flac payload."""
    df = spark.createDataFrame(
        [r for r in golden_rows() if r[0] in (0, 11)], SCHEMA)
    fused = ao.augment_pipeline(df, reverb_gain=0.3, snr_db=15.0)
    chained = ao.augment_noise(ao.augment_reverb(df, gain=0.3), 15.0)
    assert (sorted(fused.collect())
            == sorted(chained.drop("reverb_wet_db").collect()))


def test_null_sr_and_dur_rows_are_unexpected_not_errors(spark):
    """pandas hands a null int column to the flags UDF as NaN: a null
    sr_hz or dur_ms must make that row metadata-unexpected, not fail the
    batch (and with it every audio expectation in the suite), and must
    not null the struct (which would flag a correct transcript)."""
    from gx_spark import EngineOptions, validate
    from gx_spark.suites import audio_suite

    def run(rows):
        b = validate(spark, spark.createDataFrame(rows, SCHEMA),
                     audio_suite(),
                     EngineOptions(unexpected_index_column_names=("idx",)))
        res = {r.expectation_config.expectation_type: r
               for r in b.suite_result.results}
        meta = {int(r["idx"]) for r in b.violations_table().where(
            "expectation_type = 'expect_audio_metadata_to_be_consistent'"
        ).collect()}
        b.unpersist()
        return res, meta

    rows = golden_rows()
    nulled = [r[:3] + (None,) + r[4:] if r[0] == 0 else
              r[:4] + (None,) + r[5:] if r[0] == 1 else r for r in rows]
    base, base_meta = run(rows)
    res, meta = run(nulled)
    raised = [t for t, r in res.items()
              if r.exception_info.get("raised_exception")]
    assert not raised, raised
    assert not {0, 1} & base_meta and meta == base_meta | {0, 1}, meta
    tm = "expect_transcript_to_match_reference"
    assert (res[tm].result["unexpected_count"]
            == base[tm].result["unexpected_count"])


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    for name in sorted(OPS):
        out, rows = _run(spark, name)
        print(f"    {name!r}: {digest(out, rows)!r},")
    spark.stop()
