"""Image payload expectations (multimodal extension alongside the audio
layer; same execution design as expectations/audio_exp.py).

Both image expectations share ONE derived `__image` struct column and the
video expectation reads `__video`; each is built once per run by one row
UDF (gx_spark/row_udf.py) and registered by base._shared_udf_column.  All
are `count_via_violations`: unexpected counts come from the fused
violations pass, so decode (and the binary column's Arrow transfer to
Python) happens exactly once per run, map-side, and the stage-1 agg never
reads the bytes.  A struct the driver nulled (its flags row raised) is
unexpected: a row that cannot be checked fails."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..image import VIDEO_FORMATS, make_image_flags_udf, make_video_flags_udf
from ..model import ExpectationConfiguration
from ..planner import MetricContext
from ..registry import register_expectation
from .base import _SharedColumnMap, _shared_udf_column

_IMAGE_COL = "__image"


def ensure_image_flags(ctx: MetricContext, cfg: ExpectationConfiguration) -> None:
    k = cfg.kwargs
    cols = (
        k.get("bytes_column", "bytes"),
        k.get("width_column", "width"),
        k.get("height_column", "height"),
        k.get("channels_column", "channels"),
        k.get("format_column", "format"),
    )
    _shared_udf_column(ctx, _IMAGE_COL, cols, make_image_flags_udf)


@register_expectation("expect_image_metadata_to_be_consistent")
class ImageMetadataConsistent(_SharedColumnMap):
    """Unexpected when the payload fails to decode or its decoded dimensions
    disagree with the (width, height, channels) metadata columns."""

    metric_name = "image.metadata_consistent"
    shared = staticmethod(ensure_image_flags)

    def unexpected_condition(self, cfg, ctx) -> Column:
        a = F.col(_IMAGE_COL)
        # decodable NULL = valid-but-unsupported coding process (e.g.
        # progressive JPEG behind the in-sandbox baseline decoder) whose
        # container passed the structural scan: the DECODE check is
        # excluded — a valid stream must not be called corrupt just
        # because we cannot decode its pixels — but header dims, when the
        # scan recovered them, still verify the metadata columns.  Rows
        # with decodable NULL and no header info could not be checked at
        # all (the driver nulled the struct because the flags row raised;
        # no in-sandbox format leaves a stub without a header scan): they
        # fail closed.
        ok = (F.coalesce(a["decodable"], F.lit(True))
              & F.coalesce(a["dims_ok"], F.lit(True)))
        unchecked = a["decodable"].isNull() & a["dims_ok"].isNull()
        return unchecked | ~F.coalesce(ok, F.lit(False))

    def observed_expr(self, cfg) -> Column:
        a = F.col(_IMAGE_COL)
        return F.concat_ws(
            "x",
            F.coalesce(a["header_w"].cast("string"), F.lit("?")),
            F.coalesce(a["header_h"].cast("string"), F.lit("?")),
        )


@register_expectation("expect_image_mean_intensity_to_be_between")
class ImageMeanIntensity(_SharedColumnMap):
    """Unexpected when the decoded mean channel intensity falls outside
    [min_value, max_value] (undecodable payloads are not counted here —
    pair with expect_image_metadata_to_be_consistent)."""

    metric_name = "image.mean_intensity"
    shared = staticmethod(ensure_image_flags)

    def unexpected_condition(self, cfg, ctx) -> Column:
        a = F.col(_IMAGE_COL)
        mean = (a["mean_r"] + a["mean_g"] + a["mean_b"]) / 3.0
        lo = cfg.kwargs.get("min_value")
        hi = cfg.kwargs.get("max_value")
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (mean < float(lo))
        if hi is not None:
            cond = cond | (mean > float(hi))
        return F.coalesce(a["decodable"], F.lit(False)) & cond

    def observed_expr(self, cfg) -> Column:
        a = F.col(_IMAGE_COL)
        return ((a["mean_r"] + a["mean_g"] + a["mean_b"]) / 3.0).cast("string")


_VIDEO_COL = "__video"


def ensure_video_flags(ctx: MetricContext, cfg: ExpectationConfiguration) -> None:
    k = cfg.kwargs
    cols = (
        k.get("bytes_column", "bytes"),
        k.get("n_frames_column", "n_frames"),
        k.get("fps_column", "fps"),
        k.get("width_column", "width"),
        k.get("height_column", "height"),
        k.get("format_column", "format"),
    )
    _shared_udf_column(ctx, _VIDEO_COL, cols, make_video_flags_udf)


@register_expectation("expect_video_metadata_to_be_consistent")
class VideoMetadataConsistent(_SharedColumnMap):
    """Unexpected when the video payload's CONTAINER contradicts its
    metadata columns: MP4 rows get a real ISO-BMFF demux (box structure,
    mvhd duration vs n_frames/fps, tkhd dims vs width/height —
    gx_spark/isobmff.py); bare 'h264' rows get real Annex-B bitstream
    validation (gx_spark/h264.py: exp-Golomb SPS dims, VUI frame rate,
    VCL frame count — only the slice macroblock data stays un-decoded);
    gxraw_frames rows get exact frame-count and header-dimension checks.
    Unknown formats are excluded from the check, not blindly passed."""

    metric_name = "video.metadata_consistent"
    shared = staticmethod(ensure_video_flags)

    def unexpected_condition(self, cfg, ctx) -> Column:
        a = F.col(_VIDEO_COL)
        ok = (a["decodable"] & F.coalesce(a["dur_ok"], F.lit(True))
              & F.coalesce(a["dims_ok"], F.lit(True)))
        # decodable NULL is an unknown format (excluded) or, for a format
        # the flags verify, a struct the driver nulled because the flags
        # row raised: that fails closed
        fmt = F.col(cfg.kwargs.get("format_column", "format"))
        unchecked = a["decodable"].isNull() & fmt.isin(*VIDEO_FORMATS)
        return unchecked | (a["decodable"].isNotNull()
                            & ~F.coalesce(ok, F.lit(False)))

    def observed_expr(self, cfg) -> Column:
        a = F.col(_VIDEO_COL)
        return F.concat_ws(
            "/",
            F.coalesce(a["container_w"].cast("string"), F.lit("?")),
            F.coalesce(a["container_h"].cast("string"), F.lit("?")),
            F.coalesce(a["container_dur_ms"].cast("string"), F.lit("?")),
        )
