"""Output-schema pins for the media operators in operators/multimodal.py.

The oracle value hash renders int and long alike, so a DDL type slip in
an operator (``int`` where ``long`` was declared) passes every parity
test; an Arrow-typed consumer would still see it. Only the schema is
checked here, so nothing is decoded.
"""

from __future__ import annotations

import pytest

from ssp_spark.operators import multimodal as mm

_GATE = "media_id:bigint,width:int,height:int,"
_AUDIO = "media_id:bigint,n_samples:int,sample_rate:int,"

EXPECTED = {
    "jpeg_roundtrip_stats": (
        lambda df: mm.jpeg_roundtrip_stats(df, "id", "b", bw=4, bh=5),
        _GATE + "pix_sum:bigint,gray_sum:bigint",
    ),
    "jpeg_progressive_roundtrip_stats": (
        lambda df: mm.jpeg_progressive_roundtrip_stats(df, "id", "b", bw=4, bh=5),
        _GATE + "pix_sum:bigint,gray_sum:bigint",
    ),
    "jpeg420_roundtrip_stats": (
        lambda df: mm.jpeg420_roundtrip_stats(df, "id", "b"),
        _GATE + "pix_sum:bigint,pos_sum:bigint",
    ),
    "jpeg12_roundtrip_stats": (
        lambda df: mm.jpeg12_roundtrip_stats(df, "id", "b", bw=4, bh=5),
        _GATE + "gray_sum:bigint,max_px:int",
    ),
    "png_roundtrip_stats": (
        lambda df: mm.png_roundtrip_stats(df, "id", "b", w=4, h=5),
        _GATE + "pix_sum:bigint,r_sum:bigint,g_sum:bigint,b_sum:bigint",
    ),
    "png_palette_roundtrip_stats": (
        lambda df: mm.png_palette_roundtrip_stats(
            df, "id", "b", w=4, h=5, palette=[(i, i, i) for i in range(128)]
        ),
        _GATE + "pix_sum:bigint,r_sum:bigint,g_sum:bigint,b_sum:bigint",
    ),
    "png_gray16_adam7_roundtrip_stats": (
        lambda df: mm.png_gray16_adam7_roundtrip_stats(df, "id", "b", w=4, h=5),
        _GATE + "gray_sum:bigint,pix_sum:bigint,pos_sum:bigint",
    ),
    "gif_roundtrip_stats": (
        lambda df: mm.gif_roundtrip_stats(df, "id", "b"),
        _GATE + "sum_r:bigint,sum_g:bigint,sum_b:bigint,pos_sum_r:bigint",
    ),
    "webp_roundtrip_stats": (
        lambda df: mm.webp_roundtrip_stats(df, "id", "b"),
        _GATE + "sum_r:bigint,sum_g:bigint,sum_b:bigint,pos_sum_r:bigint",
    ),
    "tiff_roundtrip_stats": (
        lambda df: mm.tiff_roundtrip_stats(df, "id", "b"),
        _GATE + "gray_sum:bigint,pos_sum:bigint",
    ),
    "bmp_rle8_roundtrip_stats": (
        lambda df: mm.bmp_rle8_roundtrip_stats(df, "id", "b"),
        _GATE + "sum_r:bigint,sum_g:bigint,sum_b:bigint,pos_sum_r:bigint",
    ),
    "g711_roundtrip_stats": (
        lambda df: mm.g711_roundtrip_stats(df, "id", "b"),
        _AUDIO + "sum_mulaw:bigint,sum_abs_mulaw:bigint,pos_sum_mulaw:bigint,"
        "sum_alaw:bigint,sum_abs_alaw:bigint",
    ),
    "ima_adpcm_roundtrip_stats": (
        lambda df: mm.ima_adpcm_roundtrip_stats(df, "id", "b"),
        _AUDIO + "sum_val:bigint,sum_abs:bigint,last_val:int",
    ),
    "flac_roundtrip_stats": (
        lambda df: mm.flac_roundtrip_stats(df, "id", "b"),
        _AUDIO + "sum_val:bigint,sum_abs:bigint,last_val:int",
    ),
    "gif_anim_stats": (
        lambda df: mm.gif_anim_stats(df, "id", "b"),
        "media_id:bigint,n_frames:int,sum_delay_cs:bigint,wsum:bigint,psum:bigint",
    ),
    "extract_features": (
        lambda df: mm.extract_features(df, "id", "b"),
        "media_id:bigint,n_bytes:bigint,content_md5:string,feature:array<float>",
    ),
    "sample_frames": (
        lambda df: mm.sample_frames(df, "id", "b"),
        "media_id:bigint,frame_idx:int,offset_ms:bigint",
    ),
    "resize_media": (
        lambda df: mm.resize_media(df, "id", "b"),
        "media_id:bigint,out_w:int,out_h:int,n_pixels:int,pix_checksum:bigint,"
        "pixels:binary",
    ),
    "audio_features": (
        lambda df: mm.audio_features(df, "id", "b"),
        "media_id:bigint,sample_rate:int,duration_ms:bigint,rms:bigint,"
        "zcr_ppm:bigint",
    ),
    "sample_ppm_stream_frames": (
        lambda df: mm.sample_ppm_stream_frames(df, "id", "b"),
        "media_id:bigint,frame_idx:int,offset_bytes:bigint,offset_ms:bigint,"
        "width:int,height:int",
    ),
    "y4m_frame_stats": (
        lambda df: mm.y4m_frame_stats(df, "id", "b"),
        "media_id:bigint,n_frames:int,width:int,height:int,fps_num:int,"
        "weighted_y_sum:bigint,last_frame_offset:bigint",
    ),
    "ahash_images": (
        lambda df: mm.ahash_images(df, "id", "b"),
        "media_id:bigint,ahash:bigint,n_pixels:int",
    ),
}


@pytest.fixture(scope="module")
def media_df(spark):
    return spark.createDataFrame([(1, bytes(range(64)))], "id long, b binary")


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_media_operator_output_schema(media_df, name):
    build, fields = EXPECTED[name]
    assert build(media_df).schema.simpleString() == f"struct<{fields}>"


def test_published_schema_constants_match_operators(spark, media_df):
    import pyspark.sql.types as T

    feats = mm.extract_features(media_df, "id", "b").schema
    assert feats.simpleString() == mm.FEATURE_SCHEMA.simpleString()
    ahash = mm.ahash_images(media_df, "id", "b").schema
    assert ahash.simpleString() == T.StructType.fromDDL(mm.AHASH_SCHEMA).simpleString()
