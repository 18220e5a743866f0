from mission_data_pipeline_spark.functions.decode import Payloads, tai_time
from mission_data_pipeline_spark.functions.calibrate import (
    polynomial_expr,
    piecewise_linear_expr,
)
from mission_data_pipeline_spark.functions.multimodal import (
    audio_sample_stats,
    decode_png_pixels,
    decode_wav_samples,
    encode_png,
    encode_wav,
    extract_audio_meta,
    extract_features,
    extract_image_meta,
    extract_video_meta,
    image_pixel_stats,
    media_stats,
    probe_audio_meta,
    probe_image_meta,
    probe_video_meta,
    sample_frames,
)
from mission_data_pipeline_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)

__all__ = [
    "audio_sample_stats",
    "decode_png_pixels",
    "decode_wav_samples",
    "encode_png",
    "encode_wav",
    "extract_audio_meta",
    "extract_features",
    "extract_image_meta",
    "extract_video_meta",
    "image_pixel_stats",
    "media_stats",
    "probe_audio_meta",
    "probe_image_meta",
    "probe_video_meta",
    "sample_frames",
    "Payloads",
    "tai_time",
    "polynomial_expr",
    "piecewise_linear_expr",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
]
