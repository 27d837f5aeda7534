"""sparkfuse — a from-scratch PySpark-native approximate-membership-filter library.

Re-expresses the capabilities of FastFilter/xorfilter (xor8/xor16-class and
binary-fuse filters, plus a Bloom baseline) as mergeable distributed
aggregations over Spark DataFrames: vectorized numpy kernels driven through
``groupBy(...).applyInPandas`` for construction (one shard per task over a
``repartitionById`` Exchange), broadcast + vectorized gather for probes, and
exact-confirm semi-joins for precise membership queries.

Reference behavior is cited per-function as ``/root/reference/<file>:<lines>``.
No code is ported from the reference; the kernels re-derive the published
algorithms (Graf & Lemire, JEA 2020/2022) in numpy.
"""

from sparkfuse.kernels import (
    FuseFilter,
    XorFilter,
    build_fuse,
    build_xor,
    fuse_contains,
    xor_contains,
)
from sparkfuse.params import fuse_parameters, xor_parameters
from sparkfuse.jpeg import decode_jpeg, encode_jpeg
from sparkfuse.jpegll import decode_jpeg_lossless, encode_jpeg_lossless
from sparkfuse.mp4 import (
    decode_mp4_frames,
    encode_mp4_mjpeg,
    parse_mp4_sample_tables,
)
from sparkfuse.png import decode_png, encode_png
from sparkfuse.serialize import (
    load_fuse_bytes,
    save_fuse_bytes,
    load_xor_bytes,
    save_xor_bytes,
)

__all__ = [
    # numpy kernel layer (Spark-free)
    "FuseFilter",
    "XorFilter",
    "build_fuse",
    "build_xor",
    "fuse_contains",
    "xor_contains",
    "fuse_parameters",
    "xor_parameters",
    "load_fuse_bytes",
    "save_fuse_bytes",
    "load_xor_bytes",
    "save_xor_bytes",
    "decode_png",
    "encode_png",
    "decode_jpeg",
    "encode_jpeg",
    "decode_jpeg_lossless",
    "encode_jpeg_lossless",
    "encode_mp4_mjpeg",
    "decode_mp4_frames",
    "parse_mp4_sample_tables",
]
# The distributed layer resolves lazily via __getattr__ (sparkfuse.Forest,
# sparkfuse.build_forest, ...) and is deliberately NOT in __all__ so
# `from sparkfuse import *` stays importable without pyspark.

_SPARK_LAYER = {
    "Forest": ("sparkfuse.forest", "Forest"),
    "build_forest": ("sparkfuse.forest", "build_forest"),
    "build_forest_resumable": ("sparkfuse.forest", "build_forest_resumable"),
    "build_forest_budgeted": ("sparkfuse.forest", "build_forest_budgeted"),
    "build_forest_budgeted_resumable": ("sparkfuse.forest", "build_forest_budgeted_resumable"),
    "plan_budgeted_widths": ("sparkfuse.forest", "plan_budgeted_widths"),
    "write_forest": ("sparkfuse.forest", "write_forest"),
    "approx_contains": ("sparkfuse.probe", "approx_contains"),
    "approx_contains_routed": ("sparkfuse.probe", "approx_contains_routed"),
    "approx_contains_sink": ("sparkfuse.probe", "approx_contains_sink"),
    "approx_contains_routed_sink": ("sparkfuse.probe", "approx_contains_routed_sink"),
    "approx_contains_epoch_sink": ("sparkfuse.probe", "approx_contains_epoch_sink"),
    "exact_member_semi_join": ("sparkfuse.probe", "exact_member_semi_join"),
    "exact_member_routed": ("sparkfuse.probe", "exact_member_routed"),
    "exact_member_forest": ("sparkfuse.probe", "exact_member_forest"),
    "exact_anti_join": ("sparkfuse.probe", "exact_anti_join"),
    "probe_forest": ("sparkfuse.probe", "probe_forest"),
    "curate_documents": ("sparkfuse.pipeline", "curate_documents"),
    "exact_dedup": ("sparkfuse.dedup", "exact_dedup"),
    "cosine_lsh_pairs": ("sparkfuse.similarity", "cosine_lsh_pairs"),
    "connected_components": ("sparkfuse.graph", "connected_components"),
    "contamination_check": ("sparkfuse.decontam", "contamination_check"),
    "get_spark": ("sparkfuse.session", "get_spark"),
    "SketchSpec": ("sparkfuse.sketchsink", "SketchSpec"),
    "build_sketch_states": ("sparkfuse.sketchsink", "build_sketch_states"),
    "build_sketch_states_resumable": ("sparkfuse.sketchsink", "build_sketch_states_resumable"),
    "finish_sketch_states": ("sparkfuse.sketchsink", "finish_sketch_states"),
    "merge_sketch_states": ("sparkfuse.sketchsink", "merge_sketch_states"),
    "sketch_sink_metrics": ("sparkfuse.sketchsink", "sketch_sink_metrics"),
    "stream_sketch_states": ("sparkfuse.sketchsink", "stream_sketch_states"),
    "range_repartition_by_sketch": ("sparkfuse.rangepart", "range_repartition_by_sketch"),
    "heavy_hitters": ("sparkfuse.sketches", "heavy_hitters"),
    "deterministic_sample": ("sparkfuse.sampling", "deterministic_sample"),
    "stratified_sample": ("sparkfuse.sampling", "stratified_sample"),
    "split_by_hash": ("sparkfuse.sampling", "split_by_hash"),
    "weighted_sample": ("sparkfuse.sampling", "weighted_sample"),
    "build_theta": ("sparkfuse.theta", "build_theta"),
    "ThetaSketch": ("sparkfuse.theta", "ThetaSketch"),
    "asof_join": ("sparkfuse.temporal", "asof_join"),
    "sessionize": ("sparkfuse.temporal", "sessionize"),
    "compact_sketch_states": ("sparkfuse.sketchsink", "compact_sketch_states"),
    "curate_transcripts": ("sparkfuse.transcripts", "curate_transcripts"),
    "conversation_validity": ("sparkfuse.transcripts", "conversation_validity"),
    "media_decode_stats": ("sparkfuse.multimodal", "media_decode_stats"),
    "resize_images": ("sparkfuse.multimodal", "resize_images"),
    "resample_audio": ("sparkfuse.multimodal", "resample_audio"),
    "extract_features": ("sparkfuse.multimodal", "extract_features"),
    "compression_stats": ("sparkfuse.textops", "compression_stats"),
    "repetition_stats": ("sparkfuse.repetition", "repetition_stats"),
    "top_gram_counts": ("sparkfuse.repetition", "top_gram_counts"),
    "dup_fraction_gate": ("sparkfuse.repetition", "dup_fraction_gate"),
    "boilerplate_lines": ("sparkfuse.repetition", "boilerplate_lines"),
    "strip_boilerplate_lines": (
        "sparkfuse.repetition",
        "strip_boilerplate_lines",
    ),
    "redact_pii": ("sparkfuse.redact", "redact_pii"),
    "pii_stats": ("sparkfuse.redact", "pii_stats"),
    "learn_bpe": ("sparkfuse.bpe", "learn_bpe"),
    "learn_bpe_distributed": ("sparkfuse.bpe", "learn_bpe_distributed"),
    "apply_bpe": ("sparkfuse.bpe", "apply_bpe"),
    "synth_jpeg_media": ("sparkfuse.multimodal", "synth_jpeg_media"),
    "pack_documents": ("sparkfuse.packing", "pack_documents"),
    "pack_fill_stats": ("sparkfuse.packing", "pack_fill_stats"),
    "extract_frames": ("sparkfuse.video", "extract_frames"),
    "synth_y4m_media": ("sparkfuse.video", "synth_y4m_media"),
    "synth_mp4_media": ("sparkfuse.video", "synth_mp4_media"),
    "encode_y4m": ("sparkfuse.video", "encode_y4m"),
    "decode_y4m": ("sparkfuse.video", "decode_y4m"),
    "mp4_metadata": ("sparkfuse.video", "mp4_metadata"),
    "write_bucketed_keys": ("sparkfuse.bucketing", "write_bucketed_keys"),
    "append_bucketed_keys": ("sparkfuse.bucketing", "append_bucketed_keys"),
    "bucketed_semi_join": ("sparkfuse.bucketing", "bucketed_semi_join"),
    "exact_member_bucketed": ("sparkfuse.bucketing", "exact_member_bucketed"),
}


def __getattr__(name):
    # lazy so `import sparkfuse` works for kernel-only use without pyspark
    if name in _SPARK_LAYER:
        import importlib

        module, attr = _SPARK_LAYER[name]
        return getattr(importlib.import_module(module), attr)
    raise AttributeError(f"module 'sparkfuse' has no attribute {name!r}")
