"""Multimodal (image/audio/video) column plumbing for training-data
pipelines (north star).

Media rides as an opaque ``binary`` payload column plus a typed metadata
struct — the lakehouse-standard layout (one row per asset, bytes inline for
small assets, URI + bytes=null for large ones). Everything Spark-side is
real and tested: schema, partitioning, Arrow batch shape, metadata
derivation, and every per-asset op runs through one ``ops.map_rows`` pass.
The codecs are real and dependency-free (numpy/stdlib): BMP, PNG and
baseline JPEG decode, WAV decode, Y4M video decode, exact fixed-point
image resize and audio resample. The one stub is ``extract_features``'
fallback for a payload no codec recognizes (PIL is not in this
container): a deterministic hash-derived fake, so the pipeline stays
end-to-end runnable and its outputs stable for tests and oracles.
"""
