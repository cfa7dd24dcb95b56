"""rle_spark — a PySpark-native per-column lightweight-compression engine.

From-scratch reimplementation of the codec *semantics* of
rainerzufalldererste/hypersonic-rle-kit (multi-width RLE, single-symbol
RLE, MTF pre-transform; see SURVEY.md) plus the lightweight-compression
standards the north rule requires (dictionary, bit-packing,
frame-of-reference, delta, FSST-lite), expressed as vectorized
NumPy kernels driven from Spark DataFrames via Arrow `mapInArrow`.

Layout (SURVEY.md §7.0):
  codecs/    pure NumPy kernels, no Spark imports (unit-testable)
  selector   per-block stats -> cost model -> codec choice
  blocks     block payload container + header pack/unpack
  engine     the encode/decode kernels (mapInArrow), encode plans for
             the clustered and mapside layouts, manifests + resume
  sources    file transport: parquet row-group splits -> kernel -> sink
  streaming  Structured Streaming ingest + block compaction
  analyze    run analytics under an order (range-partitioned
             mapInPandas kernels, one driver-side boundary stitch)
  queries    named queries over the test tables (DuckDB oracles)
  memtune    python worker allocator env + zip-import tuning
  multimodal binary asset columns: decode/feature/resize/frame-sample
  datagen    deterministic token-sequence fixtures (FIXTURES.md T1)
  textops    training-pipeline text ops (dedup, lang-id, quality, minhash)
  similarity brute-force + LSH-bucketed ANN over embeddings
  jobs/      spark-submit entry point (jobs/encode.py)
"""

__version__ = "0.1.0"
