"""chainalytic_framework_spark — a PySpark-native time-series rollup engine.

A from-scratch reimplementation of the *capabilities* of
yudus-labs/chainalytic-framework (reference at /root/reference) as an
idiomatic-Spark time-series rollup + downsample + retention engine over
Common-Crawl-style web pages:

- tumbling-window continuous aggregates at 1m/1h/1d/30d tiers
  (reference analogue: per-height derived time-series points,
  ``zones/public-icon/warehouse/storage.py:118-141``),
- per-key stateful folds via ``applyInPandas`` (reference analogue:
  Transform.execute fold state,
  ``src/chainalytic/aggregator/transform.py:29-59``),
- LOCF gap-fill, Gorilla XOR + delta-of-delta cold-tier codec,
  retention enforcement, per-partition checkpoint/lineage manifests
  (reference analogue: ``last_block_height`` cursor semantics,
  ``zones/public-icon/warehouse/storage.py:156-186``),
- a query layer mirroring the provider JSON-RPC API shapes
  (``docs/provider_api.adoc``) as plain DataFrame functions,
- large-scale training-data ops: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard), similarity search, text analysis.

Everything is DataFrame/SQL-first: Catalyst owns planning; Python appears
only in vectorized pandas/Arrow UDFs (no per-row Python UDFs anywhere).
"""

__version__ = "0.1.0"
