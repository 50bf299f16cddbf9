"""ipl_dagster_pipeline_spark — a from-scratch PySpark-native feature-engineering engine.

Re-expresses the query/data-processing semantics of the reference
``mobidata-bw/ipl-dagster-pipeline`` (a Dagster fetch→convert→validate→publish
pandas pipeline) as an idiomatic Spark DataFrame engine over transcript tables
``(conv_id, turn_idx, role, text, tool, ts)``:

* point-in-time-correct as-of joins (broadcast-dim and sort-merge big-side paths)
* windowed features: lag/lead, rolling (rows + range), backfill/forward-fill
* gap sessionization (window-sum and vectorized grouped-map Arrow paths)
* schema enforcement, dedup-by-key, pivot aggregation, broadcast/anti/semi joins
* explicit partitioning + hot-key salting, per-stage lineage/row-count metrics,
  checkpoint/resume over atomic parquet snapshot commits
* training-data ops: exact/MinHash-LSH/SimHash dedup + winnowing fingerprints,
  duplicate-group resolution (pointer-jumping connected components, loud on
  non-convergence), LSH/IVF ANN similarity search and scale-safe embedding
  near-dup pairs (capped buckets with observable dropped counts), text quality
  analysis and total rule gates, PII redaction, benchmark decontamination,
  deterministic train/val/test hash splits + stratified source-mixture
  sampling, concat-and-chunk sequence packing (distributed prefix sum with
  broadcast partition offsets), multimodal binary-column plumbing
  (decode/resize/frame-sample), survivor-re-keyed corpus curation

Everything is public PySpark API; no code is copied from the reference.
"""

__version__ = "0.1.0"
