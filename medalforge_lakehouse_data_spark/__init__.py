"""medalforge_lakehouse_data_spark — a from-scratch PySpark-native lakehouse
table-maintenance engine with the query/data-processing capabilities of the
reference repo ViniciusOtoni/medalforge-lakehouse-data (see SURVEY.md).

Layout:
  format/       Iceberg-style table format: metadata, snapshots, manifests,
                per-file column stats, atomic commits, pruning scan planner
  functions/    vectorized numpy/pandas-UDF kernels: image codec, pHash,
                Z-order/Hilbert interleave, text analysis, similarity
  operators/    DataFrame operators: ETL core, quality checks, MERGE INTO,
                dedup family, ANN search, skew-salted joins, multimodal
  maintenance/  compaction, clustering rewrite, transcode, manifest
                rewrite, snapshot expiry + GC, one resumable rewrite unit
  sources/      incremental file ingest (Auto-Loader-style ledger)
  plans/        data contracts (bronze JSON / silver YAML)
  customs/      sandboxed user-plugin transform layer
  pipeline/     bronze ingest + silver quarantine/remediate/merge pipelines
  monitoring/   run/lineage ledger
  testing/      deterministic synthetic image+caption data generator
"""

__version__ = "0.1.0"
