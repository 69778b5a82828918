"""PySpark-native analytics engine with the query and data-processing
capabilities of elliottchang/wnba_data_pipeline (see SURVEY.md).

Brand-new Spark-first design: declarative DataFrame/SQL plans optimized by
Catalyst, not a translation of the reference's Airflow/pandas/DuckDB stack.

Layout
------
- ``session``    SparkSession factory (AQE on, tuned for local[32] testing,
                 scale-ready confs documented per setting).
- ``worker_daemon`` the Python worker daemon ``session`` sets: zip archives
                 on the workers' path are re-read only when they change,
                 and pyspark imports from the installed package.
- ``sources``    table loaders for the driver's parquet star schema, bounded
                 driver collects, the REST fan-out ingest adapter, the
                 overwrite/upsert sinks and clustered/Z-order layout writes.
- ``functions``  reusable Column-level expression library (avg_rank,
                 rolling means, cross-engine deterministic hashing,
                 text/vector expressions).
- ``operators``  query builders: relational (SURVEY §2 A-H), quality suite,
                 dedup, similarity search, text analysis + corpus curation,
                 multimodal (binary payload) processing, ML.
- ``plans``      reference-domain layer jobs (raw → analytics →
                 ml_features → dashboard) over canonical schemas, the
                 curation funnel, the bucketed catalog layout and catalog
                 registration.
"""

__version__ = "0.1.0"
