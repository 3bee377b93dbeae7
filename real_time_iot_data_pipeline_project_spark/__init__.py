"""PySpark-native analytics engine with the query & data-processing
capabilities of mohamed1-abdeldayem/Real-time-IoT-Data-Pipeline-Project.

Brand-new Spark-first design (DataFrame / SQL / Catalyst / Structured
Streaming) — NOT a port of the reference's pandas/Streamlit code. See
SURVEY.md for the operator inventory this package implements.

Layout
------
- ``session``    — SparkSession factory tuned for local[32] dev and
                   cluster-scale defaults (AQE, shuffle partitions).
- ``schemas``    — explicit StructTypes for the solar/wind telemetry
                   streams (reference: Azure Databricks notebook schemas).
- ``stations``   — static station registry dimensions (broadcast joins).
- ``functions``  — pure Column-expression libraries: physics formulas,
                   timestamp normalization, text metrics.
- ``operators``  — reusable DataFrame→DataFrame transforms: cleaning,
                   feature engineering, analytics aggregates, window ops,
                   dedup (exact + MinHash/SimHash LSH),
                   text analysis, multimodal plumbing, schema drift mapper.
- ``sources``    — batch/stream readers & writers, deterministic synthetic
                   telemetry generator (replaces the reference's
                   OpenWeatherMap + Kafka producers).
- ``streaming``  — Structured Streaming jobs: validate→clean→dedup→derive
                   →parquet+checkpoint, watermarked dedup, EWMA stateful
                   smoothing, threshold alerting.
- ``warehouse``  — star-schema build (facts + dims, surrogate keys).
"""

__version__ = "0.1.0"
