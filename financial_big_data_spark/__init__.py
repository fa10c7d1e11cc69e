"""financial_big_data_spark — a PySpark-native analytics engine.

A brand-new engine re-expressing the operator surface of the reference
pipeline (NikoPindao/Financial-Big-Data — a single-node pandas/sklearn/torch
market-regime analytics stack) as idiomatic, scale-out Spark DataFrame / SQL
plans, plus the large-scale training-data-pipeline operators (dedup,
similarity search, text analysis) that a 100 TB corpus
pipeline needs.

Layout
------
- ``session``    : tuned SparkSession builders (AQE, Arrow, UTC, shuffle sizing)
- ``sources``    : schema-hardened readers/writers for the test tables and
                   bar-shaped data; REST-source scaffolding
- ``functions``  : column-expression libraries (window features, scalar utils,
                   pandas-parity statistics, EWM recurrences)
- ``operators``  : composite DataFrame operators (regime labeling,
                   gaps-and-islands transitions, dedup, similarity, text)
- ``plans``      : end-to-end analytics DAGs (the reference's entry points)
- ``ml``         : MLlib-backed clustering / PCA / eval-metric operators
- ``streaming``  : Structured Streaming variants of the batch operators
"""

__version__ = "0.1.0"
