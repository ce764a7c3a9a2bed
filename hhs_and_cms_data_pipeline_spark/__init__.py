"""PySpark-native analytics engine with the capabilities of the
shreyapatchala18/HHS-and-CMS-Data-Pipeline reference (see SURVEY.md).

Architecture: idiomatic Spark DataFrame/SQL — declarative logical plans,
Catalyst optimization, Parquet columnar sources — NOT a translation of the
reference's pandas/psycopg row-at-a-time execution.

Package map
-----------
- ``session``    SparkSession builder (AQE, UTC, arrow)
- ``sources``    parquet/CSV sources with explicit schemas (SURVEY §2.1)
- ``functions``  scalar/aggregate Column helpers (SURVEY §2.8), exact-numeric
                 aggregation used to keep results bit-identical to the oracle
- ``operators``  the query/operator inventory (SURVEY §2) + LLM-pipeline
                 extensions (dedup, similarity, text, multimodal)
- ``streaming``  Structured Streaming surface over the events table (§2.10)
- ``sinks``      the lake tables' one commit protocol: full publish, MERGE,
                 idempotent append, time-travel and snapshot reads
- ``registry``   QuerySpec registry that feeds ``__spark_entry__.py``
"""

__version__ = "0.1.0"
