"""core_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of core-coin/core-etl (reference surveyed in
SURVEY.md), rebuilt Spark-first.

The engine is Spark SQL / DataFrame over partitioned Parquet:

- ``schemas``      — StructType row schemas (reference crates/types/src/*.rs)
- ``session``      — tuned SparkSession factory
- ``io``           — table loading / registration over the parquet lake
- ``functions``    — scalar/hex/text/hash column-expression libraries
- ``operators``    — decode, views, verify, maintenance, dedup, similarity
- ``sources``      — batch + streaming ingestion (RPC-dump JSON, parquet)
- ``streaming``    — structured-streaming tail, windows, stateful ops
- ``plans``        — the query registry (Spark builder + DuckDB oracle pairs)
"""

__version__ = "0.1.0"

