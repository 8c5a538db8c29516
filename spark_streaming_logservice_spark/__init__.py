"""logstream — a PySpark-native analytics engine with the query and
data-processing capabilities of ``liketic/spark-streaming-logservice``.

Everything is rebuilt idiomatically on DataFrames / Spark SQL / Structured
Streaming; nothing is ported from the reference's Scala/Java execution code.
See SURVEY.md for the capability map (reference cites use ``SQL/``, ``DS/``
etc. aliases defined there).

Layout:
    session    — tuned SparkSession factory (AQE, Arrow, broadcast thresholds)
    pyworker_daemon — daemon of the Python task workers (prunes archives
                 from their sys.path)
    schema     — log-record data model: default 8-col schema, envelope
                 columns, string→typed converter battery
    offsets    — cursor/offset algebra (JSON format, sentinels, clamping)
    sources/   — the ``logstore`` Python DataSource (batch + micro-batch
                 streaming) over sharded parquet/JSON fixtures
    sinks/     — row→KV flattening writer with save-mode validation and
                 idempotent batchId commits
    operators/ — the relational query contract + LLM-data-pipeline operators
                 (dedup, similarity, text analysis, multimodal)
    streaming/ — watermarked window aggs, stream-stream joins, rate limiting
    compat/    — thin factories mirroring the reference's public API names
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # ``get_spark`` imports pyspark. The Python workers' daemon module
    # (``pyworker_daemon``) imports this package before it prunes
    # ``sys.path``, so pyspark is imported only on first use of the name.
    if name == "get_spark":
        from spark_streaming_logservice_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
