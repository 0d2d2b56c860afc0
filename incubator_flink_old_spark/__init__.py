"""incubator_flink_old_spark — a PySpark-native analytics engine.

A brand-new engine providing the query and data-processing capabilities of
the reference system (``warneke/incubator-flink-old`` — the pre-rename
Apache Stratosphere tree, see SURVEY.md), re-expressed Spark-first:

- the PACT operator algebra (map / reduce / match-join / cross / cogroup,
  sources, sinks, union, bulk + delta iterations) as thin DataFrame
  combinators that Catalyst can see through and optimize;
- the reference's canonical workloads (TPC-H Q3/Q10, WordCount,
  ConnectedComponents, KMeans, PageRank, EnumTriangles, WebLogAnalysis);
- engine extensions the reference lacks: windowed/event-time analytics
  (Structured Streaming), and large-scale training-data pipeline ops
  (dedup, similarity search, text analysis, multimodal columns).

Everything here derives from public knowledge only: the Apache Spark /
PySpark API, the public Stratosphere/Flink history, and published papers
(Battré et al. SoCC'10; Ewen et al. PVLDB'12; Alexandrov et al. VLDBJ'14).
"""

__all__ = ["get_spark", "prep_session"]


def __getattr__(name):
    # Lazy (PEP 562): the Python-worker daemon runs as
    # ``python -m incubator_flink_old_spark.pyworker``, which imports this
    # package first and must do so before pyspark is loaded.
    if name in __all__:
        from incubator_flink_old_spark import session

        return getattr(session, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
