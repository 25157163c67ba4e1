"""pydoxtools_spark — a PySpark-native document extraction & analytics
engine with the capabilities of Xyntopia/pydoxtools, rebuilt Spark-first.

Entry points:
  pipeline.extract        documents_in -> extracted spans (the north-star
                          main-content extraction pipeline)
  pipeline.run_resumable  snapshot-committed batch run; read_metrics
  fixtures.gen_corpus     deterministic synthetic interleaved corpus
"""

__version__ = "0.1.0"
