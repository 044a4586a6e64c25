"""goconnect_spark — a PySpark-native dataflow + analytics engine.

A from-scratch re-expression of the capabilities of amient/goconnect
(a Go stream-connector framework "between Kafka Connect and Beam",
reference at /root/reference) on idiomatic Spark primitives:

- the Element-stream pipeline (Root -> Map/Filter/FlatMap/Fold -> Sink,
  reference pipeline.go:64-81) becomes a fluent declaration layer that
  compiles to a single DataFrame / Structured Streaming query;
- the ack/commit/watermark runtime (reference context.go:462-642) is
  *replaced* by Spark checkpointing, not ported;
- coder injection (reference pipeline.go:168-197) becomes a BFS over
  typed column conversions (`plans.coders.CoderRegistry`);
- the TCP scatter/gather network layer (reference network/) becomes
  shuffle: `repartition` / ordered merge.

Beyond reference parity the engine exposes what Spark gives for free and
a 100 TB-scale LLM-data-pipeline layer: keyed/windowed aggregation,
joins, dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding cosine), similarity search, text analysis, multimodal column
plumbing.
"""

from goconnect_spark.session import get_spark, stop_spark
from goconnect_spark.pipeline import Pipeline

__version__ = "0.1.0"

__all__ = ["get_spark", "stop_spark", "Pipeline", "__version__"]
