"""bytewax_spark — a PySpark-native dataflow/analytics engine.

A brand-new engine with the query and data-processing capabilities of
bytewax/bytewax (reference surveyed in SURVEY.md), re-expressed
Spark-first: streams are Spark DataFrames, operator composition builds
DataFrame lineage (the unresolved logical plan), and Catalyst/Tungsten
+ Structured Streaming pick the physical strategy.

Public surface mirrors the reference's module layout
(``pysrc/bytewax/dataflow.py``, ``operators/__init__.py``,
``operators/windowing.py``, ``connectors/*``) without copying any code:

- :mod:`bytewax_spark.dataflow` — ``Dataflow``, ``Stream``,
  ``KeyedStream`` graph handles.
- :mod:`bytewax_spark.operators` — the stateless + keyed-stateful
  operator inventory (``map``, ``filter``, ``join``, ``*_final`` ...).
- :mod:`bytewax_spark.operators.windowing` — clocks, windowers and
  windowed folds.
- :mod:`bytewax_spark.sources` / :mod:`bytewax_spark.sinks` —
  partitioned sources/sinks (parquet, csv, files, memory, kafka).
- :mod:`bytewax_spark.streaming` — the Structured Streaming execution
  path (one keyed-stateful driver, ``stateful_batch``, on
  ``applyInPandasWithState``).
- :mod:`bytewax_spark.functions` — beyond-reference analytics: dedup
  (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
  similarity search, text analysis, multimodal column plumbing.
"""

from bytewax_spark.dataflow import Dataflow, KeyedStream, Stream

__version__ = "0.1.0"

__all__ = ["Dataflow", "Stream", "KeyedStream", "__version__"]
