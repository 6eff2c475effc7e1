"""kiez_spark — a PySpark-native record-linkage / hubness-reduced kNN engine.

A from-scratch reimplementation of the capabilities of dobraczka/kiez
(hubness-reduced k-nearest-neighbor search for entity alignment,
see /root/reference/kiez/kiez.py:19) as idiomatic Spark DataFrame dataflow:

- blocking + candidate generation = similarity joins (exact block cross-join
  tier and LSH-bucketed approximate tier),
- hubness reduction (CSLS, LocalScaling, NICDM, MutualProximity, DisSimLocal)
  = window-function k-NN statistics + broadcast joins + column expressions,
- final top-k = rank windows with deterministic tie-breaks,
- entity clustering = connected components (a driver-side numpy finish while
  the edges fit, large-star/small-star rounds above that),
- hubness analysis + hits@k evaluation = aggregations.

Everything is DataFrame-first: math stays in Spark SQL expressions
(whole-stage codegen) and Arrow-vectorized pandas UDFs; no per-row Python.
"""

from kiez_spark.pipeline import HubnessKnn, PipelineConfig

__all__ = ["HubnessKnn", "PipelineConfig"]
__version__ = "0.1.0"
