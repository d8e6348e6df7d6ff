"""pdf4py_spark — a PySpark-native web-scale document-extraction engine.

Re-expresses the capabilities of the reference library ``dipietrantonio/pdf4py``
(byte-level PDF lexing, xref resolution, stream filters, RC4/AES decryption)
as a vectorized Arrow-batched extraction kernel driven by Spark DataFrame
operators, plus the dataset-plane operators (dispatch, skew-aware shuffle,
metrics, lineage, checkpoint/resume) a 10^12-document corpus needs.

Layout:
    kernel/     pure-Python per-document parsing kernels (no Spark imports)
    functions/  Catalyst column-expression helpers (dispatch, salting, ...)
    plans/      the extraction pipeline and map_rows, the one Python
                map (MapInArrow)
    operators/  dataset-plane analytics (dedup, similarity, text stats)
    sources/    fixture/corpus builders and storage (parquet/manifest)
    streaming/  foreachBatch adapter for the stateless extraction kernel
"""

__version__ = "0.1.0"
