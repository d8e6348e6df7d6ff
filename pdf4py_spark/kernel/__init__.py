"""Pure-Python per-document extraction kernels.

Everything in this package is Spark-free and operates on ``bytes`` /
``memoryview`` payloads so it can run batched inside the Arrow
``map_rows`` shell (``plans.pipeline``, ``mapInArrow``: one Python call
per Arrow batch, zero per-row dispatch from the JVM).

Behavioral contract: byte-identical results versus the reference
implementation at /root/reference (dipietrantonio/pdf4py), including its
quirks; see each module's docstring for the file:line parity citations.
"""

from .extract import extract_document, ExtractionResult  # noqa: F401
