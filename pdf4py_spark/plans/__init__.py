"""Extraction plan assembly (DataFrame-first; the only Python map is
``pipeline.map_rows``, one Arrow-batched ``mapInArrow`` shell)."""

from .pipeline import (  # noqa: F401
    EXTRACT_SCHEMA, extract_pages, extracted_view, lineage_view,
    metrics_rollup, metrics_view, run_resumable,
)
