"""Vectorized UDFs and column-expression builders.

Everything Python-side is a vectorized UDF over Arrow batches — no per-row Python
(BASELINE.json ``input_hint``). Pure-Python routines are kept separate from
their UDF wrappers so tests and the DuckDB oracle can call the identical code
single-node (the byte-identity contract).
"""

from .extract import extract_text, extract_text_udf
from .urls import canonicalize_url, canonicalize_url_udf, host_of

__all__ = [
    "extract_text",
    "extract_text_udf",
    "canonicalize_url",
    "canonicalize_url_udf",
    "host_of",
]
