"""texteller_spark — PySpark-native web-page extraction engine.

Public API: the session factory and the extraction plans. Everything else
(the synthetic and WARC/PDF sources, the curation, dedup and similarity
operators) is imported from its submodule, so a Python worker that
unpickles an extraction UDF loads only the extraction code, and no pandas.
"""

from .plans.pipeline import (
    extract_pages,
    extract_pages_chunked,
    span_table,
)
from .session import build_session, guard_zipimport_invalidation

# every worker that unpickles a texteller UDF imports this package first, so
# its later tasks skip the per-task zip directory re-reads (session.py)
guard_zipimport_invalidation()

__version__ = "0.3.0"

__all__ = [
    "build_session",
    "extract_pages",
    "extract_pages_chunked",
    "span_table",
    "__version__",
]
