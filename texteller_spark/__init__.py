"""texteller_spark — PySpark-native web-page extraction engine.

Public API: the flagship extraction plans, the synthetic corpus source, the
session factory, and the training-data operators. Everything here is a
``pyspark.sql`` DataFrame transform (Arrow-batched kernels where Python is
unavoidable; zero per-row Python at the Spark level).
"""

from .operators.dedup import (  # noqa: F401
    decontaminate_ngrams,
    duplicate_clusters,
    exact_duplicate_groups,
    incremental_dedup_decisions,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    remove_duplicate_lines,
    simhash_near_pairs,
)
from .operators.similarity import (  # noqa: F401
    ann_join,
    brute_force_topk,
    lsh_near_dup_pairs,
    lsh_topk,
)
from .operators.graph import (  # noqa: F401
    extract_links,
    link_edges,
    pagerank,
)
from .operators.clustering import (  # noqa: F401
    assign_clusters,
    kmeans_fit,
    seed_centroids,
    semantic_dedup,
)
from .operators.normalize import normalize_text  # noqa: F401
from .operators.packing import (  # noqa: F401
    exclusive_prefix_sum,
    pack_sequences,
)
from .operators.textops import (  # noqa: F401
    curation_columns,
    gopher_flags,
    redact_pii,
)
from .plans.pipeline import (  # noqa: F401
    extract_pages,
    extract_pages_chunked,
    span_table,
)
from .session import build_session, guard_zipimport_invalidation  # noqa: F401
from .sources.warc import read_pages_warc, read_text_wet  # noqa: F401

# every worker that unpickles a texteller UDF imports this package first, so
# its later tasks skip the per-task zip directory re-reads (session.py)
guard_zipimport_invalidation()

__version__ = "0.3.0"

__all__ = [
    "build_session",
    "extract_pages",
    "extract_pages_chunked",
    "span_table",
    "exact_duplicate_groups",
    "minhash_lsh_pairs",
    "simhash_near_pairs",
    "ngram_jaccard_pairs",
    "duplicate_clusters",
    "remove_duplicate_lines",
    "decontaminate_ngrams",
    "incremental_dedup_decisions",
    "curation_columns",
    "gopher_flags",
    "redact_pii",
    "normalize_text",
    "extract_links",
    "link_edges",
    "pagerank",
    "assign_clusters",
    "kmeans_fit",
    "seed_centroids",
    "semantic_dedup",
    "exclusive_prefix_sum",
    "pack_sequences",
    "brute_force_topk",
    "lsh_topk",
    "lsh_near_dup_pairs",
    "ann_join",
    "read_pages_warc",
    "read_text_wet",
    "__version__",
]
