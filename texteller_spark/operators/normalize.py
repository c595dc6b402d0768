"""Unicode canonicalization for web-corpus text (the OSCAR/CCNet-style
cleanup pass): NFC composition plus zero-width/BOM scrub, so equal-looking
strings hash equal — a prerequisite for every digest/MinHash dedup stage
(decomposed `e`+U+0301 vs composed U+00E9 would otherwise defeat exact
dedup on visually identical documents).

NFC runs as an Arrow-batched kernel — Spark has no built-in Unicode
normalizer expression, so this is one of the package's few justified
Python stages (same contract as the extraction kernel: a row function
behind ``schema.arrow_row_udf``, Arrow batches in and out). The
zero-width scrub is a plain JVM ``regexp_replace`` that fuses into
whole-stage codegen around the kernel. DuckDB's ``nfc_normalize`` computes
the identical NFC form (verified over combining marks, ligature-carrying
and zero-width-injected fixtures), which is what makes the catalog oracle
value-exact.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import arrow_row_udf

__all__ = ["nfc_udf", "normalize_text", "ZERO_WIDTH_RE"]

#: zero-width space/joiners + BOM — invisible codepoints that survive NFC
#: (they are not combining marks) and poison tokenization and dedup keys
ZERO_WIDTH_RE = "[\u200b\u200c\u200d\ufeff]"


def _nfc(t: str | None) -> str | None:
    return unicodedata.normalize("NFC", t) if t is not None else None


#: Arrow-batched NFC normalizer (null-preserving)
nfc_udf = arrow_row_udf(_nfc, T.StringType())


def normalize_text(col: Column) -> Column:
    """NFC + zero-width scrub: the canonical text every downstream stage
    (token counts, digests, MinHash shingles) should key on. Idempotent."""
    return F.regexp_replace(nfc_udf(col), ZERO_WIDTH_RE, "")
