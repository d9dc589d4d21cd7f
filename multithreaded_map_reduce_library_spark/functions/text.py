"""Text primitives: tokenization and shingling.

The JVM side is :func:`tokens` and :func:`char_shingles`; the Python side is
one tokenizer (:func:`split_tokens`) and one word-shingle hasher
(:func:`shingle_h32`) behind every dedup sketch kernel.

Tokenization mirrors the reference mapper's ``strsep(line, " \\t\\n\\r")``
(distwc.c:15-18). Quirk Q1 (SURVEY.md §2): strsep yields empty tokens for
consecutive delimiters; the engine filters them by default (the reference
fixtures contain none), with ``keep_empty=True`` available for byte parity
on pathological inputs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd  # module-level so pandas-UDF type hints resolve

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.utils import get_lit_sql_str

#: The reference's delimiter set, as a regex character class (distwc.c:16).
DELIMS_RE = "[ \t\r\n]"


def tokens(col: Column | str, pattern: str = DELIMS_RE, keep_empty: bool = False) -> Column:
    """Split text into a token array (reference O2, distwc.c:15-18).

    The package's one JVM tokenizer. Empty pieces go with ``array_remove``,
    which whole-stage codegen compiles; a ``filter`` lambda would run
    interpreted on every token. ``split`` never yields a null element, so
    the two give the same arrays."""
    c = F.col(col) if isinstance(col, str) else col
    arr = F.split(c, pattern)
    return arr if keep_empty else F.array_remove(arr, "")


def tokens_sql(col: str, pattern: str = DELIMS_RE) -> str:
    """:func:`tokens` as SQL text over the SQL expression ``col``, for plans
    written as one ``spark.sql`` statement: the same ``split`` and
    ``array_remove``, so the same arrays."""
    return f"array_remove(split({col}, {get_lit_sql_str(pattern)}), '')"


def split_tokens(text: str | None) -> list[str]:
    """The package's one Python tokenizer: the Python twin of :func:`tokens`
    (split on :data:`DELIMS_RE`, drop empty pieces) that every sketch kernel
    calls. A null text has no tokens, like an empty or whitespace-only one.
    """
    if not text:
        return []
    return [t for t in text.replace("\t", " ").replace("\r", " ").replace("\n", " ").split(" ") if t]


def shingle_h32(text: str | None, n: int) -> np.ndarray:
    """32-bit hashes of the word n-gram shingles of ``text``, in order:
    element j is ``int(md5(shingle_j)[:8], 16)``, shingle_j being tokens
    j..j+n-1 of :func:`split_tokens` joined by one space.

    This is the shingle decision every dedup sketch and DuckDB oracle
    shares (``plans/pipeline.py::_duck_shingles`` / ``_duck_h32``): a text
    with 1..n-1 tokens is one shingle, the whole token list; a text with no
    tokens (empty, whitespace-only or null) has no hash — the oracles give
    it a single NULL shingle, which yields no signature and no index row.
    """
    toks = split_tokens(text)
    if len(toks) < n:
        grams = [" ".join(toks)] if toks else []
    else:
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    return np.fromiter(
        (int.from_bytes(hashlib.md5(g.encode("utf-8")).digest()[:4], "big") for g in grams),
        dtype=np.int64,
        count=len(grams),
    )


def shingle_hash32_pandas_udf(n: int = 3):
    """Arrow-batched :func:`shingle_h32` as an ``array<bigint>`` column —
    the (doc, shingle) index the exact-Jaccard and coverage queries explode."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def hashes(texts: pd.Series) -> pd.Series:
        return pd.Series([shingle_h32(text, n) for text in texts])

    return hashes


def char_shingles(col: Column | str, n: int = 5) -> Column:
    """Array of character n-grams (for fingerprinting / rolling-hash style
    sketches). Documents shorter than n yield the whole text."""
    c = F.col(col) if isinstance(col, str) else col
    starts = F.sequence(F.lit(1), F.greatest(F.length(c) - n + 1, F.lit(1)))
    return F.transform(starts, lambda i: F.substring(c, i, n))
