"""Column-level scalar text functions (SURVEY §2.7/§2.8).

All JVM-side built-ins — no Python in the hot path; these stay inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_newlines_col(col: Column, trim: bool = False) -> Column:
    """C1: \\r\\n | \\r -> \\n, optional trim (StringExtensions.cs:7-66)."""
    out = F.regexp_replace(col, "\r\n|\r", "\n")
    if trim:
        out = unicode_trim(out)
    return out


def unicode_trim(col: Column) -> Column:
    """C# string.Trim() trims all unicode whitespace; Spark trim() only ' '.

    Java regex \\s is ASCII-only by default — (?U) (UNICODE_CHARACTER_CLASS)
    extends it to U+00A0, U+2000-U+200A, U+3000 etc., matching both
    string.Trim() and the Python oracle's .strip().
    """
    return F.regexp_replace(col, r"(?U)^\s+|\s+$", "")


def record_id(doc_id: Column, part_id: Column) -> Column:
    """C9: record id `d={documentId}//p={partId}` (SaveRecordsHandler.cs:32-43)."""
    return F.format_string("d=%s//p=%s", doc_id, part_id)


def normalize_index_name(col: Column, default: str = "default") -> Column:
    """C11: lowercase, [\\s\\\\/._:]+ -> '-' (SimpleVectorDb.cs:196-205)."""
    cleaned = F.regexp_replace(F.lower(F.trim(col)), r"[\s\\/._:]+", "-")
    return F.when(F.length(cleaned) == 0, F.lit(default)).otherwise(cleaned)


def token_count_4char(col: Column) -> Column:
    """C4 test tokenizer: ceil(len/4) (FourCharsTestTokenizer.cs:9-31)."""
    return F.ceil(F.length(col) / F.lit(4.0)).cast("int")


def token_count_words(col: Column) -> Column:
    """Word-level token count: words + punctuation + whitespace runs."""
    return F.size(F.regexp_extract_all(col, F.lit(r"\w+|[^\w\s]|\s+"), 0))


def doc_fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of lowercased text with non-word chars removed."""
    return F.md5(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", ""))
