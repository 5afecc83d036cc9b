"""Scalar normalization functions (SURVEY §2.8 F1–F8, F13).

All JVM-side column expressions — no Python UDFs — so they stay inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_colname(col: Column | str) -> Column:
    """Column-name standardization (F2, ``InstanceDataHandler.py:96-102``):
    lowercase, strip spaces/parens/dashes to underscores, collapse repeats."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, "[ ()-]+", "_")  # dash last: literal in Java regex and RE2
    c = F.regexp_replace(c, r"_+", "_")
    return F.regexp_replace(c, r"^_|_$", "")


def truncate_values(col: Column | str, max_len: int = 100) -> Column:
    """Value truncation at ``max_len`` chars + ellipsis (F6,
    ``Schema Mapping/DatabaseUtils/PromptBuilder.py:18,103-104``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) > max_len, F.concat(F.substring(c, 1, max_len), F.lit("..."))
    ).otherwise(c)


def option_letter(idx: Column | str) -> Column:
    """MCQ option letter ``chr(65+i)`` (F13, ``PromptReprTemplate.py:493-496``).
    ``idx`` is 0-based."""
    c = F.col(idx) if isinstance(idx, str) else idx
    return F.char(c + F.lit(65))


