"""Lenient type coercion (SURVEY.md §2.8, F10–F11).

The reference trusts no ingested types: every numeric column passes through
``pd.to_numeric(errors='coerce')`` (TrafficAnalysis.py:104-107) and dates
through ``pd.to_datetime(errors='coerce')`` (:289). The Spark-native
equivalents are ``try_cast`` / ``try_to_timestamp`` — NULL on bad input, and
safe under ANSI mode (a plain ``cast`` would raise).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_number(c: Column, dtype: str = "double") -> Column:
    """F10: lenient numeric cast — NULL for malformed values."""
    return c.try_cast(dtype)


def to_timestamp_lenient(c: Column) -> Column:
    """F11: lenient timestamp parse — NULL for malformed values."""
    return F.try_to_timestamp(c)
