"""Set operations (SURVEY.md §2.7).

The reference's only set op is pandas concat (unionByName here, exercised
inside the as-of join's union+window core, operators/asof.py:70); the engine
ships Spark's full relational set algebra because cohort-style questions
("users who did A and B", "did A but never B") are set expressions.

Scale shapes: ``union_distinct`` is a bag concat plus one distinct;
``intersect_distinct`` / ``except_distinct`` compile to semi/anti joins
after per-side distincts — shuffles are on the (pruned) key projection
only, so they cost what a distinct costs, never a full-row comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """SQL UNION: bag concat then one distinct shuffle."""
    return a.unionByName(b).distinct()


def intersect_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """SQL INTERSECT — planned as a left-semi join of the distincts."""
    return a.intersect(b)


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """SQL EXCEPT — planned as a left-anti join of the distincts."""
    return a.subtract(b)


def intersect_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """SQL INTERSECT ALL — multiset semantics: a row appears min(n_a, n_b)
    times. Spark plans it as per-side counts + a generate, so the shuffle
    still moves (row, count) pairs, never row multiplicity expanded."""
    return a.intersectAll(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """SQL EXCEPT ALL — multiset difference: max(n_a - n_b, 0) copies
    survive. The bag form dedup ledgers need (how many EXTRA copies does
    side A hold), which the distinct form destroys."""
    return a.exceptAll(b)
