"""Group-by aggregation operators (SURVEY.md §2.4, A1–A13).

Every reference analysis is a hash-aggregate (pandas groupby-sum/mean on the
driver, ref TrafficAnalysis.py:231/:271/:292/:336). Here each is a declarative
``groupBy().agg()`` so Spark executes it as partial+final HashAggregate with
map-side combine — the shuffle moves one row per (partition, group), not per
input row, which is what makes these scale to 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import avg_exact, dec, round6, sum_exact


def totals_by_key(df: DataFrame, key: Column | str, measure: str, key_alias: str) -> DataFrame:
    """A1/A6/A7 (ref TrafficAnalysis.py:231, Dash.py:195/:220): groupBy-sum,
    sorted descending with a deterministic tie-break on the key."""
    key_col = (F.col(key) if isinstance(key, str) else key).alias(key_alias)
    return (
        df.groupBy(key_col)
        .agg(sum_exact(measure, "total"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("total"), F.asc(key_alias))
    )


def multi_agg_by_key(df: DataFrame, key: str, measure: str) -> DataFrame:
    """A3 (ref TrafficAnalysis.py:271): groupby('street').agg(['sum','mean'])."""
    return df.groupBy(key).agg(
        sum_exact(measure, "total"),
        avg_exact(measure, "avg_val"),
        F.count(measure).alias("n"),
    )


def summary_stats(df: DataFrame, measure: str) -> DataFrame:
    """A9/A10 (ref TrafficAnalysis.py:117 describe(), :385/:410 scalar stats).

    count/mean/std/min/quartiles/max in one aggregation pass. ``percentile`` is
    the exact (sort-based) variant to match a single-node oracle; at the 100 TB
    scale the engine swaps in ``percentile_approx`` (t-digest, mergeable, no
    global sort) — same column name, documented accuracy tradeoff.
    """
    c = F.col(measure)
    return df.agg(
        F.count(c).alias("n"),
        avg_exact(measure, "mean_val"),
        round6(F.stddev_samp(c), "std_val"),  # sample stddev = pandas .std()
        F.min(c).alias("min_val"),
        round6(F.percentile(c, F.lit(0.25)), "p25"),
        round6(F.percentile(c, F.lit(0.5)), "p50"),
        round6(F.percentile(c, F.lit(0.75)), "p75"),
        F.max(c).alias("max_val"),
    )


def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """A11 (ref TrafficAnalysis.py:132-143): pairwise Pearson correlations.

    One wide aggregation row — Catalyst fuses all pairs into a single
    HashAggregate pass over the scan; no per-pair rescans.
    """
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(round6(F.corr(a, b), f"corr_{a}_{b}"))
    return df.agg(*aggs)


def distinct_values(df: DataFrame, col: str) -> DataFrame:
    """A12 (ref Dash.py:89): distinct key values (dropdown population)."""
    return df.select(col).distinct()


def histogram(df: DataFrame, measure: str, bins: int = 20) -> DataFrame:
    """A13 (ref proto/TrafficAnalysis_Hist.py:131-135): fixed-count histogram
    over the data range.

    min/max come from one scalar aggregation broadcast back over the scan
    (two passes total — the same shape numpy.histogram uses). The bin edge
    arithmetic is written identically to the oracle so IEEE results match.
    """
    stats = df.agg(
        F.min(measure).alias("lo"), F.max(measure).alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(bins))
    binned = (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            "bin",
            # constant column (hi == lo) → width 0 → NaN bins; put everything
            # in bin 0 instead (numpy.histogram's degenerate-range behavior)
            F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
                F.least(
                    F.floor((F.col(measure) - F.col("lo")) / width).cast("int"),
                    F.lit(bins - 1),
                )
            ),
        )
    )
    return binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n")).orderBy("bin")


def pivot_totals(
    df: DataFrame, key: Column | str, pivot_col: str, pivot_vals: list[str], measure: str, key_alias: str
) -> DataFrame:
    """Wide layout via pivot (the inverse of F20 unpivot): one column per
    category, summed. Pivot values are supplied explicitly so the plan needs no
    extra distinct-scan job."""
    key_col = (F.col(key) if isinstance(key, str) else key).alias(key_alias)
    return (
        df.groupBy(key_col)
        .pivot(pivot_col, pivot_vals)
        .agg(F.sum(dec(measure)))
        .na.fill(0)
    )
