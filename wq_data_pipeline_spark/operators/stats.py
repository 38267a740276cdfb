"""Statistical operators (SURVEY.md §2.3 A4-A9, §2.2 P9).

Everything is groupBy/window algebra; the only driver-side math is the
chi-square score over 10 collected histogram bins (A4), which is
O(bins), not O(rows).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from wq_data_pipeline_spark.functions.scalars import frac_part, season_expr
from wq_data_pipeline_spark.operators.windows import SERIES_KEYS, join_on_keys, ordered, with_diff


def seasonal_stats(
    df: DataFrame,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    value: str = "value",
    step_seconds: float = 900.0,
) -> DataFrame:
    """Per-season coverage/nan summary (A7; reference seasonal_stats,
    scripts/ufz_water_qc_pipeline.py:277-290).

    coverage_pct follows the reference's INTEGER expected-point count
    (expected_points_per_season, :265-275): dur = season span + one
    step, expected = max(1, round(dur/step)) = max(1, round(span/step
    + 1)), then 100·non-null/expected. The continuous span/step + 1
    form (pre-r4) diverges from the reference whenever the cadence is
    irregular — round() changes the denominator. Rounding of exact .5
    halves differs (Python banker's vs SQL half-up); measure-zero at
    µs timestamp resolution. nan_pct = null share of observed rows.
    The QC pipeline's seasonal table comes from the same arithmetic in
    ``series_qc.seasonal_summary``.
    """
    keys = list(keys)
    season = season_expr(ts).alias("season")
    return (
        df.groupBy(*keys, season)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(value).alias("n_obs"),
            F.min(ts).alias("_min_ts"),
            F.max(ts).alias("_max_ts"),
        )
        .withColumn(
            "expected_points",
            F.greatest(
                F.lit(1).cast("long"),
                F.round(
                    (F.unix_micros("_max_ts") - F.unix_micros("_min_ts"))
                    / F.lit(step_seconds * 1e6)
                    + F.lit(1.0)
                ).cast("long"),
            ),
        )
        .select(
            *keys,
            "season",
            "n_rows",
            F.round(F.col("n_obs") / F.col("expected_points") * 100.0, 4).alias(
                "coverage_pct"
            ),
            F.round(
                (F.col("n_rows") - F.col("n_obs")) / F.col("n_rows") * 100.0, 4
            ).alias("nan_pct"),
        )
    )


def decimal_histogram(
    df: DataFrame,
    keys: Sequence[str] = SERIES_KEYS,
    value: str = "value",
    nbins: int = 10,
) -> DataFrame:
    """10-bin histogram of fractional parts (A4; reference
    decimal_uniformity, scripts/ufz_water_qc_pipeline.py:239-248).
    The chi-square against uniform runs driver-side on the collected
    bins via :func:`chi_square_uniform`.

    Binning replicates np.histogram over np.linspace(0,1,nbins+1)
    EDGES rather than floor(frac·nbins): linspace edges carry 1-ulp
    artifacts (0.6000000000000001, ...) so a fraction of exactly 0.6
    lands in bin 5 under the reference but bin 6 under the floor form
    — pinned by test_decimal_stats_match_reference.
    """
    keys = list(keys)
    edges = [i / nbins * 1.0 for i in range(nbins + 1)]
    try:  # reference-exact edges when numpy is present (always in tests)
        import numpy as np

        edges = [float(e) for e in np.linspace(0.0, 1.0, nbins + 1)]
    except ImportError:
        pass
    f = frac_part(value)
    binc = F.lit(nbins - 1)
    for i in range(nbins - 1, 0, -1):
        binc = F.when(f < F.lit(edges[i]), F.lit(i - 1)).otherwise(binc)
    return (
        df.filter(F.col(value).isNotNull())
        .groupBy(*keys, binc.cast("int").alias("bin"))
        .agg(F.count(F.lit(1)).alias("bin_count"))
    )


def chi_square_uniform(bin_counts: list[int]) -> float:
    """Driver-side chi-square statistic vs the uniform distribution
    over the (tiny) collected histogram — manual sum-of-squares, the
    reference's scipy-free fallback (scripts/ufz_water_qc_pipeline.py:245-248)."""
    n = sum(bin_counts)
    if n == 0 or not bin_counts:
        return 0.0
    exp = n / len(bin_counts)
    return sum((c - exp) ** 2 / exp for c in bin_counts)


def dominant_decimals(
    df: DataFrame,
    keys: Sequence[str] = SERIES_KEYS,
    value: str = "value",
    dominance: float = 0.6,
) -> DataFrame:
    """Mode of round(frac*100) + its share; 'dominant' when share >=
    60% (A5; reference find_long_unique_double_decimals,
    scripts/ufz_water_qc_pipeline.py:250-258). Top-1 per key via
    window rank over the group counts.
    """
    keys = list(keys)
    cent = F.round(frac_part(value) * 100).cast("int").alias("cents")
    counts = (
        df.filter(F.col(value).isNotNull())
        .groupBy(*keys, cent)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    wtot = Window.partitionBy(*keys)
    wrank = Window.partitionBy(*keys).orderBy(F.desc("cnt"), F.asc("cents"))
    return (
        counts.withColumn("total", F.sum("cnt").over(wtot))
        .withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") == 1)
        .select(
            *keys,
            F.col("cents").alias("mode_cents"),
            F.round(F.col("cnt") / F.col("total"), 4).alias("mode_frac"),
            (F.col("cnt") / F.col("total") >= dominance).alias("dominant"),
        )
    )


def diff_quantiles(
    df: DataFrame,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    value: str = "value",
    probs: Sequence[float] = (0.1, 0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Quantiles of positive |successive diff| per series — the
    candidate quantization steps (A6 first half; reference
    quant_step_estimate, scripts/ufz_water_qc_pipeline.py:129-142).
    Exact percentiles to stay oracle-comparable.
    """
    keys = list(keys)
    d = with_diff(df, value, keys, ts, out="_d")
    ad = F.abs(F.col("_d"))
    pos = d.filter(ad > 0).select(*keys, ad.alias("absdiff"))
    aggs = [
        F.round(F.percentile(F.col("absdiff"), F.lit(p)), 6).alias(f"q{int(p*100)}")
        for p in probs
    ]
    return pos.groupBy(*keys).agg(*aggs)


def quant_step_estimate(
    df: DataFrame,
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    value: str = "value",
    atol: float = 1e-3,
    accept: float = 0.7,
) -> DataFrame:
    """Quantization-step estimate (A6), reference-exact candidate set
    (quant_step_estimate, scripts/ufz_water_qc_pipeline.py:134-141):
    candidates are [q10, q25, q50, q50/2 .. q50/9] of the positive
    |diff| distribution — the sub-multiples recover a fine step when
    most observed jumps span several quanta. Each candidate is scored
    by the share of diffs that are integer multiples of it
    (np.isclose semantics: |d/c − round(d/c)| <= atol); the FIRST
    candidate attaining the best score wins (the reference's
    strictly-greater scan order), accepted only if score > 0.7.

    One extra pass over the diffs with 11 conditional averages — no
    driver loop, no recompute of the base table. A series with no
    positive diffs is absent from the output (the reference returns
    NaN for it).
    """
    keys = list(keys)
    d = with_diff(df, value, keys, ts, out="_d")
    pos = d.filter(F.abs(F.col("_d")) > 0).select(
        *keys, F.abs(F.col("_d")).alias("absdiff")
    )
    q = pos.groupBy(*keys).agg(
        F.percentile(F.col("absdiff"), F.lit(0.1)).alias("_q10"),
        F.percentile(F.col("absdiff"), F.lit(0.25)).alias("_q25"),
        F.percentile(F.col("absdiff"), F.lit(0.5)).alias("_q50"),
    )
    cands = [F.col("_q10"), F.col("_q25"), F.col("_q50")] + [
        F.col("_q50") / i for i in range(2, 10)
    ]
    q = q.select(
        *keys, *[c.alias(f"_c{i}") for i, c in enumerate(cands)]
    )
    n_cand = len(cands)
    joined = pos.join(F.broadcast(q), on=keys, how="inner")
    score_cols = []
    for i in range(n_cand):
        c = F.col(f"_c{i}")
        ratio = F.col("absdiff") / c
        hit = F.when(c > 0, (F.abs(ratio - F.round(ratio)) <= atol).cast("double"))
        score_cols.append(F.avg(hit).alias(f"score{i}"))
    scores = joined.groupBy(*keys, *[f"_c{i}" for i in range(n_cand)]).agg(*score_cols)
    best = F.greatest(*[F.col(f"score{i}") for i in range(n_cand)])
    step = F.lit(None).cast("double")
    for i in range(n_cand - 1, -1, -1):
        step = F.when(F.col(f"score{i}") == best, F.col(f"_c{i}")).otherwise(step)
    return scores.select(
        *keys,
        F.when(best > accept, F.round(step, 6)).alias("quant_step"),
        F.round(best, 4).alias("quant_score"),
    )


def global_robust_z(
    df: DataFrame,
    keys: Sequence[str] = SERIES_KEYS,
    value: str = "value",
    thresh: float = 4.0,
) -> DataFrame:
    """Global robust z per series (A8; reference wrtds_buster,
    scripts/ufz_water_qc_pipeline.py:624-639):
    z = (x − median) / (1.4826 · MAD); rows with |z| >= thresh.

    Two per-key aggregates broadcast back (NULL-safe on the keys) —
    stays one lazy plan.
    """
    keys = list(keys)
    med = df.groupBy(*keys).agg(F.median(value).alias("_med"))
    d1 = join_on_keys(df, med, keys, broadcast=True)
    mad = (
        d1.withColumn("_dev", F.abs(F.col(value) - F.col("_med")))
        .groupBy(*keys)
        .agg(F.median("_dev").alias("_mad"))
    )
    d2 = join_on_keys(d1, mad, keys, broadcast=True)
    z = F.when(
        F.col("_mad") > 0,
        (F.col(value) - F.col("_med")) / (F.lit(1.4826) * F.col("_mad")),
    )
    return (
        d2.withColumn("robust_z", z)
        .filter(F.abs(F.col("robust_z")) >= thresh)
        .drop("_med", "_mad")
    )
