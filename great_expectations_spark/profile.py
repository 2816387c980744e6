"""Distribution profiles (partition_object) + KL-divergence drift check.

Reference semantics (SURVEY.md §2.5; reference:
``great_expectations/dataset/util.py`` partition-object helpers and
``great_expectations/expectations/core/expect_column_kl_divergence_to_be_less_than.py``,
≈1000 LoC, the most complex core expectation; unverified upstream citations
per SURVEY.md §0):

- ``partition_object`` shapes: categorical ``{values[], weights[]}`` and
  continuous ``{bins[], weights[], tail_weights[]?}``.
- categorical branch: observed weights from value counts / nonnull;
  observed values missing from the baseline ⇒ KL = ∞ unless
  ``tail_weight_holdout`` > 0 redistributes mass to them.
- continuous branch: observed weights from a histogram over the baseline
  ``bins`` plus below/above-range tail counts; ``internal_weight_holdout``
  covers zero-weight internal bins; ``tail_weight_holdout`` (or explicit
  ``tail_weights``) covers mass outside the bin range; otherwise out-of-range
  observed mass ⇒ KL = ∞.
- success = KL < threshold; ``observed_value`` = KL (∞ serializes to null —
  reference ``convert_to_json_serializable``); ``details.observed_partition``
  carries the observed profile.

Spark side: every count comes from one builder of
``functions/aggregates.py`` (category, histogram, ECDF and non-null counts,
quantiles) and rides the suite's single bundled aggregation pass — no extra
scan, no groupBy; the partition builders run the same builders through
``profiler.column_metrics``. The KL arithmetic runs driver-side on numpy
vectors of ≤ a few hundred entries.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, functions as F

from great_expectations_spark.functions import aggregates as A
from great_expectations_spark.functions.aggregates import AggMetric, safe_alias
from great_expectations_spark.profiler import column_metrics


# ---------------------------------------------------------------------------
# partition_object validation + builders
# ---------------------------------------------------------------------------

def is_valid_categorical_partition_object(p: Any) -> bool:
    if not isinstance(p, dict) or "values" not in p or "weights" not in p:
        return False
    if len(p["values"]) != len(p["weights"]):
        return False
    w = np.asarray(p["weights"], dtype=float)
    return bool((w >= 0).all() and math.isclose(w.sum(), 1.0, rel_tol=1e-6))


def is_valid_continuous_partition_object(p: Any) -> bool:
    if not isinstance(p, dict) or "bins" not in p or "weights" not in p:
        return False
    if len(p["bins"]) != len(p["weights"]) + 1:
        return False
    if list(p["bins"]) != sorted(p["bins"]):
        return False
    total = float(np.sum(p["weights"]))
    tw = p.get("tail_weights")
    if tw is not None:
        if len(tw) != 2:
            return False
        total += float(np.sum(tw))
    return math.isclose(total, 1.0, rel_tol=1e-6) and all(
        w >= 0 for w in p["weights"]
    )


def auto_bin_edges(
    n: int, lo: float, hi: float, q25: float, q75: float
) -> list[float]:
    """numpy ``histogram_bin_edges(bins="auto")`` semantics — max of the
    Freedman–Diaconis and Sturges estimators — computed from EXACT scalar
    stats instead of a materialized array, so the edge choice is (a) one
    bundled Spark agg over the full column, no driver-side sample, and
    (b) closed-form replicable in SQL for the driver's oracle check."""
    if n <= 0 or lo is None or hi is None or hi <= lo:
        return [0.0, 1.0] if lo is None else [float(lo), float(lo) + 1.0]
    iqr = max(0.0, q75 - q25)
    fd_width = 2.0 * iqr / (n ** (1.0 / 3.0)) if iqr > 0 else 0.0
    sturges_bins = int(math.ceil(math.log2(n) + 1.0))
    sturges_width = (hi - lo) / sturges_bins
    # numpy auto = the smaller bin WIDTH of (fd, sturges) = more bins
    width = min(fd_width, sturges_width) if fd_width > 0 else sturges_width
    n_bins = max(1, int(math.ceil((hi - lo) / width)))
    return list(np.linspace(lo, hi, n_bins + 1))


def build_continuous_partition_object(
    df: DataFrame,
    column: str,
    bins: str = "uniform",
    n_bins: int = 10,
    allow_relative_error: float = 0.001,
    kde_sample_limit: int = 10_000,
    seed: int = 42,
    exact_quantiles: bool = False,
) -> dict[str, Any]:
    """Baseline continuous profile (reference: column.partition metric,
    ``column_partition.py`` / ``dataset/util.py`` partition builders).

    Strategies:
    - ``uniform``: linspace over exact min/max (one bundled agg).
    - ``ntile``: approximate quantile edges (one bundled agg).
    - ``auto``: Freedman–Diaconis ∨ Sturges bin count from n/min/max/q25/q75
      — one bundled agg, SQL-replicable. The IQR uses percentile_approx by
      default (``exact_quantiles=True`` switches to exact ``percentile`` for
      quantile_cont oracle parity — memory-heavy on high-cardinality
      columns, see the inline note).
    - ``kde``: gaussian-KDE-smoothed partition (reference
      ``kde_partition_data`` used scipy.stats.gaussian_kde; scipy is not in
      this sandbox, so the scott-bandwidth gaussian-mixture CDF is computed
      directly with numpy+erf on a seeded driver-side sample of
      ``kde_sample_limit`` rows — exact for inputs under the limit).

    One bundled aggregation (``profiler.column_metrics``) for the edges,
    one for the bucket weights (``kde`` weights come from the mixture CDF,
    not a second scan).
    """
    def measure(**metrics: AggMetric) -> dict[str, Any]:
        return column_metrics(df, metrics)[()]

    if bins == "uniform":
        row = measure(lo=A.col_min(column), hi=A.col_max(column))
        if row["lo"] is None:
            return {"bins": [0.0, 1.0], "weights": [0.0], "tail_weights": [0.5, 0.5]}
        lo, hi = float(row["lo"]), float(row["hi"])
        if lo == hi:
            hi = lo + 1.0
        edges = list(np.linspace(lo, hi, n_bins + 1))
    elif bins == "ntile":
        qs = [i / n_bins for i in range(n_bins + 1)]
        row = measure(e=A.quantile_values(column, qs, allow_relative_error))
        edges = sorted(set(float(x) for x in row["e"] or []))
        if len(edges) < 2:
            edges = [edges[0], edges[0] + 1.0] if edges else [0.0, 1.0]
    elif bins == "auto":
        # FD bin width is insensitive to small quantile error, so the
        # default IQR comes from percentile_approx (bounded executor memory),
        # at accuracy 1000 or finer; exact F.percentile buffers per-partition
        # value maps — an OOM hazard on high-cardinality columns at scale —
        # and is kept only behind ``exact_quantiles`` for SQL-oracle parity
        # (quantile_cont).
        row = measure(
            n=A.nonnull_count(column),
            lo=A.col_min(column),
            hi=A.col_max(column),
            q=A.quantile_values(column, [0.25, 0.75],
                                min(allow_relative_error, 0.001),
                                approximate=not exact_quantiles),
        )
        if row["lo"] is None:
            return {"bins": [0.0, 1.0], "weights": [0.0], "tail_weights": [0.5, 0.5]}
        q25, q75 = row["q"]
        edges = auto_bin_edges(
            int(row["n"]), float(row["lo"]), float(row["hi"]),
            float(q25), float(q75),
        )
    elif bins == "kde":
        return _kde_partition_object(df, column, kde_sample_limit, seed)
    else:
        raise ValueError(
            f"unsupported bins strategy {bins!r} (uniform|ntile|auto|kde)"
        )

    counts = measure(hist=A.histogram(column, edges))["hist"]
    total = sum(counts) or 1
    return {
        "bins": [float(e) for e in edges],
        "weights": [ct / total for ct in counts],
        "tail_weights": [0.0, 0.0],
    }


def _kde_partition_object(
    df: DataFrame, column: str, sample_limit: int, seed: int
) -> dict[str, Any]:
    """Gaussian-KDE partition (reference ``dataset/util.py::
    kde_partition_data``): scott-factor bandwidth, edges spanning
    [min − h·σ, max + h·σ] with ⌊√n⌋+1 points, weights = mixture-CDF
    differences, tail_weights = mass outside the edge range.

    Data reaches the driver through a DETERMINISTIC pseudo-random subsample
    capped at ``sample_limit`` (inputs under the limit are used exactly):
    the ``sample_limit`` rows with the smallest ``xxhash64(value, seed)``.
    The selected multiset depends only on the data and the seed — not on
    partition layout or AQE decisions (``sample(fraction, seed)`` is
    per-partition-seeded and ``limit`` keeps whichever partitions finish
    first, so the round-1 form was NOT reproducible). Spark plans the
    orderBy+limit as ``TakeOrderedAndProject`` — per-task heaps of
    ``sample_limit`` rows, no global sort.
    """
    base = df.select(F.col(column).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    n_total = base.count()
    if n_total == 0:
        return {"bins": [0.0, 1.0], "weights": [0.0], "tail_weights": [0.5, 0.5]}
    if n_total > sample_limit:
        base = base.orderBy(
            F.xxhash64(F.col("__v"), F.lit(int(seed))), F.col("__v")
        ).limit(sample_limit)
    data = np.array(
        [r["__v"] for r in base.limit(sample_limit).collect()], dtype=float
    )
    n = data.size
    std = float(data.std(ddof=1)) if n > 1 else 0.0
    if std == 0.0:
        lo = float(data.min())
        return {"bins": [lo - 0.5, lo + 0.5], "weights": [1.0],
                "tail_weights": [0.0, 0.0]}
    factor = n ** (-1.0 / 5.0)  # scott (gaussian_kde default)
    h = factor * std
    n_edges = int(math.floor(math.sqrt(n))) + 1
    edges = np.linspace(data.min() - h, data.max() + h, max(2, n_edges))

    # mixture CDF at each edge: mean over points of Φ((e - x_i)/h)
    from math import erf, sqrt

    z = (edges[:, None] - data[None, :]) / (h * sqrt(2.0))
    cdf = 0.5 * (1.0 + np.vectorize(erf)(z)).mean(axis=1)
    weights = np.diff(cdf)
    return {
        "bins": [float(e) for e in edges],
        "weights": [float(w) for w in weights],
        "tail_weights": [float(cdf[0]), float(1.0 - cdf[-1])],
    }


# ---------------------------------------------------------------------------
# head previews (reference: table.head / column.head metrics)
# ---------------------------------------------------------------------------

def table_head(
    df: DataFrame, n: int = 5, order_by: list[str] | None = None
) -> DataFrame:
    """First ``n`` rows. With ``order_by`` Spark plans TakeOrderedAndProject
    (executor-local heaps — no global sort); without it, CollectLimit grabs
    the first partitions' rows (fast, order-arbitrary — reference
    ``table.head`` semantics)."""
    return df.orderBy(*order_by).limit(n) if order_by else df.limit(n)


def column_head(
    df: DataFrame, column: str, n: int = 5, order_by: list[str] | None = None
) -> DataFrame:
    """First ``n`` values of one column (column-pruned scan)."""
    keep = [column] + [c for c in (order_by or []) if c != column]
    return table_head(df.select(*keep), n, order_by).select(column)


# ---------------------------------------------------------------------------
# KL-divergence bundled metric
# ---------------------------------------------------------------------------

def _kl(pk: np.ndarray, qk: np.ndarray) -> float:
    """KL(P‖Q) = Σ p·ln(p/q); p>0 where q==0 ⇒ ∞ (scipy.stats.entropy parity,
    computed with plain numpy to avoid the scipy dependency)."""
    pk = np.asarray(pk, dtype=float)
    qk = np.asarray(qk, dtype=float)
    s = pk.sum()
    if s <= 0:
        return float("nan")
    pk = pk / s
    mask = pk > 0
    if (qk[mask] <= 0).any():
        return float("inf")
    return float(np.sum(pk[mask] * np.log(pk[mask] / qk[mask])))


def kl_divergence_metric(
    column: str,
    partition_object: dict[str, Any],
    tail_weight_holdout: float = 0.0,
    internal_weight_holdout: float = 0.0,
) -> AggMetric:
    """Compile the KL check into bundled scalar aggregates + driver math."""
    if is_valid_categorical_partition_object(partition_object):
        return _categorical_kl(column, partition_object, tail_weight_holdout)
    if is_valid_continuous_partition_object(partition_object):
        return _continuous_kl(
            column, partition_object, tail_weight_holdout, internal_weight_holdout
        )
    raise ValueError("invalid partition_object")


def _observed_categories(
    cats: AggMetric, vals: dict[str, Any]
) -> tuple[np.ndarray, float, float]:
    """A category-count metric's per-value counts, other count and total."""
    counts, other = cats.finalize(vals)
    counts = np.asarray(counts, dtype=float)
    return counts, float(other), float(counts.sum() + other)


def _categorical_kl(
    column: str, partition_object: dict[str, Any], tail_weight_holdout: float
) -> AggMetric:
    values = list(partition_object["values"])
    baseline = np.asarray(partition_object["weights"], dtype=float)
    cats = A.category_counts(column, values)

    def fin(vals: dict[str, Any]) -> float:
        counts, other, total = _observed_categories(cats, vals)
        if total == 0:
            return float("nan")
        pk = counts / total
        qk = baseline.copy()
        if other > 0:
            if tail_weight_holdout > 0:
                # holdout mass covers observed-but-unseen values as one bucket
                pk = np.append(pk, other / total)
                qk = np.append(qk * (1.0 - tail_weight_holdout), tail_weight_holdout)
            else:
                return float("inf")
        return _kl(pk, qk)

    def details(vals: dict[str, Any]) -> dict[str, Any]:
        counts, _, total = _observed_categories(cats, vals)
        return {
            "observed_partition": {
                "values": values,
                "weights": [float(x) for x in counts / (total or 1.0)],
            }
        }

    return AggMetric(cats.exprs, fin, details)


def _continuous_kl(
    column: str,
    partition_object: dict[str, Any],
    tail_weight_holdout: float,
    internal_weight_holdout: float,
) -> AggMetric:
    bins = [float(b) for b in partition_object["bins"]]
    weights = np.asarray(partition_object["weights"], dtype=float)
    tail_weights = partition_object.get("tail_weights")

    hist = A.histogram(column, bins)
    c = F.col(column).cast("double")
    lo, hi = bins[0], bins[-1]
    below_alias = safe_alias("klbelow", column, lo)
    above_alias = safe_alias("klabove", column, hi)
    exprs = dict(hist.exprs)
    exprs[below_alias] = F.sum(
        F.when(F.col(column).isNotNull() & (c < lo), 1).otherwise(0)
    )
    exprs[above_alias] = F.sum(
        F.when(F.col(column).isNotNull() & (c > hi), 1).otherwise(0)
    )

    def _expected(qk: np.ndarray) -> tuple[np.ndarray, float, float]:
        """Apply holdouts to the baseline per reference semantics."""
        qk = qk.copy()
        if internal_weight_holdout > 0:
            zero = qk == 0
            nz = int(zero.sum())
            if nz:
                qk = qk * (1.0 - internal_weight_holdout)
                qk[zero] = internal_weight_holdout / nz
        if tail_weights is not None and (tail_weights[0] > 0 or tail_weights[1] > 0):
            q_below, q_above = float(tail_weights[0]), float(tail_weights[1])
        elif tail_weight_holdout > 0:
            qk = qk * (1.0 - tail_weight_holdout)
            q_below = q_above = tail_weight_holdout / 2.0
        else:
            q_below = q_above = 0.0
        return qk, q_below, q_above

    def fin(vals: dict[str, Any]) -> float:
        counts = np.asarray(hist.finalize(vals), dtype=float)
        below = float(vals[below_alias] or 0)
        above = float(vals[above_alias] or 0)
        total = counts.sum() + below + above
        if total == 0:
            return float("nan")
        qk, q_below, q_above = _expected(weights)
        pk = np.concatenate([[below], counts, [above]]) / total
        qk_full = np.concatenate([[q_below], qk, [q_above]])
        return _kl(pk, qk_full)

    def details(vals: dict[str, Any]) -> dict[str, Any]:
        counts = np.asarray(hist.finalize(vals), dtype=float)
        below = float(vals[below_alias] or 0)
        above = float(vals[above_alias] or 0)
        total = counts.sum() + below + above or 1.0
        return {
            "observed_partition": {
                "bins": bins,
                "weights": [float(x) for x in counts / total],
                "tail_weights": [below / total, above / total],
            }
        }

    return AggMetric(exprs, fin, details)


# ---------------------------------------------------------------------------
# statistical-test metrics: chi-square goodness-of-fit, KS against a
# continuous partition CDF
# ---------------------------------------------------------------------------
#
# Reference: ``expect_column_chisquare_test_p_value_to_be_greater_than`` /
# ``expect_column_bootstrapped_ks_test_p_value_to_be_greater_than``
# (great_expectations/dataset/dataset.py, PandasDataset-only upstream —
# SparkDFDataset raised NotImplementedError; unverified per SURVEY.md §0).
# Spark-first reformulation: every count the tests need is a scalar
# conditional sum riding the suite's ONE bundled aggregation pass; the
# p-value math is closed-form driver arithmetic (regularized incomplete
# gamma / asymptotic Kolmogorov series — standard public numerical methods,
# cf. Numerical Recipes §6.2/§14.3), so no scipy dependency and no sampling
# of row data to the driver. The KS statistic is evaluated at the partition
# bin BOUNDARIES (the points where the reference CDF is defined exactly);
# against a piecewise-linear reference CDF this is the scan-friendly,
# sample-free form — at 10^12 rows the asymptotic p-value the reference
# bootstraps toward is the exact limit.


def _regularized_gamma_q(s: float, x: float) -> float:
    """Upper regularized incomplete gamma Q(s, x) = Γ(s, x) / Γ(s).

    Series expansion for x < s+1, Lentz continued fraction otherwise —
    the classic split that converges fast on both sides.
    """
    if s <= 0 or x < 0:
        raise ValueError("need s > 0, x >= 0")
    if x == 0.0:
        return 1.0
    lg = math.lgamma(s)
    if x < s + 1.0:
        # series for the lower function P; Q = 1 - P
        term = 1.0 / s
        total = term
        a = s
        for _ in range(1000):
            a += 1.0
            term *= x / a
            total += term
            if abs(term) < abs(total) * 1e-16:
                break
        return 1.0 - total * math.exp(-x + s * math.log(x) - lg)
    # modified Lentz continued fraction for Q
    tiny = 1e-300
    b = x + 1.0 - s
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, 1000):
        an = -i * (i - s)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-16:
            break
    return math.exp(-x + s * math.log(x) - lg) * h


def chi2_sf(stat: float, df: int) -> float:
    """Chi-square survival function P(X >= stat) with ``df`` degrees of
    freedom: Q(df/2, stat/2)."""
    if df <= 0:
        raise ValueError("df must be positive")
    if stat <= 0:
        return 1.0
    if math.isinf(stat):
        return 0.0
    return min(1.0, max(0.0, _regularized_gamma_q(df / 2.0, stat / 2.0)))


def kolmogorov_sf(lam: float) -> float:
    """Asymptotic Kolmogorov survival function
    Q_KS(λ) = 2 Σ_{k≥1} (-1)^{k-1} exp(-2 k² λ²)."""
    if lam <= 0:
        return 1.0
    total = 0.0
    for k in range(1, 200):
        term = 2.0 * (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        total += term
        if abs(term) < 1e-14:
            break
    return min(1.0, max(0.0, total))


def chisquare_test_metric(
    column: str,
    partition_object: dict[str, Any],
    tail_weight_holdout: float = 0.0,
) -> AggMetric:
    """Chi-square goodness-of-fit vs a categorical partition_object.

    Observed counts per baseline value ride the bundled agg pass (same
    conditional-sum shape as the categorical KL check). Expected counts are
    ``weights × nonnull_total``. Observed-but-unseen values form an "other"
    bucket: with ``tail_weight_holdout`` > 0 its expected mass is
    ``holdout × total`` (baseline weights rescaled by 1-holdout); without a
    holdout any other-mass makes the statistic ∞ and the p-value 0 — the
    same hard-fail convention as the KL ∞ branch. Observed value = p-value
    (chi2_sf at k-1 degrees of freedom); details carry the statistic and
    both count vectors.
    """
    if not is_valid_categorical_partition_object(partition_object):
        raise ValueError("chi-square test needs a categorical partition_object")
    baseline = np.asarray(partition_object["weights"], dtype=float)
    cats = A.category_counts(column, list(partition_object["values"]))

    def _stat(vals: dict[str, Any]) -> tuple[float, int, np.ndarray, np.ndarray]:
        counts, other, total = _observed_categories(cats, vals)
        if total == 0:
            return float("nan"), 0, counts, np.zeros_like(counts)
        if other > 0 and tail_weight_holdout <= 0:
            # df clamped ≥1: a single-value partition_object would yield
            # df=0 and turn the intended hard-fail p=0 into a ValueError
            return float("inf"), max(1, len(counts) - 1), counts, baseline * total
        if tail_weight_holdout > 0 and other > 0:
            # the holdout bucket participates only when unseen values
            # actually occur — otherwise a batch identical to the baseline
            # would be penalized (0 observed vs holdout×total expected)
            obs = np.append(counts, other)
            exp = np.append(
                baseline * (1.0 - tail_weight_holdout), tail_weight_holdout
            ) * total
        else:
            obs, exp = counts, baseline * total
        nz = exp > 0
        if (obs[~nz] > 0).any():
            return float("inf"), max(1, len(obs) - 1), obs, exp
        stat = float(((obs[nz] - exp[nz]) ** 2 / exp[nz]).sum())
        return stat, max(1, len(obs) - 1), obs, exp

    def fin(vals: dict[str, Any]) -> float:
        stat, df, _, _ = _stat(vals)
        if math.isnan(stat):
            return float("nan")
        return chi2_sf(stat, df)

    def details(vals: dict[str, Any]) -> dict[str, Any]:
        stat, df, obs, exp = _stat(vals)
        return {
            "chisquare": {
                "statistic": None if math.isnan(stat) or math.isinf(stat) else stat,
                "df": df,
                "observed_counts": [float(x) for x in obs],
                "expected_counts": [float(x) for x in exp],
            }
        }

    return AggMetric(cats.exprs, fin, details)


def ks_test_metric(
    column: str, partition_object: dict[str, Any]
) -> AggMetric:
    """KS test of the column against a continuous partition_object CDF,
    evaluated at the partition's bin boundaries.

    exprs: nonnull total + one ``sum(when(x <= b_i))`` per boundary — all
    scalar, all riding the bundled pass. D = max_i |ECDF(b_i) - CDF(b_i)|
    where CDF(b_i) = tail_below + Σ weights[:i]; p-value from the asymptotic
    Kolmogorov distribution at λ = (√n + 0.12 + 0.11/√n)·D. Boundary
    restriction makes D a lower bound of the full sup-statistic (p an upper
    bound) — exact wherever the baseline is piecewise linear between
    boundaries and the observed data is continuous at scale.
    """
    if not is_valid_continuous_partition_object(partition_object):
        raise ValueError("KS test needs a continuous partition_object")
    bins = [float(b) for b in partition_object["bins"]]
    weights = np.asarray(partition_object["weights"], dtype=float)
    tails = partition_object.get("tail_weights") or [0.0, 0.0]
    cdf_at = float(tails[0]) + np.concatenate([[0.0], np.cumsum(weights)])
    return _ks_metric(column, bins, cdf_at, "statistic_at_boundaries",
                      boundaries=bins)


def _ks_metric(
    column: str, points: list[float], cdf: np.ndarray, statistic: str,
    **about: Any,
) -> AggMetric:
    """Both KS metrics: the non-null count and the ECDF counts at ``points``
    ride the bundle; D = max_j |ECDF(x_j) − cdf_j|, observed value = the
    asymptotic Kolmogorov p-value at λ = (√n + 0.12 + 0.11/√n)·D; details
    carry D under ``statistic``, n and ``about``."""
    nn = A.nonnull_count(column)
    ecdf = A.ecdf_counts(column, points)

    def _d(vals: dict[str, Any]) -> tuple[float, float]:
        n = float(nn.finalize(vals) or 0)
        if n == 0:
            return float("nan"), 0.0
        counts = np.asarray(ecdf.finalize(vals), dtype=float)
        return float(np.abs(counts / n - cdf).max()), n

    def fin(vals: dict[str, Any]) -> float:
        d, n = _d(vals)
        if math.isnan(d):
            return float("nan")
        sqn = math.sqrt(n)
        return kolmogorov_sf((sqn + 0.12 + 0.11 / sqn) * d)

    def details(vals: dict[str, Any]) -> dict[str, Any]:
        d, n = _d(vals)
        return {"ks": {statistic: None if math.isnan(d) else d, "n": n, **about}}

    return AggMetric({**nn.exprs, **ecdf.exprs}, fin, details)


# -- parameterized-distribution KS ------------------------------------------
#
# Reference: ``expect_column_parameterized_distribution_ks_test_p_value_to_be_
# greater_than`` (PandasDataset-only upstream). Spark-first form: probe the
# claimed distribution's CDF at ``n_probes`` interior quantile points (exact
# ppf below — no scipy), count ``col <= x_j`` as scalar bundle exprs, and
# take D = max_j |ECDF(x_j) - p_j| with the asymptotic Kolmogorov p-value.


def _norm_ppf(p: float) -> float:
    """Standard normal quantile — Acklam's rational approximation
    (|relative error| < 1.15e-9 over (0, 1); public-domain algorithm)."""
    if not 0.0 < p < 1.0:
        raise ValueError("p must be in (0, 1)")
    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0]*q + c[1])*q + c[2])*q + c[3])*q + c[4])*q + c[5]) / \
               ((((d[0]*q + d[1])*q + d[2])*q + d[3])*q + 1)
    if p > phigh:
        q = math.sqrt(-2 * math.log(1 - p))
        return -(((((c[0]*q + c[1])*q + c[2])*q + c[3])*q + c[4])*q + c[5]) / \
               ((((d[0]*q + d[1])*q + d[2])*q + d[3])*q + 1)
    q = p - 0.5
    r = q * q
    return (((((a[0]*r + a[1])*r + a[2])*r + a[3])*r + a[4])*r + a[5]) * q / \
           (((((b[0]*r + b[1])*r + b[2])*r + b[3])*r + b[4])*r + 1)


def _gamma_ppf(p: float, shape: float) -> float:
    """Quantile of the (unit-scale) gamma distribution by bisection on the
    regularized lower incomplete gamma CDF — driver-side, ≤200 iterations."""
    if not 0.0 < p < 1.0:
        raise ValueError("p must be in (0, 1)")
    lo, hi = 0.0, max(shape * 10.0, 10.0)
    while 1.0 - _regularized_gamma_q(shape, hi) < p:
        hi *= 2.0
        if hi > 1e12:
            break
    for _ in range(200):
        mid = 0.5 * (lo + hi)
        if 1.0 - _regularized_gamma_q(shape, mid) < p:
            lo = mid
        else:
            hi = mid
        if hi - lo < 1e-12 * max(1.0, hi):
            break
    return 0.5 * (lo + hi)


def distribution_ppf(
    distribution: str, p: float, params: dict[str, float]
) -> float:
    """Quantile of a named distribution (scipy parameterization: ``loc`` /
    ``scale`` plus the family's shape parameter). Supported: norm, uniform,
    expon, lognorm (shape ``s``), chi2 (shape ``df``), gamma (shape ``a``)."""
    loc = float(params.get("loc", 0.0))
    scale = float(params.get("scale", 1.0))
    if scale <= 0:
        raise ValueError("scale must be positive")
    if distribution == "norm":
        mean = float(params.get("mean", loc))
        std = float(params.get("std", scale))
        return mean + std * _norm_ppf(p)
    if distribution == "uniform":
        return loc + scale * p
    if distribution == "expon":
        return loc - scale * math.log(1.0 - p)
    if distribution == "lognorm":
        s = float(params["s"])
        return loc + scale * math.exp(s * _norm_ppf(p))
    if distribution == "chi2":
        df = float(params["df"])
        return loc + scale * 2.0 * _gamma_ppf(p, df / 2.0)
    if distribution == "gamma":
        a = float(params["a"])
        return loc + scale * _gamma_ppf(p, a)
    raise ValueError(
        f"unsupported distribution {distribution!r} "
        "(norm|uniform|expon|lognorm|chi2|gamma)"
    )


def parameterized_ks_test_metric(
    column: str,
    distribution: str,
    params: dict[str, float],
    n_probes: int = 20,
) -> AggMetric:
    """KS of the column against a parameterized distribution, probed at the
    distribution's own interior quantile points x_j = ppf(j / n_probes):
    there the reference CDF is EXACTLY j/n_probes, so each probe needs one
    ``sum(when(col <= x_j))`` scalar expr in the bundle and no driver-side
    CDF evaluation at all. D is a lower bound of the sup-statistic that
    tightens as n_probes grows (default 20 ⇒ resolution 0.05)."""
    levels = [(j + 1) / (n_probes + 1) for j in range(n_probes)]
    probes = [distribution_ppf(distribution, p, params) for p in levels]
    return _ks_metric(column, probes, np.asarray(levels), "statistic_at_probes",
                      distribution=distribution, n_probes=n_probes)
