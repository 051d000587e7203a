"""Stat algebra: named summary operations → Spark aggregate expressions.

Definitions from the reference accumulator (``/root/reference/src/
exactextract/src/raster_stats.h:113-139`` and the formula table in
``src/exactextract/README.md:151-181``): c = coverage fraction, x = value,
w = weight. NA values are skipped by the kernel (facts are sparse over
defined, covered cells); NA weights travel as NaN and poison weighted stats
(raster_stats.h:104-107) — Spark's ``sum`` ignores NULL but propagates NaN,
which is exactly that semantics.

Everything here is a single ``groupBy(feature).agg(...)`` over the coverage
fact table — Spark's partial/final aggregation IS the reference's
StatsRegistry merge (stats_registry.h:25-84), so chunk-merge correctness is
free and map-side combine keeps mega-polygon skew off the wire.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

#: stats computable in one groupBy(fid).agg(...) pass
ALGEBRAIC_STATS = frozenset(
    {
        "count",
        "sum",
        "mean",
        "min",
        "max",
        "weighted_sum",
        "weighted_mean",
        "weighted_count",
        "weighted_fraction",
        "variance",
        "stdev",
        "coefficient_of_variation",
        "weighted_variance",
        "weighted_stdev",
    }
)

#: stats needing the value-frequency map groupBy(fid, value)
FREQ_STATS = frozenset(
    {"mode", "majority", "minority", "variety", "median", "quantile", "frac", "weighted_frac"}
)

WEIGHTED_STATS = frozenset(
    {
        "weighted_sum",
        "weighted_mean",
        "weighted_count",
        "weighted_fraction",
        "weighted_variance",
        "weighted_stdev",
        "weighted_frac",
    }
)

ALL_STATS = ALGEBRAIC_STATS | FREQ_STATS

#: what a feature with no covered cells reports for each additive stat; every
#: other stat stays NULL (ref test_exact_extract.R:433-485)
ZERO_FILL = {
    "count": 0.0,
    "sum": 0.0,
    "weighted_count": 0.0,
    "weighted_sum": 0.0,
    "variety": 0,
}


#: raw moment (summed over c = coverage, x = value, w = weight) -> the
#: algebraic stats whose ``finalize_columns`` expression reads it
_MOMENT_USERS = {
    "_sum_c": {"count", "mean", "variance", "stdev", "coefficient_of_variation"},
    "_sum_xc": {"sum", "mean", "weighted_fraction", "variance", "stdev",
                "coefficient_of_variation"},
    "_sum_xxc": {"variance", "stdev", "coefficient_of_variation"},
    "_sum_cw": {"weighted_count", "weighted_mean", "weighted_variance",
                "weighted_stdev"},
    "_sum_xcw": {"weighted_sum", "weighted_mean", "weighted_fraction",
                 "weighted_variance", "weighted_stdev"},
    "_sum_xxcw": {"weighted_variance", "weighted_stdev"},
}


def quantile_name(q: float) -> str:
    """Column name for a quantile — reference naming 'q{100q}'
    (R/exact_extract_helpers.R:46-50)."""
    v = 100 * q
    return f"q{v:g}".replace(".", "_")


@dataclass
class StatsPlan:
    stats: list[str]
    quantiles: list[float] = field(default_factory=list)

    def __post_init__(self):
        unknown = [s for s in self.stats if s not in ALL_STATS]
        if unknown:
            raise ValueError(f"unknown stats: {unknown}")
        if "quantile" in self.stats and not self.quantiles:
            raise ValueError("quantiles= must be given for stat 'quantile'")

    @property
    def needs_weights(self) -> bool:
        return bool(set(self.stats) & WEIGHTED_STATS)

    @property
    def algebraic(self) -> list[str]:
        return [s for s in self.stats if s in ALGEBRAIC_STATS]

    @property
    def freq(self) -> list[str]:
        return [s for s in self.stats if s in FREQ_STATS]

    def finalize_columns(self) -> dict[str, Column]:
        """Map final stat name -> expression over the raw-moment columns."""
        out: dict[str, Column] = {}
        s_c = F.col("_sum_c")
        s_xc = F.col("_sum_xc")
        s_xxc = F.col("_sum_xxc")
        s_cw = F.col("_sum_cw")
        s_xcw = F.col("_sum_xcw")
        s_xxcw = F.col("_sum_xxcw")
        for s in self.algebraic:
            if s == "count":
                out[s] = F.coalesce(s_c, F.lit(0.0))
            elif s == "sum":
                out[s] = F.coalesce(s_xc, F.lit(0.0))
            elif s == "mean":
                out[s] = s_xc / s_c
            elif s in ("min", "max"):
                out[s] = F.col(s)
            elif s == "weighted_count":
                out[s] = F.coalesce(s_cw, F.lit(0.0))
            elif s == "weighted_sum":
                out[s] = F.coalesce(s_xcw, F.lit(0.0))
            elif s == "weighted_mean":
                out[s] = s_xcw / s_cw
            elif s == "weighted_fraction":
                out[s] = s_xcw / s_xc
            elif s in ("variance", "stdev", "coefficient_of_variation"):
                var = F.greatest(s_xxc / s_c - (s_xc / s_c) * (s_xc / s_c), F.lit(0.0))
                if s == "variance":
                    out[s] = var
                elif s == "stdev":
                    out[s] = F.sqrt(var)
                else:
                    out[s] = F.sqrt(var) / (s_xc / s_c)
            elif s in ("weighted_variance", "weighted_stdev"):
                wvar = F.greatest(
                    s_xxcw / s_cw - (s_xcw / s_cw) * (s_xcw / s_cw), F.lit(0.0)
                )
                out[s] = wvar if s == "weighted_variance" else F.sqrt(wvar)
        return out

    def check_weights(self, weights) -> None:
        """Refuse weighted stats without weights, and warn about weights
        that no requested stat reads (ref test_exact_extract_errors.R:
        28-36)."""
        if self.needs_weights and weights is None:
            raise ValueError(f"stats {sorted(set(self.stats))} require weights")
        if weights is not None and not self.needs_weights:
            warnings.warn(
                "weights provided but no requested stat uses them "
                "(ref test_exact_extract_errors.R:28-36)"
            )

    def _moment_aggs(
        self, sums: "dict[str, Column]", lo: Column, hi: Column
    ) -> list[Column]:
        """The raw moments ``finalize_columns`` reads for the requested
        stats: ``sums`` maps each moment to the column its partials sum;
        ``min``/``max`` reduce ``lo``/``hi``."""
        need = set(self.algebraic)
        aggs = [
            F.sum(sums[m]).alias(m)
            for m, users in _MOMENT_USERS.items()
            if need & users
        ]
        if "min" in need:
            aggs.append(F.min(lo).alias("min"))
        if "max" in need:
            aggs.append(F.max(hi).alias("max"))
        return aggs

    def algebraic_aggs_from_moments(self) -> list[Column]:
        """Merge per-(feature, tile) partial moments (MOMENTS_SCHEMA) —
        the StatsRegistry merge (stats_registry.h:27-40) as plain sums."""
        return self._moment_aggs(
            {m: F.col("_p" + m) for m in _MOMENT_USERS},
            F.col("_p_min"),
            F.col("_p_max"),
        )

    def algebraic_aggs_from_freq(self) -> list[Column]:
        """Derive the same raw moments from the merged value-frequency table
        (feature_id, v, sum_c, sum_cw) — exact because the frequency map
        partitions the facts by value."""
        v = F.col("v")
        c = F.col("sum_c")
        cw = F.col("sum_cw")
        sums = {
            "_sum_c": c,
            "_sum_xc": v * c,
            "_sum_xxc": v * v * c,
            "_sum_cw": cw,
            "_sum_xcw": v * cw,
            "_sum_xxcw": v * v * cw,
        }
        return self._moment_aggs(sums, v, v)
