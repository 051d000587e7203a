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

    # ------------------------------------------------------------------
    def algebraic_aggs(self) -> list[Column]:
        """Aggregate columns over facts (fid, v, w, cov). Raw moments are
        aliased with a leading underscore and combined in finalize()."""
        c = F.col("cov")
        v = F.col("v")
        w = F.col("w")
        aggs: dict[str, Column] = {}

        need = set(self.algebraic)
        if need & {"count", "mean", "variance", "stdev", "coefficient_of_variation"}:
            aggs["_sum_c"] = F.sum(c)
        if need & {"sum", "mean", "weighted_fraction", "variance", "stdev",
                   "coefficient_of_variation"}:
            aggs["_sum_xc"] = F.sum(v * c)
        if need & {"variance", "stdev", "coefficient_of_variation"}:
            aggs["_sum_xxc"] = F.sum(v * v * c)
        if need & {"weighted_count", "weighted_mean", "weighted_variance",
                   "weighted_stdev"}:
            aggs["_sum_cw"] = F.sum(c * w)
        if need & {"weighted_sum", "weighted_mean", "weighted_fraction",
                   "weighted_variance", "weighted_stdev"}:
            aggs["_sum_xcw"] = F.sum(v * c * w)
        if need & {"weighted_variance", "weighted_stdev"}:
            aggs["_sum_xxcw"] = F.sum(v * v * c * w)
        if "min" in need:
            aggs["min"] = F.min(v)
        if "max" in need:
            aggs["max"] = F.max(v)
        return [expr.alias(name) for name, expr in aggs.items()]

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

    def algebraic_aggs_from_moments(self) -> list[Column]:
        """Merge per-(feature, tile) partial moments (MOMENTS_SCHEMA) —
        the StatsRegistry merge (stats_registry.h:27-40) as plain sums."""
        aggs: list[Column] = []
        need = set(self.algebraic)
        pairs = [
            ("_sum_c", "_p_sum_c", {"count", "mean", "variance", "stdev",
                                    "coefficient_of_variation"}),
            ("_sum_xc", "_p_sum_xc", {"sum", "mean", "weighted_fraction",
                                      "variance", "stdev", "coefficient_of_variation"}),
            ("_sum_xxc", "_p_sum_xxc", {"variance", "stdev",
                                        "coefficient_of_variation"}),
            ("_sum_cw", "_p_sum_cw", {"weighted_count", "weighted_mean",
                                      "weighted_variance", "weighted_stdev"}),
            ("_sum_xcw", "_p_sum_xcw", {"weighted_sum", "weighted_mean",
                                        "weighted_fraction", "weighted_variance",
                                        "weighted_stdev"}),
            ("_sum_xxcw", "_p_sum_xxcw", {"weighted_variance", "weighted_stdev"}),
        ]
        for out, src, users in pairs:
            if need & users:
                aggs.append(F.sum(src).alias(out))
        if "min" in need:
            aggs.append(F.min("_p_min").alias("min"))
        if "max" in need:
            aggs.append(F.max("_p_max").alias("max"))
        return aggs

    def algebraic_aggs_from_freq(self) -> list[Column]:
        """Derive the same raw moments from the merged value-frequency table
        (feature_id, v, sum_c, sum_cw) — exact because the frequency map
        partitions the facts by value."""
        v = F.col("v")
        c = F.col("sum_c")
        cw = F.col("sum_cw")
        aggs: dict[str, Column] = {}
        need = set(self.algebraic)
        if need & {"count", "mean", "variance", "stdev", "coefficient_of_variation"}:
            aggs["_sum_c"] = F.sum(c)
        if need & {"sum", "mean", "weighted_fraction", "variance", "stdev",
                   "coefficient_of_variation"}:
            aggs["_sum_xc"] = F.sum(v * c)
        if need & {"variance", "stdev", "coefficient_of_variation"}:
            aggs["_sum_xxc"] = F.sum(v * v * c)
        if need & {"weighted_count", "weighted_mean", "weighted_variance",
                   "weighted_stdev"}:
            aggs["_sum_cw"] = F.sum(cw)
        if need & {"weighted_sum", "weighted_mean", "weighted_fraction",
                   "weighted_variance", "weighted_stdev"}:
            aggs["_sum_xcw"] = F.sum(v * cw)
        if need & {"weighted_variance", "weighted_stdev"}:
            aggs["_sum_xxcw"] = F.sum(v * v * cw)
        if "min" in need:
            aggs["min"] = F.min(v)
        if "max" in need:
            aggs["max"] = F.max(v)
        return [expr.alias(name) for name, expr in aggs.items()]

    def result_names(self) -> list[str]:
        """Output column order = requested stat order, with 'quantile'
        expanded to q{NN} columns (reference column-naming rules,
        R/exact_extract_helpers.R:28-115)."""
        names: list[str] = []
        for s in self.stats:
            if s == "quantile":
                names.extend(quantile_name(q) for q in self.quantiles)
            elif s in ("frac", "weighted_frac"):
                names.append(s)  # expanded later against the global value set
            else:
                names.append(s)
        return names
