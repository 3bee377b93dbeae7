"""Training-data snapshot drift monitor (X33): Population Stability
Index over binned feature distributions — the check a corpus pipeline
runs between snapshot N and snapshot N+1 (or between a corpus and its
curated output) before shipping data to training: "did the length /
punctuation / quality profile move, and by how much?".

PSI(feature) = Σ_bins (p_a − p_b) · ln(p_a / p_b), with the standard
industry reading (public credit-scoring folklore, e.g. Siddiqi,
"Credit Risk Scorecards"): < 0.1 stable, 0.1–0.25 moderate shift,
> 0.25 major shift.

Spark shape (one scan per snapshot pair): both snapshots union with a
tag, every feature's bin expression is stacked into (feature, bin)
rows map-side, and ONE partial-aggregatable groupBy counts
(feature, bin, snapshot) cells; proportions, smoothing and the PSI
fold are Column arithmetic on the ≤ features·bins aggregated rows.
Nothing here is data-sized after the first aggregate, so the monitor
costs one scan at any corpus size.

Determinism: bin counts are integers; proportions are int/int IEEE
divisions; the ε-smoothing (+1e-6, applied identically in both
engines) keeps ln away from 0. Each per-bin term is rounded to
DECIMAL(18,12) BEFORE the sum — the decimal sum is order-free, so the
result cannot depend on partitioning — and the final PSI is rounded
to 6 dp (exactly q72's policy for ln-sums)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the standard PSI reading; thresholds compared on the ROUNDED value
# so both engines agree at the boundary by construction
PSI_STABLE = 0.1
PSI_MODERATE = 0.25
_EPS = 1e-6


def bin_cells(df_a: DataFrame, df_b: DataFrame,
              features: dict[str, Column]) -> DataFrame:
    """(feature, bin, n_a, n_b) count cells — the exactly-mergeable
    intermediate (integer counts sum across batches/snapshots), shared
    by the batch report and the streaming monitor's fold."""
    if not features:
        raise ValueError("features must name at least one binned column")
    names = list(features)
    tagged = (
        df_a.select(F.lit(0).alias("__snap"), *[
            features[n].cast("string").alias(f"__b_{i}")
            for i, n in enumerate(names)])
        .unionByName(df_b.select(F.lit(1).alias("__snap"), *[
            features[n].cast("string").alias(f"__b_{i}")
            for i, n in enumerate(names)]))
    )
    # explode(array(struct(...))) rather than an F.expr stack() string:
    # same map-side expansion, but feature names are Column literals —
    # a quote or comma in a name cannot break parsing or inject
    # expression text
    pairs = F.array(*[
        F.struct(F.lit(n).alias("feature"),
                 F.col(f"__b_{i}").alias("bin"))
        for i, n in enumerate(names)
    ])
    stacked = (tagged.select("__snap", F.explode(pairs).alias("__fb"))
               .select("__snap", "__fb.feature", "__fb.bin")
               .where(F.col("bin").isNotNull()))
    return stacked.groupBy("feature", "bin").agg(
        F.sum(F.when(F.col("__snap") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("__snap") == 1, 1).otherwise(0)).alias("n_b"),
    )


def psi_from_cells(cells: DataFrame, round_dp: int = 6) -> DataFrame:
    """(feature, psi, verdict) from (feature, bin, n_a, n_b) cells —
    the arithmetic tail of the report, callable on folded streaming
    counts as well as batch cells (same doubles either way, because
    the inputs are exactly-mergeable integers)."""
    from pyspark.sql import Window
    w = Window.partitionBy("feature")
    # zero-total guard (ANSI mode makes x/0 an error, not NULL): an
    # EMPTY snapshot side reads as all-zero proportions — i.e. maximal
    # drift — instead of aborting the job; when the total is positive
    # the expression is exactly the plain division
    tot_a = F.sum("n_a").over(w)
    tot_b = F.sum("n_b").over(w)
    terms = cells.select(
        "feature",
        (F.when(tot_a > 0, F.col("n_a") / tot_a).otherwise(F.lit(0.0))
         + F.lit(_EPS)).alias("pa"),
        (F.when(tot_b > 0, F.col("n_b") / tot_b).otherwise(F.lit(0.0))
         + F.lit(_EPS)).alias("pb"),
    ).select(
        "feature",
        # term rounded to DECIMAL(18,12) before the sum: decimal sums
        # are order-free, so PSI cannot depend on partitioning (q72's
        # ln-sum policy)
        ((F.col("pa") - F.col("pb"))
         * F.log(F.col("pa") / F.col("pb")))
        .cast("decimal(18,12)").alias("term"),
    )
    out = terms.groupBy("feature").agg(
        F.round(F.sum("term").cast("double"), round_dp).alias("psi"))
    return out.select(
        "feature", "psi",
        F.when(F.col("psi") < PSI_STABLE, F.lit("stable"))
        .when(F.col("psi") < PSI_MODERATE, F.lit("moderate_shift"))
        .otherwise(F.lit("major_shift")).alias("verdict"),
    )


def default_text_features(text_col: str = "text") -> dict[str, Column]:
    """The standard text-profile bins (token-count and punctuation-
    ratio bands) — shared by registry q122 and the release CLI's drift
    gate, so "the corpus profile" means the same thing everywhere."""
    from ..functions.textfns import PUNCT_RE

    ntok = F.size(F.split(F.col(text_col), " "))
    n_chars = F.length(text_col)
    pr = F.when(n_chars == 0, F.lit(None)).otherwise(
        F.length(F.regexp_replace(
            text_col, f"[^{PUNCT_RE[1:-1]}]", ""))
        .cast("double") / n_chars)
    return {
        "n_tok": F.when(ntok < 20, "<20").when(ntok < 60, "<60")
        .when(ntok < 120, "<120").otherwise(">=120"),
        "punct_ratio": F.when(pr.isNull(), F.lit(None))
        .when(pr < 0.01, "p0").when(pr < 0.03, "p1")
        .when(pr < 0.06, "p2").otherwise("p3"),
    }


def psi_report(df_a: DataFrame, df_b: DataFrame,
               features: dict[str, Column],
               round_dp: int = 6) -> DataFrame:
    """(feature, psi, verdict) — one row per feature in ``features``
    (name -> an integer/string BIN expression evaluated on each
    snapshot's rows). Rows where a bin expression is null are excluded
    from that feature's distribution (SQL aggregate semantics)."""
    return psi_from_cells(bin_cells(df_a, df_b, features),
                          round_dp=round_dp)
