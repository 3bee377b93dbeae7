"""Deterministic sampling / sharding / mixture operators for building
training-data mixes at corpus scale.

Everything here is *hash-deterministic*: membership is a pure function of
the row key and a salt string, never of RNG state, partitioning, or task
retries. That property is what makes sampling at 100 TB sane — the same
doc lands on the same side of every cut on every run and on every
executor, re-runs are idempotent, and an ANSI-SQL oracle can reproduce
the exact sample. The hash is the portable md5-based
``functions.textfns.portable_hash60`` (uniform over 2^60), so a rate of
``p`` percent selects ``hash % 100 < p``.

Reference parity: the reference pipeline has no sampling tier (it
processes every record, e.g. Solar_Processing.py's full-stream writes);
these operators are the training-data extension layer (SURVEY.md §2
extensions) a 100 TB curation run needs on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textfns import portable_hash60


def sample_bucket(key: Column, salt: str, buckets: int = 100) -> Column:
    """Deterministic bucket in ``[0, buckets)`` for a row key.

    ``salt`` namespaces independent sampling decisions: samples drawn
    with different salts are independent, samples with the same salt are
    nested (rate 10 ⊂ rate 20 ⊂ …), which is exactly what you want for
    growing / shrinking a training mix without churn.
    """
    if buckets <= 0:
        raise ValueError(f"buckets must be positive, got {buckets}")
    return portable_hash60(F.concat(F.lit(salt + "|"), key.cast("string"))) % buckets


def hash_sample(df: DataFrame, key: str, rate_pct: int, salt: str = "sample") -> DataFrame:
    """Keep ~``rate_pct`` percent of rows, deterministically by ``key``.

    A pure filter — no shuffle, no RNG; Catalyst folds the predicate into
    the scan stage, so at scale this costs one pass with no exchange.
    """
    return df.filter(sample_bucket(F.col(key), salt) < F.lit(int(rate_pct)))


def stratified_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    rates_pct: dict[str, int],
    default_pct: int = 0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling (the training-mix cut).

    ``rates_pct`` maps stratum value -> keep percentage; strata absent
    from the map keep ``default_pct`` percent. Still a single shuffle-free
    filter: the per-stratum rate is a CASE expression, so the whole
    decision stays in the scan stage (plan-audited: no Exchange).
    """
    rate = F.lit(int(default_pct))
    for value, pct in sorted(rates_pct.items()):
        rate = F.when(F.col(stratum) == value, F.lit(int(pct))).otherwise(rate)
    return df.filter(sample_bucket(F.col(key), salt) < rate)


def shard_assign(df: DataFrame, key: str, n_shards: int, salt: str = "shard") -> DataFrame:
    """Add a deterministic ``shard`` column in ``[0, n_shards)``.

    The write-side partitioner for training corpora: downstream
    ``.write.partitionBy("shard")`` (or ``repartition("shard")`` +
    per-shard files) gives stable, uniformly-sized output shards whose
    membership survives re-runs — resumable corpus builds at 100 TB.
    """
    return df.withColumn("shard", sample_bucket(F.col(key), salt, n_shards))


def upsample_by_weight(
    df: DataFrame,
    key: str,
    stratum: str,
    weights: dict[str, float],
    default_weight: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic fractional up/down-sampling to hit a target mixture.

    Each row is emitted ``floor(w)`` times, plus one more with
    probability ``frac(w)`` decided by the row's hash bucket — so a
    weight of 2.5 yields exactly 2 or 3 deterministic copies per row
    (expected 2.5), and 0.5 is a 50% downsample. Output carries
    ``copy_idx`` (0-based) so downstream shuffles can decorrelate copies.

    Scale shape: ``explode`` fans out map-side (no shuffle); weights live
    in a CASE expression, not a join. Rows with 0 copies vanish via
    exploding an empty array.

    Weight resolution is 1% (the fractional part is decided over 100
    hash buckets): 2.5 and 2.505 behave identically. Weights must be
    >= 0.
    """
    bad = {k: v for k, v in {**weights, "__default__": default_weight}.items() if v < 0}
    if bad:
        raise ValueError(f"weights must be >= 0, got {bad}")
    w = F.lit(float(default_weight))
    for value, weight in sorted(weights.items()):
        w = F.when(F.col(stratum) == value, F.lit(float(weight))).otherwise(w)
    frac_pct = F.round((w - F.floor(w)) * 100).cast("long")
    extra = (sample_bucket(F.col(key), salt) < frac_pct).cast("long")
    n_copies = (F.floor(w).cast("long") + extra).alias("n_copies")
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(0).cast("long"), n_copies - 1)
    ).otherwise(F.array().cast("array<long>"))
    return df.withColumn("copy_idx", F.explode(copies))


def epoch_shuffle(df: DataFrame, key: str, epoch: int,
                  n_shards: int = 64, salt: str = "epoch") -> DataFrame:
    """Deterministic global training order for one epoch, the
    distributed way: a per-epoch hash assigns each row a shard and an
    order-within-shard; the training order is lexicographic
    (shard, pos). Changing ``epoch`` reshuffles everything (the hash
    salt includes it); the same epoch always replays identically —
    resumable mid-epoch from any (shard, pos) checkpoint.

    Scale shape: NO global sort — ``pos`` is a row_number windowed per
    shard, so ordering work parallelizes across shards (pick n_shards ≈
    cluster parallelism × a few). A single global window would funnel
    100 TB through one partition; this never does."""
    esalt = f"{salt}{int(epoch)}"
    h = portable_hash60(
        F.concat(F.lit(esalt + "|"), F.col(key).cast("string"))
    )
    from pyspark.sql import Window

    sharded = df.withColumn("shard", sample_bucket(F.col(key), esalt + "-shard", n_shards))
    w = Window.partitionBy("shard").orderBy(h.alias("h"), F.col(key))
    return sharded.withColumn("pos", F.row_number().over(w))


def _check_split_pcts(val_pct: int, test_pct: int) -> None:
    if val_pct < 0 or test_pct < 0 or val_pct + test_pct > 100:
        raise ValueError(f"need val_pct, test_pct >= 0 and sum <= 100, "
                         f"got {val_pct}, {test_pct}")


def _split_label(bucket: Column, val_pct: int, test_pct: int) -> Column:
    """THE split rule, written once (shared by assign_split and
    leakage_safe_splits so the two can never disagree on boundaries):
    test = [0, test_pct), val = [test_pct, test_pct+val_pct),
    train = the rest."""
    return (
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )


def assign_split(df: DataFrame, key: str, val_pct: int = 5, test_pct: int = 5,
                 salt: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment: a ``split`` column from
    the row's hash bucket (test = [0, test_pct), val = [test_pct,
    test_pct+val_pct), train = rest). Pure labeling — no shuffle, no
    filter — so one pass can write all three splits with
    ``partitionBy("split")``; membership survives re-runs and corpus
    growth (a doc never migrates between splits as data is added, the
    property random splits lose)."""
    _check_split_pcts(val_pct, test_pct)
    b = sample_bucket(F.col(key), salt)
    return df.withColumn("split", _split_label(b, val_pct, test_pct))


def leakage_safe_splits(df: DataFrame, key: str, edges: DataFrame,
                        val_pct: int = 5, test_pct: int = 5,
                        salt: str = "split",
                        src_col: str = "id_a",
                        dst_col: str = "id_b") -> DataFrame:
    """Train/val/test assignment keyed by NEAR-DUP CLUSTER, not by row:
    connected components over the candidate-pair graph give every row a
    ``cluster_id`` (= min member key, the q53 labeling), and the split
    hash is taken over ``cluster_id`` — so every member of a cluster,
    i.e. every near-duplicate pair, lands in the SAME split by
    construction. Row-keyed splits (``assign_split``) leak: a training
    doc's near-duplicate can land in test and inflate held-out metrics
    (the train-test overlap GPT-3 §4 / C4 had to scrub post-hoc). Here
    the straddle is structurally impossible, not screened after the
    fact.

    ``edges`` is any near-dup pair frame (``dedup.minhash_lsh_candidates``
    filtered to the decision threshold, ``dedup.simhash_near_dups``, ...).
    Returns ``df`` + ``cluster_id`` + ``split``; same-salt nesting and
    re-run stability as every sampler here (a cluster never migrates —
    unless new data BRIDGES two clusters, which correctly merges their
    membership; that is the semantics you want: the pair must not
    straddle).

    Scale shape: CC runs over the pair graph only (edge-endpoint
    iteration, O(log² n) star rounds); the label table is pair-graph
    sized — orders of magnitude smaller than the corpus. The join-back
    is one LEFT join of the corpus against it: broadcast (zero corpus
    movement) while the label table fits AQE's threshold, one hash
    shuffle of the corpus by key — never a sort — beyond that. Rows
    outside the pair graph take cluster_id = their own key via
    coalesce either way."""
    _check_split_pcts(val_pct, test_pct)
    from . import graph

    e = edges.select(F.col(src_col).alias("id_a"), F.col(dst_col).alias("id_b"))
    # nodes = an EMPTY frame (schema only): the CC's labels already
    # cover every edge endpoint, and its isolated-node branch is
    # handled by the coalesce below — passing the endpoints would just
    # duplicate the union+distinct pass CC does internally (review
    # catch).
    empty_nodes = e.select(F.col("id_a").alias("id")).filter(F.lit(False))
    st: dict = {}
    labels = graph.connected_components_star(empty_nodes, e, id_col="id",
                                             stats=st)
    # broadcast when the driver CC fast path bounded the label table
    # (round 16 — stats["driver_cc"]), else shuffle_hash, never
    # sort-merge: the corpus side must never be SORTED for a
    # pair-graph-sized label lookup (graph.py's own rule).
    out = df.join(
        labels.withColumnRenamed("id", key)
        .hint("broadcast" if st.get("driver_cc") else "shuffle_hash"),
        key,
        "left",
    ).withColumn("cluster_id", F.coalesce(F.col("component"), F.col(key))).drop("component")
    b = sample_bucket(F.col("cluster_id"), salt)
    return out.withColumn("split", _split_label(b, val_pct, test_pct))


def temperature_mix_rates(df: DataFrame, stratum: str, alpha: float = 0.7,
                          budget_frac: float = 0.5) -> DataFrame:
    """Per-stratum sampling rates for a temperature-flattened training
    mix (the multilingual/multi-source rebalancing rule of CCNet /
    GPT-3 / LLaMA: sample stratum *i* with probability ∝ nᵢ^α, α < 1
    upweighting rare strata). For a total budget of
    ``budget_frac · N`` rows, stratum *i*'s target share is
    nᵢ^α / Σⱼ nⱼ^α, so its per-row keep rate is
    ``budget_frac · N · shareᵢ / nᵢ`` — capped at 100%.

    Returns (stratum, n, rate_pct) with ``rate_pct`` an INTEGER percent:
    membership decisions downstream are integer-exact hash-bucket
    compares (``temperature_sample``), reproducible on any engine.
    Cross-engine determinism of the rates themselves: the one
    transcendental (nᵢ^α) is rounded to 6 decimals and cast to DECIMAL
    before the order-free decimal sum (the q65/q72 ln-sum policy — at
    weight magnitudes ~10³ a 1-ulp pow() disagreement is ~10⁻¹³, seven
    orders below the rounding grid); everything after is IEEE
    mul/div/round on identical operands in an identical tree, which
    both engines round identically.

    Scale shape: one partial-aggregatable count per stratum, a 1-row
    global decimal sum broadcast back — no corpus-sized shuffle
    anywhere; strata counts are dashboard-sized."""
    if not 0.0 < budget_frac <= 1.0:
        raise ValueError(f"budget_frac must be in (0, 1], got {budget_frac}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    counts = df.groupBy(stratum).agg(F.count(F.lit(1)).alias("n"))
    w = F.round(F.pow(F.col("n").cast("double"), F.lit(float(alpha))), 6) \
         .cast("decimal(24,6)")
    weighted = counts.withColumn("w", w)
    totals = weighted.agg(
        F.sum("w").cast("double").alias("wsum"),
        F.sum("n").alias("n_total"),
    )
    rate = F.least(
        F.lit(100),
        F.round(
            (((F.lit(100.0) * F.lit(float(budget_frac))) * F.col("n_total"))
             * (F.col("w").cast("double") / F.col("wsum"))) / F.col("n")
        ).cast("int"),
    )
    return (
        weighted.crossJoin(F.broadcast(totals))
        .select(stratum, "n", rate.alias("rate_pct"))
    )


def temperature_sample(df: DataFrame, key: str, stratum: str,
                       alpha: float = 0.7, budget_frac: float = 0.5,
                       salt: str = "tmix") -> DataFrame:
    """The temperature mix applied: join the (tiny, broadcast) per-
    stratum rate table back and keep rows whose hash bucket clears
    their stratum's rate — deterministic membership, one corpus pass,
    no shuffle of corpus rows (broadcast join + scan-stage filter).
    Returns ``df`` + ``rate_pct`` filtered to the sample."""
    rates = temperature_mix_rates(df, stratum, alpha, budget_frac)
    # null-SAFE equi-join: temperature_mix_rates computes a rate for a
    # NULL stratum group like any other, so null-stratum rows must
    # reach it rather than silently vanish through a null ≠ null join.
    r = F.broadcast(rates.select(F.col(stratum).alias("__stratum"), "rate_pct"))
    return (
        df.join(r, df[stratum].eqNullSafe(r["__stratum"]))
        .drop("__stratum")
        .filter(sample_bucket(F.col(key), salt) < F.col("rate_pct"))
    )


def weighted_sample_tickets(df: DataFrame, key: str, weight_col: str,
                            k: int, salt: str = "wsample",
                            max_weight: int = 64) -> DataFrame:
    """Deterministic weighted sampling without replacement, lottery
    style: each row holds ``weight`` integer tickets; every ticket gets
    an independent uniform hash; a row's sample key is its BEST (max)
    ticket; the sample is the top-``k`` rows by that key. Selection
    probability rises with weight (a row with twice the tickets has
    twice the chance of holding the winning ticket), membership is a
    pure function of (salt, key, weight) — reproducible on any engine,
    any partitioning, like every sampler in this module.

    This is the integer-exact alternative to Efraimidis-Spirakis
    A-Res (keys u^(1/w)): A-Res needs transcendental per-row keys whose
    last-ulp engine differences make cross-engine rank order
    unverifiable; tickets use only hash/compare arithmetic, so the
    oracle match is exact. Trade-off: fan-out = sum(weights) rows into
    the per-row max — bound ``max_weight`` (weights clamp to
    [1, max_weight]) and pre-bucket real-valued weights onto a small
    integer scale (log buckets preserve ratios well enough for corpus
    mixing). Shapes: explode is map-side; per-key max is one
    partial-aggregatable shuffle; top-k is TakeOrderedAndProject."""
    w = F.greatest(F.lit(1), F.least(F.lit(max_weight),
                                     F.col(weight_col).cast("int")))
    tickets = df.select(
        F.col(key), w.alias("__w"),
        F.explode(F.sequence(F.lit(1), w)).alias("__j"),
    )
    h = portable_hash60(F.concat(
        F.lit(salt + "|"), F.col(key).cast("string"),
        F.lit("|"), F.col("__j").cast("string")))
    best = (tickets.withColumn("__h", h)
            .groupBy(key, "__w")
            .agg(F.max("__h").alias("ticket")))
    return (best.orderBy(F.col("ticket").desc(), F.col(key).asc())
            .limit(k)
            .select(F.col(key), F.col("__w").alias("weight"), "ticket"))


def mixture_waterfill(df: DataFrame, stratum: str, weight: Column,
                      budget_tokens: Column | int,
                      tokens_col: str | None = None,
                      text_col: str = "text") -> DataFrame:
    """Capacity-capped mixture solver (X44): the feasibility step every
    data-recipe mix needs that proportional rules skip.  Given target
    mixture WEIGHTS (integer parts per stratum) and a total token
    BUDGET, a stratum's fair share ``w_s/W · B`` can exceed what it
    actually has — the waterfill caps such strata at their full
    capacity and redistributes the excess over the rest, iterated to
    the fixpoint (small sources saturate first, remaining demand
    re-spreads; ``temperature_mix_rates`` caps at 100% but never
    redistributes, so its realized mix silently under-delivers the
    budget — this operator is the exact constrained solver).

    Closed form instead of iteration: sort strata by capacity/weight
    ascending (the saturation order); the capped set is a PREFIX of
    that order, detected by a running AND of the exact integer test
    ``capacity·W_tail ≤ weight·(B − C_prefix)`` (cross-multiplied — no
    division), where ``C_prefix`` is the capacity already granted to
    earlier (more-starved) strata and ``W_tail`` the weight still
    competing.  Uncapped strata then split the residual budget
    proportionally with integer floor division.  All arithmetic is
    BIGINT (capacities to ~10^13 tokens × weight parts to ~10^4 stay
    under 2^63), so the result is bit-identical on any engine — the
    q137 oracle replays it in ANSI SQL.

    The sort key is the 3-dp floor ``capacity·10^3 DIV weight`` with a
    stratum-name tie-break: two strata whose true rationals differ
    only past 3 dp may order either way, but BOTH engines order them
    the same way, so the (documented) rule stays exact cross-engine
    (the ·10^3 headroom keeps per-stratum capacity exact to
    ~4.6·10^15 tokens — two decades past a 100 TB corpus).  Weight-0
    strata sort last (key = max BIGINT), never cap, and get
    allocation 0.

    Shapes at 100 TB: one partial-aggregatable groupBy builds the
    per-stratum capacity table; everything after runs on that
    DIMENSION-sized frame (strata count, not corpus count) as
    broadcast triangle joins — never a global-window single-partition
    funnel of full rows.  Returns one row per stratum: weight,
    capacity_tokens, capped (int 0/1), allocation_tokens; the sum of
    allocations is ≤ budget by at most (#uncapped − 1) flooring
    tokens, and equals min(budget, total capacity) up to that floor.

    ``weight`` is a Column expression over the stratum column (so
    recipes stay declarative: ``F.when(col == 'wiki', 30)...``);
    ``budget_tokens`` a literal or scalar Column; ``tokens_col`` an
    existing per-row count column, else whitespace ``token_count`` of
    ``text_col``."""
    from ..functions import textfns

    toks = (F.col(tokens_col) if tokens_col
            else textfns.token_count(text_col))
    budget = (F.lit(budget_tokens) if isinstance(budget_tokens, int)
              else budget_tokens).cast("long")
    caps = (
        df.groupBy(stratum)
        .agg(F.sum(toks).cast("long").alias("capacity_tokens"))
        .withColumn("weight", weight.cast("long"))
        # negative weights are a recipe bug; clamp to 0 once, up front
        .withColumn("weight", F.greatest("weight", F.lit(0)))
        .withColumn("__budget", budget)
    )
    keyed = caps.withColumn(
        "__key",
        F.when(F.col("weight") <= 0, F.lit(1 << 62)).otherwise(
            F.expr("(capacity_tokens * 1000) DIV weight"))
    ).withColumn(
        # null-safe tie-break surrogate: a NULL stratum (groupBy keeps
        # the null group, and this module's convention preserves it —
        # the temperature_sample eqNullSafe precedent) would otherwise
        # evaluate the triangle-join predicate to NULL and silently
        # vanish while still inflating total_w (review catch). The
        # "1"-prefix keeps real values' order; NULL sorts first as "0".
        "__s",
        F.when(F.col(stratum).isNull(), F.lit("0")).otherwise(
            F.concat(F.lit("1"), F.col(stratum).cast("string"))))

    # Prefix/suffix sums WITHOUT a global window: an unpartitioned
    # Window.orderBy plans an Exchange SinglePartition of full rows —
    # exactly what the fleet plan audit (tests/test_plans.py) forbids,
    # and the audit can't see that this frame is dimension-sized.  The
    # honest scale-clean form is the broadcast TRIANGLE join: every
    # stage below is |strata|² rows through broadcast non-equi joins +
    # partial-aggregatable groupBys — trivial at dozens-to-thousands
    # of strata, and never a full-row single-partition funnel.
    def _b(cols: dict[str, str]) -> DataFrame:
        return F.broadcast(keyed.select(
            *[F.col(src).alias(dst) for src, dst in cols.items()]))

    before_eq = (F.col("__bk") < F.col("__key")) | (
        (F.col("__bk") == F.col("__key"))
        & (F.col("__bs") <= F.col("__s")))
    grp = [stratum, "capacity_tokens", "weight", "__budget", "__key",
           "__s"]
    pref = (
        keyed.join(_b({"__s": "__bs", "__key": "__bk",
                       "capacity_tokens": "__bc", "weight": "__bw"}),
                   before_eq)
        .groupBy(*grp)
        .agg(F.sum("__bc").cast("long").alias("__c_incl"),
             F.sum("__bw").cast("long").alias("__w_incl"))
    )
    totals = F.broadcast(
        keyed.agg(F.sum("weight").cast("long").alias("__total_w")))
    conded = (
        pref.crossJoin(totals)
        .withColumn("__c_prefix", F.col("__c_incl")
                    - F.col("capacity_tokens"))
        .withColumn("__w_tail", F.col("__total_w")
                    - F.col("__w_incl") + F.col("weight"))
        # weight > 0 guard: a weight-0 stratum sorts last with
        # w_tail = 0, so its bare test is the vacuous 0 ≤ 0 — without
        # the guard it would "cap" (and receive its full capacity!)
        # whenever every weighted stratum capped before it
        .withColumn("__cond",
                    ((F.col("weight") > 0)
                     & ((F.col("capacity_tokens") * F.col("__w_tail"))
                        <= (F.col("weight")
                            * (F.col("__budget") - F.col("__c_prefix")))))
                    .cast("int"))
    )
    # running AND over the saturation order = min of every
    # before-or-equal row's cond — the second triangle join
    cond_b = F.broadcast(conded.select(
        F.col("__s").alias("__bs"), F.col("__key").alias("__bk"),
        F.col("__cond").alias("__bcond")))
    capped = (
        conded.join(cond_b, before_eq)
        .groupBy(*grp, "__cond")
        .agg(F.min("__bcond").alias("capped"))
    )
    fin = F.broadcast(capped.agg(
        F.coalesce(F.sum(F.when(F.col("capped") == 1,
                                F.col("capacity_tokens"))),
                   F.lit(0)).cast("long").alias("__c_capped"),
        F.coalesce(F.sum(F.when(F.col("capped") == 0, F.col("weight"))),
                   F.lit(0)).cast("long").alias("__w_final")))
    out = (
        capped.crossJoin(fin)
        .withColumn("__r_final", F.col("__budget") - F.col("__c_capped"))
        .withColumn(
            "allocation_tokens",
            F.when(F.col("capped") == 1, F.col("capacity_tokens"))
            .when(F.col("__w_final") <= 0, F.lit(0).cast("long"))
            .otherwise(F.expr(
                "(weight * __r_final) DIV __w_final")).cast("long"))
    )
    return out.select(stratum, "weight", "capacity_tokens", "capped",
                      "allocation_tokens")


def waterfill_sample(df: DataFrame, stratum: str, key: str, weight: Column,
                     budget_tokens: Column | int,
                     tokens_col: str | None = None,
                     text_col: str = "text",
                     salt: str = "wfill",
                     prethin_margin: float | None = None) -> DataFrame:
    """The waterfill APPLIED (X44's consumer tier): turn
    :func:`mixture_waterfill`'s per-stratum token allocations into an
    actual deterministic sample — within each stratum, rows are taken
    in hash order (``portable_hash60(salt|key)``, key tie-break) while
    the running token total stays within the allocation.  Greedy
    prefix: a row is kept iff its INCLUSIVE cumulative token count ≤
    the stratum's allocation, so the realized take undershoots each
    allocation by at most one document — the budget-exact sampler the
    rate-based members of this module (``temperature_sample``,
    ``hash_sample``) only approximate in expectation.

    Hash-order determinism means the kept set is a pure function of
    (salt, the stratum's full key set, allocation): re-runs, engines,
    and partitionings all agree (the q139 oracle replays the rule in
    SQL).  Unlike the per-row rate samplers, appends are NOT
    churn-free: an appended doc whose hash lands inside the kept
    prefix consumes budget ahead of existing docs and can push the
    TAIL of the kept set over the allocation (docs with hashes below
    every appended hash are never evicted — churn is confined to the
    budget boundary).  If a release must pin membership across corpus
    growth, persist the kept ids (the release-manifest pattern)
    rather than re-deriving.

    Scale note: the cumulative sum is a per-stratum sorted window —
    parallelism = strata count in that stage.  At 100 TB with few
    strata, set ``prethin_margin`` (e.g. ``0.5``): rows whose hash
    PERCENTILE exceeds ``(1 + margin) * allocation / capacity`` are
    dropped map-side BEFORE the window, so the sorted cumsum runs on
    ~the allocation-sized head of each stratum instead of the whole
    corpus.  The trim rule is unchanged — it only sees fewer rows —
    and the kept set is provably identical whenever the greedy
    boundary lands inside the surviving head, which the operator
    VERIFIES: any thinned stratum whose survivors were ALL kept (the
    boundary may lie beyond the cut) raises RuntimeError rather than
    silently undershooting — rerun with a larger margin or without
    pre-thinning.  Hash percentile is independent of token counts, so
    the boundary sits near percentile allocation/capacity and a 50%
    margin is far outside same-scale fluctuation at production row
    counts.  Pre-thin mode is EAGER twice (strata-sized collects: the
    allocation table, and the survivors' per-stratum token sums for
    the check) — the cost is one extra narrow-column scan, traded for
    the sorted window running on the allocation-sized head; worth it
    when the sort/spill dominates (production), not at local test
    sizes.  Returns the KEPT rows as (stratum, key, n_tok,
    cum_tokens, allocation_tokens)."""
    from pyspark.sql import Window

    from ..functions import textfns

    toks = (F.col(tokens_col) if tokens_col
            else textfns.token_count(text_col))
    alloc = mixture_waterfill(df, stratum, weight, budget_tokens,
                              tokens_col=tokens_col, text_col=text_col)
    h = portable_hash60(F.concat(F.lit(salt + "|"),
                                 F.col(key).cast("string")))
    w = (Window.partitionBy(stratum)
         .orderBy(F.col("__h"), F.col(key))
         .rowsBetween(Window.unboundedPreceding, 0))
    if prethin_margin is None:
        rows = (
            df.select(F.col(stratum), F.col(key),
                      toks.cast("long").alias("n_tok"))
            .withColumn("__h", h)
            .withColumn("cum_tokens", F.sum("n_tok").over(w).cast("long"))
        )
        # null-SAFE equi-join (the temperature_sample precedent): the
        # waterfill computes an allocation for a NULL stratum like any
        # other, so null-stratum rows must reach it
        a = F.broadcast(alloc.select(F.col(stratum).alias("__astratum"),
                                     "allocation_tokens"))
        return (
            rows.join(a, rows[stratum].eqNullSafe(a["__astratum"]))
            .where(F.col("cum_tokens") <= F.col("allocation_tokens"))
            .select(stratum, key, "n_tok", "cum_tokens",
                    "allocation_tokens")
        )
    if prethin_margin < 0:
        raise ValueError("prethin_margin must be >= 0")
    # pre-thin path.  The allocation table is strata-sized, so collect
    # it ONCE and re-broadcast a literal frame: left lazy it would be
    # a corpus-wide groupBy subplan recomputed by the survivor join,
    # the shortfall check AND the returned plan (three extra scans,
    # measured — the local x100 probe halved on this change).
    spark = df.sparkSession
    alloc_rows = alloc.collect()  # ≤ strata rows
    # allocation-0 strata are NOT thinned (rate 1.0): their rate would
    # floor to 0, dropping every row — but the exact rule still keeps
    # a leading run of zero-token docs (cum 0 <= 0), so thinning would
    # silently diverge, and the shortfall guard would reject 0 <= 0
    # unconditionally (no margin could ever fix it — review catch).
    # They cost nothing downstream: the window input for an alloc-0
    # stratum is its own rows, and the trim discards all but the
    # zero-token head.
    rates = {
        r[stratum]: (1.0 if r["allocation_tokens"] == 0 else
                     min(1.0, (1.0 + prethin_margin)
                         * r["allocation_tokens"]
                         / max(r["capacity_tokens"], 1)))
        for r in alloc_rows
    }
    stype = alloc.schema[stratum].dataType.simpleString()
    a = F.broadcast(spark.createDataFrame(
        [(r[stratum], r["allocation_tokens"],
          float(rates[r[stratum]])) for r in alloc_rows],
        schema=f"__astratum {stype}, allocation_tokens bigint, "
               f"__rate double"))
    base = (df.select(F.col(stratum), F.col(key),
                      toks.cast("long").alias("n_tok"))
            .withColumn("__h", h))
    survivors = (base.join(a, base[stratum].eqNullSafe(a["__astratum"]))
                 .where(F.col("__h").cast("double")
                        < F.col("__rate") * float(1 << 60)))
    # shortfall check (one narrow-column aggregate pass — no text, no
    # window): a THINNED stratum whose surviving token total fits
    # entirely inside its allocation would keep EVERY survivor, so the
    # greedy boundary may lie beyond the hash cutoff — refuse loudly
    # rather than silently undershoot.  Strata thinned to ZERO
    # survivors are caught too (missing from the rollup -> sum 0).
    surv_tok = {r[0]: r[1] for r in
                survivors.groupBy(stratum)
                .agg(F.sum("n_tok")).collect()}  # ≤ strata rows
    short = [r[stratum] for r in alloc_rows
             if r["capacity_tokens"] > 0 and rates[r[stratum]] < 1.0
             and (surv_tok.get(r[stratum]) or 0)
             <= r["allocation_tokens"]]
    if short:
        bad = ", ".join(str(s) for s in short[:3])
        raise RuntimeError(
            f"waterfill_sample pre-thin shortfall in stratum/strata "
            f"[{bad}]: every pre-thin survivor fits the allocation, so "
            f"the greedy boundary may lie beyond the hash cutoff — "
            f"increase prethin_margin (got {prethin_margin}) or run "
            f"without pre-thinning")
    return (survivors
            .withColumn("cum_tokens",
                        F.sum("n_tok").over(w).cast("long"))
            .where(F.col("cum_tokens") <= F.col("allocation_tokens"))
            .select(stratum, key, "n_tok", "cum_tokens",
                    "allocation_tokens"))


def epoch_plan(df: DataFrame, stratum: str, weight: Column,
               budget_tokens: Column | int, max_epochs: int = 4,
               tokens_col: str | None = None,
               text_col: str = "text") -> DataFrame:
    """Multi-epoch mixture plan (X48): the waterfill generalized to
    data recipes that REPEAT under-sized sources instead of capping
    them.  :func:`mixture_waterfill` answers "what can one pass over
    each stratum deliver" — but real pretraining mixes run their
    small high-quality sources for several epochs (Wikipedia/books at
    >1 epoch in the LLaMA / GPT-3 recipes, Touvron et al. 2023
    arXiv:2302.13971 Table 1; Brown et al. 2020 arXiv:2005.14165
    Table 2.2) while the bulk web crawl runs under one.  This solver
    answers the epoch-aware question: with each stratum allowed up to
    ``max_epochs`` full passes, how many tokens does each stratum
    contribute to the budget?

    Reduction, not a new rule: a stratum repeatable ``E`` times with
    base capacity ``C`` is EXACTLY a waterfill stratum of capacity
    ``E·C`` — so the plan calls :func:`mixture_waterfill` on per-row
    token counts scaled by ``max_epochs`` (integer multiply, so the
    scaled capacity is exactly ``E·C`` and every cross-engine
    determinism guarantee of the solver carries over verbatim), then
    splits each allocation into whole passes and a partial pass:
    ``epochs_full = allocation DIV C`` and ``remainder_tokens =
    allocation MOD C``.  ``capped = 1`` now means the stratum hit its
    repetition CEILING (all ``max_epochs`` passes taken); the
    redistribution fixpoint spreads the excess demand over strata
    still below their ceiling, exactly as before.

    Returns one row per stratum: ``weight``, ``capacity_tokens`` (the
    BASE single-pass capacity), ``max_epochs``, ``capped``,
    ``allocation_tokens`` (≤ max_epochs·capacity), ``epochs_full``,
    ``remainder_tokens``.  All BIGINT arithmetic — the q143 oracle
    replays the whole rule in ANSI SQL.  Scale shape identical to the
    waterfill: one corpus-sized partial-aggregatable groupBy, then
    strata-sized broadcast triangle joins."""
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    from ..functions import textfns

    toks = (F.col(tokens_col) if tokens_col
            else textfns.token_count(text_col))
    scaled = df.withColumn(
        "__etoks", toks.cast("long") * F.lit(max_epochs))
    plan = mixture_waterfill(scaled, stratum, weight, budget_tokens,
                             tokens_col="__etoks")
    base = F.col("capacity_tokens")  # scaled E*C below, restored here
    return (
        plan
        .withColumn("capacity_tokens",
                    F.expr(f"capacity_tokens DIV {max_epochs}"))
        .withColumn("max_epochs", F.lit(max_epochs))
        .withColumn(
            "epochs_full",
            F.when(base > 0,
                   F.expr("allocation_tokens DIV capacity_tokens"))
            .otherwise(F.lit(0)).cast("long"))
        .withColumn(
            "remainder_tokens",
            F.when(base > 0,
                   F.expr("allocation_tokens % capacity_tokens"))
            .otherwise(F.lit(0)).cast("long"))
        .select(stratum, "weight", "capacity_tokens", "max_epochs",
                "capped", "allocation_tokens", "epochs_full",
                "remainder_tokens")
    )


def epoch_expand(df: DataFrame, stratum: str, key: str, weight: Column,
                 budget_tokens: Column | int, max_epochs: int = 4,
                 tokens_col: str | None = None, text_col: str = "text",
                 salt: str = "epoch",
                 plan: DataFrame | None = None,
                 prethin_margin: float | None = None) -> DataFrame:
    """:func:`epoch_plan` APPLIED (X48's consumer tier): materialize
    the actual multi-epoch training membership as one row per
    (document, epoch) pair.  Full passes are exact replication —
    every doc of a stratum with ``epochs_full = e`` appears with
    ``epoch`` 0..e−1 — and the PARTIAL pass (epoch ``epochs_full``)
    takes the budget-exact greedy hash prefix of the remainder, the
    :func:`waterfill_sample` rule with the salt namespaced by the
    epoch number (``salt|epochs_full|key``) so the partial pass is an
    INDEPENDENT deterministic permutation, not a prefix of epoch 0's
    order — repeating then truncating with the same order would make
    the partial epoch see exactly the docs it just saw, the worst
    schedule for memorization (training runs reshuffle every epoch
    for the same reason).

    Determinism: membership is a pure function of (salt, stratum key
    sets, the plan) — the q144 oracle replays full-pass expansion AND
    the partial-pass trim in SQL.  Scale: full-pass expansion is a
    map-side explode against the broadcast strata-sized plan (no
    shuffle; output rows ∝ delivered tokens, which is the budget —
    you cannot expand less than you deliver); the partial pass is the
    per-stratum sorted window documented in waterfill_sample.
    ``plan`` accepts a precomputed :func:`epoch_plan` frame (e.g. a
    collected strata-sized literal) so a caller that also reports the
    plan solves it ONCE instead of re-running the corpus groupBy
    inside the expansion.

    ``prethin_margin`` is :func:`waterfill_sample`'s pre-thin fast
    path applied to the PARTIAL pass (the expansion's one per-stratum
    sorted cumsum window — at 100 TB with few strata it serializes a
    stratum per task on corpus-sized input): rows whose hash
    percentile exceeds ``(1 + margin) * remainder / capacity`` are
    dropped map-side before the window, the trim rule itself is
    unchanged, and the kept set is provably identical whenever the
    greedy boundary lands inside the surviving head — VERIFIED per
    stratum: a thinned stratum whose survivors were all kept raises
    RuntimeError (increase the margin or run unthinned) rather than
    silently undershooting the remainder.  Full-pass expansion is
    untouched (it has no window).  Pre-thin mode is EAGER twice
    (strata-sized plan collect + the survivors' per-stratum token
    sums) — worth it when the window sort dominates (production), not
    at local test sizes.
    Returns (stratum, key, n_tok, epoch)."""
    from pyspark.sql import Window

    from ..functions import textfns

    if prethin_margin is not None and prethin_margin < 0:
        raise ValueError("prethin_margin must be >= 0")
    toks = (F.col(tokens_col) if tokens_col
            else textfns.token_count(text_col))
    if plan is None:
        plan = epoch_plan(df, stratum, weight, budget_tokens,
                          max_epochs=max_epochs, tokens_col=tokens_col,
                          text_col=text_col)
    rates: dict | None = None
    plan_rows = None
    if prethin_margin is None:
        p = F.broadcast(plan.select(
            F.col(stratum).alias("__pstratum"), "epochs_full",
            "remainder_tokens"))
    else:
        # the plan is strata-sized: collect ONCE and re-broadcast a
        # literal frame carrying the per-stratum thin rate (the
        # waterfill_sample pre-thin rule — left lazy, the plan's
        # corpus groupBy subplan would recompute under the survivor
        # join, the shortfall check AND the returned plan).  Only
        # remainder>0 strata have a partial pass, so no allocation-0
        # special case arises here (those rows are filtered out by
        # the exact rule before the rate is consulted).
        plan_rows = plan.collect()  # ≤ strata rows
        rates = {
            r[stratum]: min(1.0, (1.0 + prethin_margin)
                            * r["remainder_tokens"]
                            / max(r["capacity_tokens"], 1))
            for r in plan_rows}
        stype = plan.schema[stratum].dataType.simpleString()
        p = F.broadcast(df.sparkSession.createDataFrame(
            [(r[stratum], r["epochs_full"], r["remainder_tokens"],
              float(rates[r[stratum]])) for r in plan_rows],
            schema=f"__pstratum {stype}, epochs_full bigint, "
                   f"remainder_tokens bigint, __rate double"))
    rows = (df.select(F.col(stratum), F.col(key),
                      toks.cast("long").alias("n_tok"))
            .join(p, F.col(stratum).eqNullSafe(F.col("__pstratum"))))
    # full passes: explode 0..epochs_full-1 (guarded — Spark's
    # sequence(0, -1) DESCENDS instead of yielding empty)
    full = (rows.where(F.col("epochs_full") >= 1)
            .select(stratum, key, "n_tok",
                    F.explode(F.sequence(
                        F.lit(0).cast("long"),
                        F.col("epochs_full") - 1)).alias("epoch")))
    # partial pass: greedy prefix of the remainder in per-epoch hash
    # order (waterfill_sample's inclusive-cumsum rule)
    h = portable_hash60(F.concat(
        F.lit(salt + "|"), F.col("epochs_full").cast("string"),
        F.lit("|"), F.col(key).cast("string")))
    w = (Window.partitionBy(stratum)
         .orderBy(F.col("__h"), F.col(key))
         .rowsBetween(Window.unboundedPreceding, 0))
    part_src = (rows.where(F.col("remainder_tokens") > 0)
                .withColumn("__h", h))
    if rates is not None:
        part_src = part_src.where(
            F.col("__h").cast("double")
            < F.col("__rate") * float(1 << 60))
        # shortfall check (one narrow-column aggregate — no text, no
        # window): a thinned stratum whose surviving token total fits
        # entirely inside its remainder would keep EVERY survivor, so
        # the greedy boundary may lie beyond the hash cutoff — refuse
        # loudly rather than silently undershoot.  Strata thinned to
        # ZERO survivors are caught too (missing from the rollup ->
        # sum 0 <= remainder).
        surv_tok = {r[0]: r[1] for r in
                    part_src.groupBy(stratum)
                    .agg(F.sum("n_tok")).collect()}  # ≤ strata rows
        short = [r[stratum] for r in plan_rows
                 if r["remainder_tokens"] > 0
                 and rates[r[stratum]] < 1.0
                 and (surv_tok.get(r[stratum]) or 0)
                 <= r["remainder_tokens"]]
        if short:
            bad = ", ".join(str(s) for s in short[:3])
            raise RuntimeError(
                f"epoch_expand pre-thin shortfall in stratum/strata "
                f"[{bad}]: every pre-thin survivor fits the partial "
                f"pass's remainder, so the greedy boundary may lie "
                f"beyond the hash cutoff — increase prethin_margin "
                f"(got {prethin_margin}) or run without pre-thinning")
    part = (part_src
            .withColumn("__cum", F.sum("n_tok").over(w).cast("long"))
            .where(F.col("__cum") <= F.col("remainder_tokens"))
            .select(stratum, key, "n_tok",
                    F.col("epochs_full").alias("epoch")))
    return full.unionByName(part)
