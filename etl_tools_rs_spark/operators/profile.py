"""Dataset profiling: per-column statistics in ONE pass over the data.

The data-quality step every large pipeline runs before training: row
counts, null fractions, distinct cardinalities, numeric ranges. All
statistics for all columns are computed in a single wide aggregate —
one scan, no per-column jobs (profiling a 100 TB table with a loop of
``df.select(col).distinct().count()`` is N full scans; this is one).

Exact variant (``profile``) is oracle-checkable; the approximate variant
(``profile_approx``) swaps exact COUNT(DISTINCT) — which shuffles every
distinct value — for HLL estimates that partial-aggregate map-side, the
right trade at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType
from pyspark.sql.window import Window

from etl_tools_rs_spark.session import default_parallelism


def _numeric_cols(df: DataFrame, cols: list[str]) -> set[str]:
    return {
        f.name for f in df.schema.fields
        if f.name in cols and isinstance(f.dataType, NumericType)
    }


def profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact profile: one row per column with
    ``(column, n_rows, n_nonnull, n_distinct, min_num, max_num)`` —
    numeric min/max for numeric columns (NULL otherwise; strings keep
    their cardinality/null stats, their ordering is engine-collation-
    dependent so it stays out of the exact contract).

    Single aggregate over all columns, then an unpivot (stack) of the
    per-column stat structs into rows — the scan happens once.
    """
    cols = cols or df.columns
    num = _numeric_cols(df, cols)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.count(F.col(c)).alias(f"__nn_{i}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{i}"))
        if c in num:
            aggs.append(F.min(F.col(c)).cast("double").alias(f"__mn_{i}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"__mx_{i}"))
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").cast("bigint").alias("n_rows"),
            F.col(f"__nn_{i}").cast("bigint").alias("n_nonnull"),
            F.col(f"__nd_{i}").cast("bigint").alias("n_distinct"),
            (F.col(f"__mn_{i}") if c in num else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"__mx_{i}") if c in num else F.lit(None).cast("double")).alias("max_num"),
        )
        for i, c in enumerate(cols)
    ]
    return wide.select(F.explode(F.array(*structs)).alias("_s")).select("_s.*")


def profile_approx(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Scale-path profile: same shape as ``profile`` but ``n_distinct``
    is an HLL estimate (``approx_count_distinct``). Multiple exact
    COUNT(DISTINCT)s in one aggregate expand into a union of per-distinct
    shuffles of every value; the sketch version partial-aggregates to a
    few KB per column per map task — the difference between profiling a
    100 TB table in one pass and not profiling it at all."""
    cols = cols or df.columns
    num = _numeric_cols(df, cols)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.count(F.col(c)).alias(f"__nn_{i}"))
        aggs.append(F.approx_count_distinct(F.col(c)).alias(f"__nd_{i}"))
        if c in num:
            aggs.append(F.min(F.col(c)).cast("double").alias(f"__mn_{i}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"__mx_{i}"))
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").cast("bigint").alias("n_rows"),
            F.col(f"__nn_{i}").cast("bigint").alias("n_nonnull"),
            F.col(f"__nd_{i}").cast("bigint").alias("n_distinct"),
            (F.col(f"__mn_{i}") if c in num else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"__mx_{i}") if c in num else F.lit(None).cast("double")).alias("max_num"),
        )
        for i, c in enumerate(cols)
    ]
    return wide.select(F.explode(F.array(*structs)).alias("_s")).select("_s.*")


def histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
    by: list[str] | None = None,
) -> DataFrame:
    """Fixed-width histogram of ``col`` over ``[lo, hi)``: returns
    ``(by..., bin, bin_lo, bin_hi, n)`` with EVERY bin present (empty
    bins show ``n = 0``) plus underflow/overflow rows ``bin = -1`` /
    ``bin = n_bins`` so no value is silently dropped. NULLs are
    excluded. With ``by``, one histogram per group (every group gets its
    full bin range).

    One conditional-bin aggregate over one scan (map-side combined; the
    shuffle carries at most ``(n_bins + 2) × groups`` rows), then a join
    against the bin range (× distinct groups when grouped) to
    materialize empty bins — the distributed twin of NumPy's
    ``histogram``, with the bin edge arithmetic (``floor((x - lo) / w)``)
    kept in integer-comparable form so the oracle reproduces it
    bit-for-bit.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins!r}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo!r}, {hi!r})")
    by = by or []
    w = (hi - lo) / n_bins
    c = F.col(col).cast("double")
    bin_ = (
        F.when(c < lo, F.lit(-1))
        .when(c >= hi, F.lit(n_bins))
        .otherwise(F.floor((c - F.lit(lo)) / F.lit(w)).cast("int"))
    )
    counts = (
        df.filter(c.isNotNull())
        .groupBy(*by, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    bins = spark.range(-1, n_bins + 1).select(F.col("id").cast("int").alias("bin"))
    if by:
        frame = df.select(*by).distinct().crossJoin(F.broadcast(bins))
        joined = frame.join(counts, [*by, "bin"], "left")
    else:
        joined = bins.join(counts, "bin", "left")
    return (
        joined
        .select(
            *by,
            "bin",
            F.when(F.col("bin") < 0, F.lit(float("-inf")))
            .otherwise(F.lit(lo) + F.col("bin") * F.lit(w))
            .alias("bin_lo"),
            F.when(F.col("bin") >= n_bins, F.lit(float("inf")))
            .otherwise(F.lit(lo) + (F.col("bin") + 1) * F.lit(w))
            .alias("bin_hi"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
        )
    )


def approx_quantiles_hist(
    df: DataFrame,
    col: str,
    probs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 1024,
    scale: int = 6,
    by: list[str] | None = None,
) -> DataFrame:
    """Deterministic approximate quantiles from a fixed-grid histogram
    CDF with linear interpolation inside the winning bin — error bounded
    by one bin width, independent of data size or partitioning.

    Why not ``approx_percentile``: its GK/KLL-style sketch state depends
    on merge order, so two runs (or two engines) can disagree — useless
    under an exactness gate. A fixed grid is a pure function of the data:
    one conditional-bin aggregate (shuffle = n_bins rows), a tiny
    cumulative window over the bins, one interpolation row per prob.
    Values are clamped to [lo, hi]; out-of-range values count toward the
    edge bins (total mass is preserved). Returns ``(prob, value)``.

    The interpolation arithmetic is floor-scaled so the oracle reproduces
    it bit-for-bit.
    """
    from pyspark.sql.window import Window

    if not probs:
        raise ValueError("need at least one prob")
    if any(p < 0 or p > 1 for p in probs):
        raise ValueError(f"probs must lie in [0, 1]: {probs!r}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo!r}, {hi!r})")
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins!r}")
    by = by or []
    w = (hi - lo) / n_bins
    c = F.col(col).cast("double")
    bin_ = F.least(
        F.greatest(F.floor((c - F.lit(lo)) / F.lit(w)).cast("int"), F.lit(0)),
        F.lit(n_bins - 1),
    )
    counts = (
        df.filter(c.isNotNull())
        .groupBy(*by, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    # windows run over the BINS (groups × n_bins rows — sketch-sized),
    # never the input; with groups the cumulative is per-group parallel
    cw = (
        Window.partitionBy(*by).orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = counts.withColumn("_cum", F.sum("_n").over(cw)).withColumn(
        "_total", F.max("_cum").over(Window.partitionBy(*by))
    )
    spark = df.sparkSession
    pr = spark.createDataFrame([(float(p),) for p in sorted(set(probs))], "prob double")
    # winning bin: first with cum >= ceil(p * total) (nearest-rank)
    target = F.ceil(F.col("prob") * F.col("_total"))
    joined = (
        cdf.crossJoin(F.broadcast(pr))
        .filter(F.col("_cum") >= F.greatest(target, F.lit(1)))
        .groupBy(*by, "prob")
        .agg(
            F.min_by(F.struct("bin", "_n", "_cum", "_total"), F.col("bin")).alias("_b")
        )
        .select(*by, "prob", "_b.*")
    )
    p10 = float(10**scale)
    # linear interpolation: position of the target rank inside the bin
    frac = (
        F.greatest(target, F.lit(1)).cast("double")
        - (F.col("_cum") - F.col("_n")).cast("double")
    ) / F.col("_n").cast("double")
    value = F.floor(
        F.lit(p10) * (F.lit(lo) + (F.col("bin").cast("double") + frac) * F.lit(w))
    ) / F.lit(p10)
    return joined.select(*by, "prob", value.cast("double").alias("value"))


def outliers_mad(
    df: DataFrame,
    col: str,
    by: list[str] | None = None,
    k: float = 3.5,
    scale: int = 4,
) -> DataFrame:
    """Robust per-group outlier detection via median/MAD (the
    mean/stddev-free form that one corrupt value cannot drag): a row is
    an outlier when ``|x - median| / (1.4826 * MAD) > k`` (1.4826 scales
    MAD to sigma-equivalents under normality; k=3.5 is the standard
    robust z cutoff).

    Returns the input rows plus ``mad_score`` (floor-scaled double; NULL
    when the group's MAD is 0 and the value equals the median — in a
    MAD-0 group any deviating value IS an outlier and gets score NULL
    with ``is_outlier`` true) and ``is_outlier``.

    Plan shape: two grouped exact-percentile aggregates (median of x,
    then median of |x - median|) joined back by group key — group-stat
    frames are one row per group so the joins broadcast; rows shuffle
    only if Catalyst can't broadcast (huge group counts). Exact
    interpolated percentiles keep the whole thing deterministic and
    oracle-checkable, unlike sketch-based approx_percentile.
    """
    by = by or []
    c = F.col(col).cast("double")
    med = df.groupBy(*by).agg(F.percentile(c, F.lit(0.5)).alias("_med"))
    with_med = df.join(F.broadcast(med), by) if by else df.crossJoin(F.broadcast(med))
    dev = F.abs(c - F.col("_med"))
    mad = with_med.groupBy(*by).agg(
        F.percentile(dev, F.lit(0.5)).alias("_mad")
    )
    j = with_med.join(F.broadcast(mad), by) if by else with_med.crossJoin(F.broadcast(mad))
    p = float(10**scale)
    denom = F.lit(1.4826) * F.col("_mad")
    raw = dev / F.when(denom > 0, denom)  # NULL when MAD == 0
    score = (F.floor(F.lit(p) * raw) / F.lit(p)).cast("double")
    flag = F.when(
        F.col("_mad") > 0, F.coalesce(score > F.lit(float(k)), F.lit(False))
    ).otherwise(dev > 0)
    return j.select(
        *df.columns, score.alias("mad_score"), flag.alias("is_outlier")
    )


def corr_matrix(
    df: DataFrame,
    cols: list[str],
    input_scale: int = 2,
    scale: int = 9,
    assume_complete: bool = False,
) -> DataFrame:
    """Pairwise Pearson correlation + covariance over numeric columns —
    the feature-redundancy / leakage screen run before training. Output
    is long-form: one row per unordered pair ``(col_a, col_b,
    n bigint, cov double, corr double)`` with ``col_a < col_b``.

    ONE scan, one wide aggregate: every per-column and per-pair moment
    (Σx, Σx², Σxy) accumulates in the same map-side-combined pass —
    profiling k columns costs k(k+1)/2 extra sum slots, never extra
    scans. Moments are exact DECIMAL(18, ``input_scale``) sums (values
    must be representable at that quantization — prices, counts), so
    results are partition/AQE-proof; derived cov/corr are floor-scaled
    to ``scale`` decimals. Zero-variance columns yield NULL corr.

    Population (not sample) covariance: ``cov = Σxy/n − (Σx/n)(Σy/n)``.
    Rows with a NULL in either column of a pair are excluded pair-wise
    (conditional sums), matching SQL ``CORR`` semantics.

    ``assume_complete=True`` declares the columns NULL-free (typical for
    measure columns) and shares per-column moments across pairs —
    ``3k + C(k,2)`` accumulator slots instead of ``6·C(k,2)`` (~2× less
    aggregate CPU at k=4, growing with k). Bit-identical results on
    complete data; ENFORCED by an in-aggregate assert that fails the job
    if any declared column has a NULL, so a wrong declaration can never
    silently mis-state correlations.
    """
    if len(cols) < 2:
        raise ValueError("corr_matrix needs at least two columns")
    p10 = float(10**scale)

    def fl(c: Column) -> Column:
        return F.floor(F.lit(p10) * c) / F.lit(p10)

    dec_t = f"decimal(18,{input_scale})"
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    aggs = []
    if assume_complete:
        # NULL-free columns: the pairwise-conditional sums all equal the
        # unconditional per-column sums, so share them — k·(3 slots) +
        # C(k,2) product slots instead of 6·C(k,2) (36 → 15 decimal
        # accumulators for k=4). Values are bit-identical to the
        # pairwise form on complete data; enforced, not assumed: any
        # NULL in `cols` raises at action time.
        guard = F.count(F.lit(1)) - F.least(
            *[F.count(F.col(c)) for c in cols]
        ) if len(cols) > 1 else F.lit(0)
        aggs.append(
            F.assert_true(
                guard == 0, f"corr_matrix(assume_complete=True): NULLs in {cols}"
            ).alias("_guard")
        )
        aggs.append(F.count(F.lit(1)).cast("double").alias("_n_all"))
        for a in cols:
            d = F.col(a).cast(dec_t)
            aggs.append(F.sum(d).cast("double").alias(f"_s_{a}"))
            aggs.append(F.sum(d * d).cast("double").alias(f"_ss_{a}"))
        for a, b in pairs:
            da, db = F.col(a).cast(dec_t), F.col(b).cast(dec_t)
            aggs.append(F.sum(da * db).cast("double").alias(f"_sab_{a}__{b}"))
    else:
        for a, b in pairs:
            both = F.col(a).isNotNull() & F.col(b).isNotNull()
            da = F.when(both, F.col(a).cast(dec_t))
            db = F.when(both, F.col(b).cast(dec_t))
            tag = f"{a}__{b}"
            aggs += [
                F.count(F.when(both, F.lit(1))).cast("double").alias(f"_n_{tag}"),
                F.sum(da).cast("double").alias(f"_sa_{tag}"),
                F.sum(db).cast("double").alias(f"_sb_{tag}"),
                F.sum(da * da).cast("double").alias(f"_saa_{tag}"),
                F.sum(db * db).cast("double").alias(f"_sbb_{tag}"),
                F.sum(da * db).cast("double").alias(f"_sab_{tag}"),
            ]
    moments = df.agg(*aggs)

    # long-form via ONE explode over the single aggregated row — a
    # unionAll of per-pair projections would re-plan (and re-scan) the
    # aggregate once per branch
    structs = []
    for a, b in pairs:
        tag = f"{a}__{b}"
        if assume_complete:
            # route n through the guard so the optimizer can neither prune
            # nor constant-fold the assert away: assert_true yields NULL
            # when it holds, so `n + coalesce(guard, 0)` is n — but the
            # dependency on _guard is live
            n = F.col("_n_all") + F.coalesce(
                F.col("_guard").cast("double"), F.lit(0.0)
            )
            sa, sb = F.col(f"_s_{a}"), F.col(f"_s_{b}")
            saa, sbb = F.col(f"_ss_{a}"), F.col(f"_ss_{b}")
        else:
            n = F.col(f"_n_{tag}")
            sa, sb = F.col(f"_sa_{tag}"), F.col(f"_sb_{tag}")
            saa, sbb = F.col(f"_saa_{tag}"), F.col(f"_sbb_{tag}")
        sab = F.col(f"_sab_{tag}")
        cov = fl(sab / n - (sa / n) * (sb / n))
        var_a = fl(saa / n - (sa / n) * (sa / n))
        var_b = fl(sbb / n - (sb / n) * (sb / n))
        corr = F.when(
            (n > 0) & (var_a > 0) & (var_b > 0),
            fl(cov / F.sqrt(var_a * var_b)),
        )
        lo, hi = sorted([a, b])
        structs.append(
            F.struct(
                F.lit(lo).alias("col_a"),
                F.lit(hi).alias("col_b"),
                n.cast("bigint").alias("n"),
                F.when(n > 0, cov).alias("cov"),
                corr.alias("corr"),
            )
        )
    return moments.select(F.explode(F.array(*structs)).alias("_p")).select("_p.*")


def cat_association(
    df: DataFrame,
    col_a: str,
    col_b: str,
    scale: int = 9,
) -> DataFrame:
    """Association between two categorical columns: mutual information
    (nats), chi-square statistic, and Cramér's V — the label-leakage /
    feature-redundancy screen for categoricals (the pairing of
    ``corr_matrix`` for discrete data). NULLs in either column are
    excluded (no-information rows).

    One scan: a single ``groupBy(a, b)`` contingency aggregate; the
    marginals, total, and cardinalities are second-level aggregates over
    the (distinct-pairs-sized) cell table, which is checkpointed so the
    base data is never re-scanned. Per-cell MI/chi² terms are
    floor-scaled to ``scale`` decimals and summed as exact
    DECIMAL(38, ``scale``) — partition-order-proof, oracle-checkable.

    Output (1 row): ``(n, r, c, mi, chi2, cramers_v)`` where r/c are
    the observed cardinalities. Degenerate tables (r=1 or c=1) yield
    NULL cramers_v and MI 0.
    """
    p10 = float(10**scale)

    def fl(col: Column) -> Column:
        return F.floor(F.lit(p10) * col) / F.lit(p10)

    dec_t = f"decimal(38,{scale})"
    # marginals/totals/cardinalities all branch off the cell table —
    # materialize it once or the base table re-scans per branch
    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
        .agg(F.count(F.lit(1)).cast("double").alias("_o"))
        .localCheckpoint(eager=False)
    )
    marg_a = cells.groupBy("_a").agg(F.sum("_o").alias("_oa"))
    marg_b = cells.groupBy("_b").agg(F.sum("_o").alias("_ob"))
    totals = cells.agg(
        F.sum("_o").alias("_n"),
        F.count_distinct(F.col("_a")).cast("double").alias("_r"),
        F.count_distinct(F.col("_b")).cast("double").alias("_c"),
    )
    o, oa, ob, n = F.col("_o"), F.col("_oa"), F.col("_ob"), F.col("_n")
    # e = n*p_a*p_b spelled as (oa/n)*(ob/n)*n == oa*(ob/n) — keep ONE
    # operand order so the oracle reproduces the identical doubles
    e = oa * (ob / n)
    mi_term = fl((o / n) * F.log((o / n) / ((oa / n) * (ob / n))))
    chi2_term = fl((o - e) * (o - e) / e)
    per_cell = (
        cells.join(F.broadcast(marg_a), "_a")
        .join(F.broadcast(marg_b), "_b")
        .crossJoin(F.broadcast(totals))
        .select(
            mi_term.cast(dec_t).alias("_mi"),
            chi2_term.cast(dec_t).alias("_chi2"),
            fl(e).cast(dec_t).alias("_e"),
            "_n", "_r", "_c",
        )
    )
    agg = per_cell.groupBy("_n", "_r", "_c").agg(
        F.sum("_mi").alias("_mis"),
        F.sum("_chi2").alias("_chi2s"),
        F.sum("_e").alias("_es"),
    )
    # cells UNOBSERVED in the contingency table (o=0) still contribute
    # (0-e)²/e = e to chi²; since Σe over ALL r×c cells equals n, that
    # missing mass is exactly n − Σ_observed e — no r×c grid needed
    chi2 = fl(
        F.col("_chi2s").cast("double")
        + (F.col("_n") - F.col("_es").cast("double"))
    )
    denom = F.col("_n") * F.least(F.col("_r") - 1, F.col("_c") - 1)
    return agg.select(
        F.col("_n").cast("bigint").alias("n"),
        F.col("_r").cast("bigint").alias("r"),
        F.col("_c").cast("bigint").alias("c"),
        fl(F.col("_mis").cast("double")).alias("mi"),
        chi2.alias("chi2"),
        F.when(denom > 0, fl(F.sqrt(chi2 / denom))).alias("cramers_v"),
    )


def rater_agreement(
    df: DataFrame,
    col_a: str,
    col_b: str,
    by: list[str] | None = None,
    scale: int = 9,
) -> DataFrame:
    """Cohen's kappa between two categorical columns over the same rows —
    agreement beyond chance between two raters/classifiers (a heuristic
    labeler vs. a reference label, two annotation passes, model vs.
    model). The companion of :func:`cat_association`: that one asks "are
    these related", this one asks "do they *agree*" — association is
    high for a classifier that's systematically wrong in a consistent
    way; kappa is not. NULLs in either column are excluded.

    ``kappa = (po − pe) / (1 − pe)`` with observed agreement
    ``po = agree/n`` and chance agreement ``pe = Σ_k na_k·nb_k / n²``.
    All three are ratios of exact integers, so the floor-quantization to
    ``scale`` decimals is EXACT integer floor-division (the
    positive-offset ``div`` pattern from ``embedding_covariance``) —
    bit-identical across engines, partitionings and evaluation orders.

    One corpus scan: a single ``groupBy(by, a, b)`` contingency
    aggregate; marginals, totals and the chance-agreement cross term are
    category-sized second-level aggregates over the (checkpointed) cell
    table. Output: ``(*by, n, agree, po, pe, kappa)`` — one row total,
    or one per ``by`` group (the which-slice-fails diagnostic, same
    pattern as ``ks_statistic_by_group``); kappa is NULL when ``pe = 1``
    (both raters constant in the slice — agreement beyond chance is
    undefined) or ``n = 0``.
    """
    by = list(by or [])
    P = 10**scale
    K = 10**12  # |kappa| <= 1, so any K >= 10**scale makes dividends positive
    dec = "decimal(38,0)"
    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(*by, F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
        .agg(F.count(F.lit(1)).alias("_o"))
        .localCheckpoint(eager=False)
    )
    marg_a = cells.groupBy(*by, "_a").agg(F.sum("_o").cast(dec).alias("_na"))
    marg_b = cells.groupBy(*by, "_b").agg(F.sum("_o").cast(dec).alias("_nb"))
    # Σ_k na_k·nb_k: categories absent from either rater contribute a
    # zero product, so the inner equi-join IS the full sum
    cond = marg_a["_a"] == marg_b["_b"]
    for c in by:
        cond = cond & (marg_a[c].eqNullSafe(marg_b[c]))
    cross = (
        marg_a.join(marg_b, cond)
        .groupBy(*[marg_a[c] for c in by])
        .agg(F.coalesce(F.sum(F.col("_na") * F.col("_nb")), F.lit(0)).cast(dec).alias("_s"))
    )
    tot = cells.groupBy(*by).agg(
        F.coalesce(F.sum("_o"), F.lit(0)).cast(dec).alias("_n"),
        F.coalesce(
            F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_o")).otherwise(F.lit(0)))
            , F.lit(0)
        ).cast(dec).alias("_agree"),
    )
    if by:
        # a slice where the raters share NO category has _s = 0 exactly;
        # join null-safely (like the marginal join above) so a NULL
        # by-key slice still meets its own cross term instead of
        # silently getting _s = 0 / pe = 0
        cond2 = tot[by[0]].eqNullSafe(cross[by[0]])
        for c in by[1:]:
            cond2 = cond2 & tot[c].eqNullSafe(cross[c])
        one = tot.join(cross, cond2, "left").select(
            *[tot[c] for c in by],
            tot["_n"],
            tot["_agree"],
            F.coalesce(cross["_s"], F.lit(0).cast(dec)).alias("_s"),
        )
    else:
        one = tot.crossJoin(F.broadcast(cross))
    po = F.expr(f"CAST((_agree * {P}) div _n AS BIGINT)") / F.lit(float(P))
    pe = F.expr(f"CAST((_s * {P}) div (_n * _n) AS BIGINT)") / F.lit(float(P))
    kappa = (
        F.expr(
            f"CAST(((_agree * _n - _s) * {P} + {K} * (_n * _n - _s))"
            f" div (_n * _n - _s) AS BIGINT) - {K}"
        )
        / F.lit(float(P))
    )
    n_pos = F.col("_n") > 0
    den_pos = (F.col("_n") * F.col("_n") - F.col("_s")) > 0
    return one.select(
        *by,
        F.col("_n").cast("bigint").alias("n"),
        F.col("_agree").cast("bigint").alias("agree"),
        F.when(n_pos, po).cast("double").alias("po"),
        F.when(n_pos, pe).cast("double").alias("pe"),
        F.when(n_pos & den_pos, kappa).cast("double").alias("kappa"),
    )


def linreg(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: list[str] | None = None,
    input_scale: int = 2,
    scale: int = 9,
) -> DataFrame:
    """Per-group ordinary-least-squares line fit — the trend detector
    ("is this metric drifting per key?"): ``slope = cov(x,y)/var(x)``,
    ``intercept = ȳ − slope·x̄``, plus ``r2``. One grouped
    map-side-combined aggregate of exact DECIMAL(18, ``input_scale``)
    moments (both columns must be representable at that quantization);
    derived stats are floor-scaled to ``scale`` — partition/AQE-proof
    and oracle-checkable. Rows with a NULL in either column are
    excluded pair-wise.

    Returns ``(by..., n bigint, slope, intercept, r2)`` — all double;
    zero-variance x (or fewer than 2 points) yields NULL slope; r2 is
    NULL when y is constant.
    """
    by = by or []
    p10 = float(10**scale)

    def fl(c: Column) -> Column:
        return F.floor(F.lit(p10) * c) / F.lit(p10)

    dec_t = f"decimal(18,{input_scale})"
    both = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    dx = F.when(both, F.col(x_col).cast(dec_t))
    dy = F.when(both, F.col(y_col).cast(dec_t))
    agg = df.groupBy(*by).agg(
        F.count(F.when(both, F.lit(1))).cast("double").alias("_n"),
        F.sum(dx).cast("double").alias("_sx"),
        F.sum(dy).cast("double").alias("_sy"),
        F.sum(dx * dx).cast("double").alias("_sxx"),
        F.sum(dy * dy).cast("double").alias("_syy"),
        F.sum(dx * dy).cast("double").alias("_sxy"),
    )
    n = F.col("_n")
    cov = fl(F.col("_sxy") / n - (F.col("_sx") / n) * (F.col("_sy") / n))
    var_x = fl(F.col("_sxx") / n - (F.col("_sx") / n) * (F.col("_sx") / n))
    var_y = fl(F.col("_syy") / n - (F.col("_sy") / n) * (F.col("_sy") / n))
    slope = F.when((n >= 2) & (var_x > 0), fl(cov / var_x))
    intercept = F.when(
        slope.isNotNull(), fl(F.col("_sy") / n - slope * (F.col("_sx") / n))
    )
    r2 = F.when(
        slope.isNotNull() & (var_y > 0), fl((cov * cov) / (var_x * var_y))
    )
    return agg.select(
        *by,
        n.cast("bigint").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def psi(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    smoothing: float = 0.5,
    scale: int = 9,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard "did this feature drift?" monitor (rule of
    thumb: < 0.1 stable, 0.1–0.25 moderate, > 0.25 act):
    ``PSI = Σ_bins (p_b − p_a) · ln(p_b / p_a)`` over a FIXED bin grid
    (the numeric twin of ``token_divergence``; same add-λ smoothing so
    empty bins stay finite).

    One conditional-bin aggregate per side (shuffle = bins+2 rows,
    map-side combined), a bin-key join, totals broadcast back; per-bin
    terms floor-scaled and summed as exact decimals. Out-of-range
    values land in the underflow/overflow bins, so mass is never
    silently dropped — a location shift OUT of the grid still registers.
    Output: one row per bin (``bin, n_a, n_b, p_a, p_b, psi_term``) —
    sum ``psi_term`` for the index, keep the rows for the which-bin-moved
    diagnosis.
    """
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing!r}")
    lam = float(smoothing)
    p10 = float(10**scale)

    def fl(c: Column) -> Column:
        return F.floor(F.lit(p10) * c) / F.lit(p10)

    def side(df: DataFrame, out: str) -> DataFrame:
        h = histogram(df, col, lo, hi, n_bins)
        return h.select("bin", F.col("n").alias(out))

    ha, hb = side(df_a, "n_a"), side(df_b, "n_b")
    j = ha.join(hb, "bin")  # same fixed grid: inner join is total
    tot = j.agg(
        F.sum("n_a").cast("double").alias("_ta"),
        F.sum("n_b").cast("double").alias("_tb"),
    )
    nbins = float(n_bins + 2)  # grid + underflow + overflow
    pa = (F.col("n_a") + F.lit(lam)) / (F.col("_ta") + F.lit(lam * nbins))
    pb = (F.col("n_b") + F.lit(lam)) / (F.col("_tb") + F.lit(lam * nbins))
    return j.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_a",
        "n_b",
        fl(pa).alias("p_a"),
        fl(pb).alias("p_b"),
        fl((pb - pa) * F.log(pb / pa)).alias("psi_term"),
    )


def _two_phase_global_rank(
    df: DataFrame, val_col: str, out_col: str
) -> DataFrame:
    """Global ascending rank (1-based row_number by ``val_col``) WITHOUT
    a global-order window — the two-phase range-bucket form shared with
    ``packing.scalable_cumsum``: approxQuantile boundaries split the
    value domain, row_number runs per bucket in parallel, and the
    driver adds per-bucket count offsets (two sketch-sized collects —
    the documented metadata exception). Ties order arbitrarily within
    their value block, which is exactly the tie-invariance the rank-form
    statistics rely on; equal values always share a bucket, so blocks
    never straddle an offset boundary incorrectly."""
    from etl_tools_rs_spark.operators.packing import _bucket_of

    spark = df.sparkSession
    nb = default_parallelism(spark)
    probs = [i / nb for i in range(1, nb)]
    bounds = (
        sorted(set(df.stat.approxQuantile(val_col, probs, 0.001)))
        if probs
        else []
    )
    bucketed = df.withColumn("__b", _bucket_of(F.col(val_col), bounds))
    w = Window.partitionBy("__b").orderBy(F.col(val_col).asc())
    local = bucketed.withColumn("__lr", F.row_number().over(w))
    counts = {
        r["__b"]: r["__c"]
        for r in bucketed.groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    }
    offsets, acc = [], 0
    for b in range(len(bounds) + 1):
        offsets.append(acc)
        acc += counts.get(b, 0)
    offs = F.array(*[F.lit(o).cast("long") for o in offsets])
    return local.withColumn(
        out_col,
        (
            F.col("__lr").cast("long")
            + F.element_at(offs, F.col("__b").cast("int") + F.lit(1))
        ),
    ).drop("__b", "__lr")


def concentration_profile(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    top_fracs: tuple[float, ...] = (0.01, 0.1),
    scale: int = 6,
) -> DataFrame:
    """Concentration / inequality screen: per group, the Gini
    coefficient of ``value_col`` plus the share held by the top
    ``top_fracs`` fraction of rows — how dominated a training mix is by
    its largest contributors (domains by bytes, users by events, parts
    by revenue). A mix whose top 1% of domains holds 60% of tokens
    usually needs :func:`~etl_tools_rs_spark.operators.sample.cap_per_group`
    or α-tempering before training.

    Gini via the rank form on ascending-sorted values:
    ``G = 2·Σ(i·xᵢ) / (n·Σx) − (n+1)/n`` — one rank window over the
    group + one aggregate, no pairwise |xᵢ−xⱼ| join (that form is
    O(n²)). Top-p share = sum of the top ⌈p·n⌉ values over the total,
    from the same sort (descending rank = n−i+1, reusing the single
    window). NULL and negative values are rejected (Gini is defined for
    non-negative quantities; sentinel negatives would silently corrupt
    shares).

    Output: ``by…, n bigint, total double, gini double,
    top_{frac}_share double…`` — floor-scaled to ``scale``. Grouped: one
    window shuffle on the group key + one grouped aggregate. UNGROUPED
    inputs never see a global-order window (Spark would run it as a
    single partition): the global rank comes from the same two-phase
    range-bucket form as ``scalable_cumsum`` — parallel in-bucket
    row_numbers plus driver-side bucket-count offsets (two sketch-sized
    collects). Deterministic: ties broken by value then rank position
    contribute identically to every term.
    """
    for p in top_fracs:
        if not (0.0 < p <= 1.0):
            raise ValueError(f"top_frac {p!r} outside (0, 1]")
    by = by or []
    p10 = float(10**scale)

    def fl(c: Column) -> Column:
        return F.floor(F.lit(p10) * c) / F.lit(p10)

    v = F.col(value_col).cast("double")
    base = df.select(*by, v.alias("_v"))
    guard = F.assert_true(
        F.col("_v").isNotNull() & (F.col("_v") >= 0),
        f"concentration_profile: NULL or negative {value_col}",
    )
    base = base.select(
        *by, (F.col("_v") + F.coalesce(guard.cast("double"), F.lit(0.0))).alias("_v")
    )
    if by:
        w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(
            F.col("_v").asc()
        )
        ranked = base.withColumn("_i", F.row_number().over(w))
        wn = Window.partitionBy(*[F.col(c) for c in by])
        sized = ranked.withColumn("_gn", F.count(F.lit(1)).over(wn))
    else:
        ranked = _two_phase_global_rank(base, "_v", "_i")
        sized = ranked.crossJoin(
            F.broadcast(base.agg(F.count(F.lit(1)).alias("_gn")))
        )
    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.sum("_v").alias("_tot"),
        F.sum(F.col("_i") * F.col("_v")).alias("_iw"),
    ]
    agg = ranked.groupBy(*by).agg(*aggs)
    # top-p sums need the DESCENDING prefix: row i (ascending) is in the
    # top ceil(p*n) iff i > n - ceil(p*n) — computed per row against the
    # group size (count window on the partition key, or the 1-row
    # broadcast total when ungrouped)
    for j, p in enumerate(top_fracs):
        k = F.ceil(F.lit(float(p)) * F.col("_gn"))
        tops = (
            sized.filter(F.col("_i") > F.col("_gn") - k)
            .groupBy(*by)
            .agg(F.sum("_v").alias(f"_top_{j}"))
        )
        agg = agg.join(tops, by) if by else agg.crossJoin(tops)
    n = F.col("_n").cast("double")
    gini = F.when(
        (F.col("_tot") > 0) & (F.col("_n") > 1),
        fl(
            F.lit(2.0) * F.col("_iw") / (n * F.col("_tot"))
            - (n + 1.0) / n
        ),
    )
    sel = [
        *by,
        F.col("_n").cast("bigint").alias("n"),
        fl(F.col("_tot")).cast("double").alias("total"),
        gini.cast("double").alias("gini"),
    ]
    for j, p in enumerate(top_fracs):
        share = F.when(
            F.col("_tot") > 0, fl(F.col(f"_top_{j}") / F.col("_tot"))
        )
        label = f"top_{str(p).replace('.', '_')}_share"
        sel.append(share.cast("double").alias(label))
    return agg.select(*sel)


def skew_report(
    df: DataFrame,
    keys: list[str],
    top: int = 10,
    scale: int = 6,
) -> DataFrame:
    """Join/shuffle-key skew diagnosis: the ``top`` heaviest key values
    with their row counts and share of the table — the numbers that
    decide between a plain shuffle join, AQE skew handling, and explicit
    salting (``operators/join`` docstrings reference exactly this
    threshold call). A key holding >1/parallelism of the rows is one
    straggler task at 100 TB.

    Exact form: one map-side-combined groupBy(keys) count (shuffle =
    #distinct keys), a 1-row total broadcast back, deterministic top-N
    via TakeOrderedAndProject (count DESC, keys ASC) — no global-order
    window anywhere. For key domains too large even for the count
    shuffle, use ``sketch.heavy_hitters`` (Misra-Gries) — same output
    shape, bounded state.

    Returns ``keys + (cnt bigint, share double)``, share floor-scaled to
    ``scale`` decimals.
    """
    p = float(10**scale)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    total = df.agg(F.count(F.lit(1)).alias("_t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            *keys,
            "cnt",
            (F.floor(F.lit(p) * F.col("cnt") / F.col("_t")) / F.lit(p))
            .cast("double")
            .alias("share"),
        )
        .orderBy(F.col("cnt").desc(), *[F.col(c).asc() for c in keys])
        .limit(top)
    )


def ks_statistic(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    scale: int = 9,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the ``group_a``
    rows and everything else: ``KS = max_x |F_a(x) − F_b(x)|`` over the
    empirical CDFs of ``value_col`` — the nonparametric companion to
    :func:`psi` (PSI needs a bin grid and misses within-bin shifts; KS
    is grid-free and reacts to ANY CDF gap, the standard drift test for
    heavy-tailed features).

    Exact and scalable: per-distinct-value conditional counts (one hash
    aggregate), cumulative counts via the two-phase distributed prefix
    sum (``packing.scalable_cumsum`` — range-bucketed windows, NEVER a
    global-order single-partition window), then the max of the INTEGER
    cross-product gap ``|cum_a·N_b − cum_b·N_a|`` — division happens
    once, on the final row, so no float accumulates across rows.
    Totals fold back as a 1-row broadcast (the engine's scalar-fold
    idiom). Output: one row ``(ks double, n_a, n_b bigint)``.
    """
    from etl_tools_rs_spark.operators.packing import scalable_cumsum_multi

    is_a = F.col(group_col) == F.lit(group_a)
    per_v = df.groupBy(F.col(value_col).alias("_v")).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("_na"),
        F.sum(F.when(is_a, 0).otherwise(1)).alias("_nb"),
    )
    # both running counts share one boundary sample + one offsets pass
    c = scalable_cumsum_multi(per_v, "_v", [("_na", "_ca"), ("_nb", "_cb")])
    tot = per_v.agg(
        F.sum("_na").alias("_ta"), F.sum("_nb").alias("_tb")
    )
    # exact-arithmetic convention: the cross product overflows BIGINT
    # once n_a*n_b > 2^63 (~3e9 rows/side), so widen to decimal(38,0)
    dec = "decimal(38,0)"
    gap = F.abs(
        F.col("_ca").cast(dec) * F.col("_tb").cast(dec)
        - F.col("_cb").cast(dec) * F.col("_ta").cast(dec)
    )
    return (
        c.crossJoin(F.broadcast(tot))  # 1-row scalar fold
        .agg(
            F.max(gap).alias("_g"),
            F.first("_ta").alias("n_a"),
            F.first("_tb").alias("n_b"),
        )
        .select(
            F.round(
                F.col("_g") / (F.col("n_a") * F.col("n_b")).cast("double"),
                scale,
            ).alias("ks"),
            "n_a",
            "n_b",
        )
    )


def ks_statistic_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    split_col: str,
    split_a,
    scale: int = 9,
) -> DataFrame:
    """Per-segment two-sample KS: within each ``group_col`` segment,
    the max CDF gap of ``value_col`` between the ``split_col ==
    split_a`` rows and the rest — the "which slice drifted" companion
    to the global :func:`ks_statistic`. Output: one row per segment
    ``(group, ks, n_a, n_b)``, segments missing either side dropped
    (KS is undefined there).

    Unlike the global form (which needs the two-phase prefix sum), the
    cumsum here partitions by the segment — one shuffle on the group
    key, window input bounded by per-segment distinct values, then a
    segment-keyed aggregate. Same exact-integer gap arithmetic."""
    from pyspark.sql.window import Window

    is_a = F.col(split_col) == F.lit(split_a)
    per_v = df.groupBy(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    ).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("_na"),
        F.sum(F.when(is_a, 0).otherwise(1)).alias("_nb"),
    )
    w = Window.partitionBy("_g").orderBy("_v")
    c = per_v.withColumn("_ca", F.sum("_na").over(w)).withColumn(
        "_cb", F.sum("_nb").over(w)
    )
    tot = per_v.groupBy("_g").agg(
        F.sum("_na").alias("_ta"), F.sum("_nb").alias("_tb")
    )
    dec = "decimal(38,0)"  # same >2^63 overflow guard as ks_statistic
    gap = F.abs(
        F.col("_ca").cast(dec) * F.col("_tb").cast(dec)
        - F.col("_cb").cast(dec) * F.col("_ta").cast(dec)
    )
    return (
        c.join(tot, "_g")
        .groupBy("_g")
        .agg(
            F.max(gap).alias("_gap"),
            F.first("_ta").alias("n_a"),
            F.first("_tb").alias("n_b"),
        )
        .where((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            F.col("_g").alias(group_col),
            F.round(
                F.col("_gap") / (F.col("n_a") * F.col("n_b")).cast("double"),
                scale,
            ).alias("ks"),
            "n_a",
            "n_b",
        )
    )
