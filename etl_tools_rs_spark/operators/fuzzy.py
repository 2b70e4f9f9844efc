"""Edit-distance fuzzy join — scalable string similarity under a
Levenshtein budget.

The record-linkage primitive (name/title/address matching) the reference
has no analogue for; its only join is an arbitrary-predicate block-nested
loop (etl-core/src/joins.rs:15-185), which for string similarity means a
full cross product. Two candidate-generation schemes, both from the
public literature, chosen by the ``method`` parameter:

**Deletion neighborhoods** (FastSS, Bocek et al. 2007 / SymSpell — the
``d <= 2`` default): ``ed(a, b) <= d`` implies ``a`` and ``b`` share a
common variant reachable by at most ``d`` character deletions from each
(delete the substituted+deleted positions from ``a`` and the
substituted+inserted positions from ``b`` of an optimal edit script —
both land on the aligned subsequence). Each side emits its ≤d-deletion
variant set (``1 + L`` keys for d=1, ``+ C(L,2)`` for d=2) and
candidates meet in a hash equi-join on the variant string. Because
every key is a near-full-length substring of the row's own value, key
entropy tracks the corpus's total entropy — low-entropy REGIONS
(zero-padded ID prefixes, shared domains in URLs) never form
mega-buckets the way positional segment keys do.

**Segment blocking** (the PassJoin pigeonhole scheme, Li et al., ICDE
2012 — the ``d >= 3`` default, and the right choice for long strings
where the d=2 deletion set's O(L²) keys would dominate shuffle): if
``ed(a, b) <= d`` then, splitting ``b`` into ``d+1`` contiguous
segments, ``a`` must contain at least one segment verbatim (d edits
cannot touch all d+1 segments). Index side emits its ``d+1`` segments
keyed by (segment index, string length, segment text); probe side emits
the substrings that could equal segment ``i`` of a partner of length
``L`` for every feasible ``L`` within ±d and start shift within ±d —
O((d+1)·(2d+1)²) short keys per row. Strings shorter than ``d+1``
cannot be segmented and are routed through a dedicated short-string
bucket.

Either way candidates meet in a plain hash equi-join (content-keyed, so
even same-length corpora spread across the cluster — no length hot
key), and only candidates pay the exact ``levenshtein(a, b, threshold)``
verification (early-exit JVM implementation). Shuffle volume is
O(n·keys-per-row), never O(n²); the pair explosion of a naive
theta-join never materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _seg_bounds(L: Column, i: int, d: int) -> tuple[Column, Column]:
    """Start (0-based) and length of segment ``i`` of a string of length
    ``L`` split into ``d+1`` parts: the first ``d+1-rem`` parts get
    ``base = L div (d+1)`` chars, the last ``rem = L mod (d+1)`` get one
    more — a fixed convention both sides must share."""
    n = d + 1
    base = (L / n).cast("int")
    rem = L % n
    extra = F.greatest(F.lit(i) - (F.lit(n) - rem), F.lit(0))
    start = F.lit(i) * base + extra
    length = base + F.when(F.lit(i) >= (F.lit(n) - rem), F.lit(1)).otherwise(F.lit(0))
    return start, length


def _index_keys(col: Column, d: int) -> Column:
    """Array of (i, L, piece) join keys for the index side: the string's
    own d+1 segments, or the short-bucket key when it can't be split."""
    L = F.length(col)
    segs = []
    for i in range(d + 1):
        start, ln = _seg_bounds(L, i, d)
        segs.append(
            F.struct(
                F.lit(i).alias("i"),
                L.alias("plen"),
                col.substr(start + 1, ln).alias("piece"),
            )
        )
    short = F.array(
        F.struct(F.lit(-1).alias("i"), F.lit(-1).alias("plen"), F.lit("").alias("piece"))
    )
    return F.when(L < d + 1, short).otherwise(F.array(*segs))


def _probe_keys(col: Column, d: int) -> Column:
    """Array of (i, L, piece) join keys for the probe side: for every
    feasible partner length L (own ±d) and segment i, the substrings at
    start shifts within ±d. Distinct-ed before the explode so repeated
    keys (common with small d) don't multiply join rows."""
    L = F.length(col)
    out = []
    for dl in range(-d, d + 1):
        partner = L + dl  # candidate index-side string length
        for i in range(d + 1):
            start, ln = _seg_bounds(partner, i, d)
            for shift in range(-d, d + 1):
                st = start + shift
                valid = (
                    (partner >= d + 1)
                    & (st >= 0)
                    & (ln > 0)
                    & (st + ln <= L)
                )
                out.append(
                    F.when(
                        valid,
                        F.struct(
                            F.lit(i).alias("i"),
                            partner.alias("plen"),
                            col.substr(st + 1, ln).alias("piece"),
                        ),
                    )
                )
    # short-bucket probe: any string within d edits of an unsplittable
    # (< d+1 chars) partner is itself at most 2d long
    out.append(
        F.when(
            L <= 2 * d,
            F.struct(F.lit(-1).alias("i"), F.lit(-1).alias("plen"), F.lit("").alias("piece")),
        )
    )
    arr = F.array(*out)
    return F.array_distinct(F.filter(arr, lambda s: s.isNotNull()))


def _deletion_keys(col: Column, d: int) -> Column:
    """Array of the distinct strings reachable from ``col`` by deleting
    at most ``d`` characters (the FastSS/SymSpell variant set), the
    string itself included. Only d in {1, 2} is supported — beyond that
    the O(L^d) set loses to segment blocking."""
    L = F.length(col)
    empty = F.array().cast("array<string>")
    one = F.when(
        L >= 1,
        F.transform(
            # i = 1-based position to delete
            F.sequence(F.lit(1), L),
            lambda i: F.concat(
                col.substr(F.lit(1), i - 1), col.substr(i + 1, L)
            ),
        ),
    ).otherwise(empty)
    parts = [F.array(col), one]
    if d >= 2:
        two = F.when(
            L >= 2,
            F.flatten(
                F.transform(
                    # delete positions i < j (both 1-based); the outer
                    # range stops at L-1 so the inner sequence is never
                    # descending (Spark's sequence(a, b) counts DOWN when
                    # a > b — an empty range needs the guard, not the API)
                    F.sequence(F.lit(1), L - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, L),
                        lambda j: F.concat(
                            col.substr(F.lit(1), i - 1),
                            col.substr(i + 1, j - i - 1),
                            col.substr(j + 1, L),
                        ),
                    ),
                )
            ),
        ).otherwise(empty)
        parts.append(two)
    return F.array_distinct(F.concat(*parts))


def _lcp_len(mn: Column, mx: Column) -> Column:
    """Length of the common prefix of two strings, as a column. Applied
    to the lexicographic MIN and MAX of a corpus this is the corpus-wide
    longest common prefix (every string sorts between them, so it shares
    at least their agreement; they bound the divergence)."""
    eq = F.zip_with(F.split(mn, ""), F.split(mx, ""), lambda x, y: x == y)
    pos = F.array_position(eq, False)  # 0 when no mismatch found
    return F.when(pos == 0, F.least(F.length(mn), F.length(mx))).otherwise(
        (pos - 1).cast("int")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
    strip_common_prefix: bool = True,
    method: str = "auto",
    max_key_candidates: int | None = None,
    oversize_policy: str = "salt",
    cap_observation=None,
    self_inputs: bool = False,
) -> DataFrame:
    """Inner join of ``left`` × ``right`` on
    ``levenshtein(left_col, right_col) <= max_distance``, plus a
    ``distance`` column. Output columns: all of ``left``'s, all of
    ``right``'s (names must be disjoint), ``distance`` (bigint).

    Materialization: when ``max_key_candidates`` is set, the per-row
    variant-key ARRAYS are consumed twice per side — by the occupancy
    aggregates and by the candidate join — so the tagged pre-explode
    frame of each side is lazily ``localCheckpoint``ed and keys (an
    interpreted O(L) / O(L²) transform per row) generate once per row.
    The frame is input-row-sized, never exploded. Uncapped runs have a
    single consumer per side and do not checkpoint.

    ``method``: ``"deletion"`` (FastSS variant keys), ``"segment"``
    (PassJoin pigeonhole keys), or ``"auto"`` (default) — deletion for
    ``max_distance <= 2``, segment otherwise. Deletion keys are robust
    to low-entropy string REGIONS (zero-padded IDs, shared URL domains)
    that collapse positional segment keys into mega-buckets, at the
    price of O(L) (d=1) / O(L²) (d=2) keys per row — for long-document
    strings at d=2, pass ``method="segment"`` explicitly.

    Candidate generation never compares more than the scheme's theorem
    requires; the exact distance runs only on candidates, with Spark's
    threshold form (early exit, -1 past the budget).

    ``strip_common_prefix`` (default on) keys segments on the suffix
    beyond the corpus-wide longest common prefix. ID-like corpora
    ("Customer#000000042", URLs, SKUs) otherwise degenerate: a shared
    prefix longer than a segment makes that segment IDENTICAL across all
    rows — one mega-bucket, ~n² candidates (observed at bench scale on
    TPC-H customer names). Edit distance is invariant under a shared
    prefix (``lev(Pa, Pb) = lev(a, b)``), so suffix keys are exactly as
    complete; the LCP comes from a 1-row min/max aggregate folded back
    by broadcast — no driver collect, ~zero cost when there is no common
    prefix. Verification always compares the FULL strings.

    Cardinality matches the theta-join definition: duplicate input rows
    each produce their own output pairs (pairs are deduped per input-row
    tag, not by value).

    ``max_key_candidates`` is the adversarial-corpus safety valve (the
    ``max_bucket_size`` analogue from ``dedup_minhash_lsh``): without
    it, a dense near-identical corpus (150k zero-padded IDs) grows
    per-variant-key occupancy with n and the candidate stream goes
    super-linear. With it, any join key whose probe×index occupancy
    product exceeds the cap is either ``"salt"``-split — both sides
    shard by a DETERMINISTIC content hash into ``⌈√(product/cap)⌉``
    shards, so that key's candidates are bounded by ~cap. Salt is a
    SAMPLING degrade: a true pair meets with probability ``Σ_k 1/s_k``
    (capped at 1) over its shared variant keys — a pair differing by
    one substitution at distance budget d shares ``1`` key at d=1 but
    ``O(L)`` keys at d=2, so recall degrades roughly as cap/occupancy
    on mega-buckets and is exactly 1 for keys under the cap. Capped
    pairs ⊆ exact pairs and every emitted distance is exact. The
    alternative is ``"drop"`` (hot keys generate nothing; keep only
    provably-cold-key pairs).
    Content-hash salting cannot split EXACT duplicates (identical
    strings share a shard by construction): run exact dedup first, or
    use ``"drop"``. Default ``None`` keeps the exact no-false-negative
    theorem. Costs two narrow count aggregates on the key stream.

    ``cap_observation`` (r8, ADVICE r6): pass a
    ``pyspark.sql.Observation`` to get INLINE cap metrics from the run
    itself — a CollectMetrics node on the probe branch, zero extra jobs
    (the r7 :func:`capped_key_report` stays the sampled hot-key log; it
    re-executes the key-count stage out of band). After any action on
    the result, ``observation.get`` returns ``salted_key_rows`` /
    ``max_shards_per_side`` / ``probe_key_rows`` (salt policy) or
    ``dropped_key_rows`` / ``probe_key_rows`` (drop policy); a zero
    first metric ⇒ the cap never engaged and the exact theorem held
    (the aggregates are coalesced to literal 0, never NULL — ADVICE r8).
    Each call needs a FRESH Observation (Spark binds one per query).
    Caveat: on an EMPTY input the optimizer's empty-relation propagation
    eliminates the CollectMetrics node itself, so the observation never
    fires and ``observation.get`` raises — guard degenerate empty inputs
    at the caller before reading the metrics.

    ``self_inputs``: caller's promise that ``left`` and ``right`` are
    the SAME single-column relation up to the key column's name
    (:func:`fuzzy_self_pairs` passes its distinct-string table twice).
    With the deletion method (both sides' blocking keys are the same
    function), key generation, row tags, the occupancy aggregate and
    the shard/hot-key derivation then run ONCE on a materialized frame
    and the index side is a column rename of the probe side — the
    per-side duplicates and the lsz⋈rsz occupancy join disappear. Every
    derived value is identical (``_nl == _nr`` so products, shard widths
    and content-hash salts match the two-sided computation), so the
    candidate set and output are unchanged. Inputs that are not
    single-column raise; the segment method (asymmetric probe/index
    keys) falls back to the general shape.
    """
    if max_distance < 1:
        raise ValueError(f"max_distance must be >= 1, got {max_distance!r}")
    if method not in ("auto", "deletion", "segment"):
        raise ValueError(f"unknown method {method!r}")
    if max_key_candidates is not None and max_key_candidates < 1:
        raise ValueError(
            f"max_key_candidates must be >= 1, got {max_key_candidates!r}"
        )
    if oversize_policy not in ("salt", "drop"):
        raise ValueError(
            f"oversize_policy must be salt|drop, got {oversize_policy!r}"
        )
    d = max_distance
    if method == "auto":
        method = "deletion" if d <= 2 else "segment"
    if method == "deletion" and d > 2:
        raise ValueError("method='deletion' supports max_distance <= 2")
    if self_inputs and (
        len(left.columns) != 1 or len(right.columns) != 1
    ):
        raise ValueError(
            "self_inputs requires single-column (key-only) inputs"
        )
    lkey, rkey = F.col(left_col), F.col(right_col)
    if strip_common_prefix:
        # self_inputs: both sides are the same value set, so one side's
        # min/max bound the union's — half the LCP scan (r10, §2.4)
        vals = left.select(lkey.alias("_v"))
        if not self_inputs:
            vals = vals.unionAll(right.select(rkey.alias("_v")))
        st = vals.agg(
            F.min("_v").alias("_mn"), F.max("_v").alias("_mx")
        ).select(_lcp_len(F.col("_mn"), F.col("_mx")).alias("_lcp"))
        # 1-row broadcast attach (scalar BNLJ — the engine's standard
        # stats-fold pattern, explicitly scalar-allowlisted by the scale
        # audit and the plan pin; the CANDIDATE join below stays equi)
        left = left.crossJoin(F.broadcast(st))
        right = right.crossJoin(F.broadcast(st))
        lkey = lkey.substr(F.col("_lcp") + 1, F.length(lkey))
        rkey = rkey.substr(F.col("_lcp") + 1, F.length(rkey))
    # a pair can meet through several segment keys — dedupe to ONE row per
    # input-row pair via per-side row tags, so fully-identical duplicate
    # input rows keep their multiplicity (theta-join cardinality), unlike
    # a whole-row distinct() which would silently collapse them
    if method == "deletion":
        lkeys = _deletion_keys(lkey, d)
        rkeys = _deletion_keys(rkey, d)
    else:
        lkeys = _probe_keys(lkey, d)
        rkeys = _index_keys(rkey, d)
    # self fast path (r10, §2.4 compute-once): when both sides are the
    # SAME single-column relation and both sides' blocking keys are the
    # same function (deletion method), generate keys/tags ONCE on a
    # materialized frame and derive the index side by renaming — the
    # per-side key transform, the per-side occupancy aggregate, and the
    # lsz⋈rsz occupancy join all collapse to one. The shared tags are
    # pinned by the checkpoint before the two branches consume them;
    # every derived value — keys, counts (_nl == _nr), shard
    # width ceil(sqrt(nl²/cap)), content-hash salt — is identical to
    # the two-sided computation on identical inputs, so the candidate
    # set and output are unchanged.
    is_self = self_inputs and method == "deletion"
    if is_self:
        tagged = (
            left.withColumn("_lid", F.monotonically_increasing_id())
            .withColumn("_fkeys", lkeys)
            .localCheckpoint(eager=False)
        )
        ex = tagged.withColumn("_fk", F.explode("_fkeys")).drop("_fkeys")
        probe = ex
        index = None  # derived below (cap handling differs per policy)
    else:
        probe = left.withColumn(
            "_lid", F.monotonically_increasing_id()
        ).withColumn("_fkeys", lkeys)
        index = right.withColumn(
            "_rid", F.monotonically_increasing_id()
        ).withColumn("_fkeys", rkeys)
        if max_key_candidates is not None:
            # keys-once: the occupancy aggregates below and the
            # candidate join both consume the exploded keys; materializing
            # the PRE-explode frame runs the interpreted key transform once
            # per row (and pins the row tags, which lazy recompute would
            # otherwise regenerate per consumer)
            probe = probe.localCheckpoint(eager=False)
            index = index.localCheckpoint(eager=False)
        probe = probe.withColumn("_fk", F.explode("_fkeys")).drop("_fkeys")
        index = index.withColumn("_fk", F.explode("_fkeys")).drop("_fkeys")

    def _as_index(df: DataFrame) -> DataFrame:
        """Self path: the index side is the probe side renamed."""
        out = df.withColumnRenamed("_lid", "_rid")
        if right_col != left_col:
            out = out.withColumnRenamed(left_col, right_col)
        return out

    if is_self and max_key_candidates is not None:
        # ONE occupancy aggregate (probe==index ⇒ _nl==_nr, product=nl²),
        # checkpointed so both branches read it instead of re-aggregating
        sz = (
            ex.groupBy("_fk")
            .agg(F.count(F.lit(1)).alias("_nl"))
            .localCheckpoint(eager=False)
        )
        if oversize_policy == "drop":
            hot = sz.filter(
                F.col("_nl") * F.col("_nl") > max_key_candidates
            ).select("_fk")
            if cap_observation is None:
                probe = ex.join(hot, "_fk", "left_anti")
            else:
                probe = (
                    ex.join(
                        hot.withColumn("_hot", F.lit(True)), "_fk", "left"
                    )
                    .observe(
                        cap_observation,
                        F.coalesce(
                            F.sum(F.when(F.col("_hot"), 1).otherwise(0)),
                            F.lit(0),
                        ).alias("dropped_key_rows"),
                        F.count(F.lit(1)).alias("probe_key_rows"),
                    )
                    .filter(F.col("_hot").isNull())
                    .drop("_hot")
                )
            index = _as_index(ex.join(hot, "_fk", "left_anti"))
        else:
            shards = sz.select(
                "_fk",
                F.ceil(
                    F.sqrt(
                        F.col("_nl") * F.col("_nl") / F.lit(max_key_candidates)
                    )
                )
                .cast("long")
                .alias("_sh"),
            )
            salted = ex.join(shards, "_fk", "left").withColumn(
                "_fk",
                F.struct(
                    F.col("_fk").alias("k"),
                    F.pmod(
                        F.xxhash64(F.col(left_col)),
                        F.greatest(F.coalesce(F.col("_sh"), F.lit(1)), F.lit(1)),
                    ).alias("s"),
                ),
            )
            probe = salted
            if cap_observation is not None:
                probe = probe.observe(
                    cap_observation,
                    F.coalesce(
                        F.sum(F.when(F.col("_sh") >= 2, 1).otherwise(0)),
                        F.lit(0),
                    ).alias("salted_key_rows"),
                    F.coalesce(
                        F.max(F.coalesce(F.col("_sh"), F.lit(1))),
                        F.lit(0),
                    ).alias("max_shards_per_side"),
                    F.count(F.lit(1)).alias("probe_key_rows"),
                )
            probe = probe.drop("_sh")
            index = _as_index(salted.drop("_sh"))
    elif is_self:
        index = _as_index(ex)
    elif max_key_candidates is not None:
        lsz = probe.groupBy("_fk").agg(F.count(F.lit(1)).alias("_nl"))
        rsz = index.groupBy("_fk").agg(F.count(F.lit(1)).alias("_nr"))
        # inner: a key on only one side never generates a candidate, so
        # its rows can keep shard 1 via the left join's null arm below
        kk = lsz.join(rsz, "_fk").select(
            "_fk", (F.col("_nl") * F.col("_nr")).alias("_prod")
        )
        if oversize_policy == "drop":
            hot = kk.filter(F.col("_prod") > max_key_candidates).select("_fk")
            if cap_observation is None:
                probe = probe.join(hot, "_fk", "left_anti")
            else:
                # left-join + null-filter is the anti join with the hot
                # flag kept long enough to count — same shuffle, and the
                # CollectMetrics node rides the existing probe branch
                probe = (
                    probe.join(
                        hot.withColumn("_hot", F.lit(True)), "_fk", "left"
                    )
                    .observe(
                        cap_observation,
                        # coalesce: sum over an EMPTY probe branch is
                        # NULL, which would break callers' `== 0` check
                        # on the documented zero-means-never-engaged
                        # contract (ADVICE r8)
                        F.coalesce(
                            F.sum(F.when(F.col("_hot"), 1).otherwise(0)),
                            F.lit(0),
                        ).alias("dropped_key_rows"),
                        F.count(F.lit(1)).alias("probe_key_rows"),
                    )
                    .filter(F.col("_hot").isNull())
                    .drop("_hot")
                )
            index = index.join(hot, "_fk", "left_anti")
        else:
            # shards = ceil(sqrt(product/cap)) per side bounds that
            # key's candidate product at ~cap; salt is a DETERMINISTIC
            # content hash (never the row tag), so results don't depend
            # on partitioning
            shards = kk.select(
                "_fk",
                F.ceil(
                    F.sqrt(F.col("_prod") / F.lit(max_key_candidates))
                )
                .cast("long")
                .alias("_sh"),
            )
            probe = probe.join(shards, "_fk", "left").withColumn(
                "_fk",
                F.struct(
                    F.col("_fk").alias("k"),
                    F.pmod(
                        F.xxhash64(F.col(left_col)),
                        F.greatest(F.coalesce(F.col("_sh"), F.lit(1)), F.lit(1)),
                    ).alias("s"),
                ),
            )
            if cap_observation is not None:
                # inline cap metric (zero extra jobs): key-rows whose key
                # salt-split, i.e. where recall became sampling-bounded
                probe = probe.observe(
                    cap_observation,
                    # coalesce both aggregates: over an EMPTY probe
                    # branch sum/max are NULL, which would break the
                    # documented zero-means-never-engaged `== 0` check
                    # (ADVICE r8)
                    F.coalesce(
                        F.sum(F.when(F.col("_sh") >= 2, 1).otherwise(0)),
                        F.lit(0),
                    ).alias("salted_key_rows"),
                    F.coalesce(
                        F.max(F.coalesce(F.col("_sh"), F.lit(1))),
                        F.lit(0),
                    ).alias("max_shards_per_side"),
                    F.count(F.lit(1)).alias("probe_key_rows"),
                )
            probe = probe.drop("_sh")
            index = index.join(shards, "_fk", "left").withColumn(
                "_fk",
                F.struct(
                    F.col("_fk").alias("k"),
                    F.pmod(
                        F.xxhash64(F.col(right_col)),
                        F.greatest(F.coalesce(F.col("_sh"), F.lit(1)), F.lit(1)),
                    ).alias("s"),
                ),
            ).drop("_sh")
    # SHUFFLE_HASH, never broadcast (r5): Catalyst's size estimate for
    # the index side predates the key Generate, so it happily broadcasts
    # an exploded frame O(L)× bigger than the table (observed at sf3:
    # an 8.5M-row broadcast, with ALL probe+verify work then riding the
    # file-count-parallel scan stage — 8 tasks on 32 cores). A shuffled
    # hash join costs one narrow key shuffle per side, runs the verify
    # at full shuffle parallelism, and is the only shape that survives a
    # 100 TB left side; no sort (keys are hash-joinable, output unsorted
    # anyway), and AQE's skew split applies to hot keys.
    cand = probe.join(
        index.hint("shuffle_hash"), probe["_fk"] == index["_fk"]
    ).drop("_fk", "_lcp")
    # verify BEFORE deduping (r4): the threshold levenshtein is a cheap
    # row-local filter, the pair-dedup is a shuffle — running the filter
    # first means the shuffle moves only SURVIVING pairs (matches),
    # never the raw candidate stream, which on heavy-collision corpora
    # (ID-like strings) is orders of magnitude larger than the answer.
    dist = F.levenshtein(F.col(left_col), F.col(right_col), d)
    return (
        cand.withColumn("distance", dist.cast("bigint"))
        .filter(F.col("distance") >= 0)
        .dropDuplicates(["_lid", "_rid"])
        .drop("_lid", "_rid")
    )


def fuzzy_self_pairs(
    df: DataFrame, col: str, id_col: str, max_distance: int = 2,
    method: str = "auto",
    max_key_candidates: int | None = None,
    oversize_policy: str = "salt",
    connectivity_only: bool = False,
    cap_observation=None,
) -> DataFrame:
    """All (id_a < id_b) pairs within ``max_distance`` edits — the
    near-duplicate-string view of one table. Returns
    ``(id_a, id_b, distance)``. ``max_key_candidates`` /
    ``oversize_policy`` pass through to :func:`fuzzy_join` (the
    adversarial-corpus candidate cap). The distinct string table feeds
    both :func:`fuzzy_join` sides and its LCP min/max, so it is lazily
    ``localCheckpoint``ed: the corpus scan and distinct shuffle run
    once (one string column over distinct values).

    Exact duplicates are collapsed BEFORE candidate generation (r6):
    blocking, capping, and the levenshtein verify all run on the
    DISTINCT string table, and id pairs are expanded back afterwards
    with plain equi-joins. This is the load-bearing scale property for
    real corpora — web crawls are dup-heavy, and k copies of one string
    otherwise multiply every variant key's occupancy by k and every
    candidate product by k² while content-hash salting provably cannot
    split them (identical strings share a shard by construction; see
    :func:`fuzzy_join`). Collapsed, the candidate stage is bounded by
    the near-dup density of the DISTINCT corpus — exactly what
    ``max_key_candidates`` caps — and duplication only ever costs the
    (answer-bound) expansion joins. Measured on the 30×-replicated
    scale corpus: candidate work constant in the replication factor,
    where the r5 salted form still grew 4.7× for 3× rows.

    ``connectivity_only=True`` (for clustering consumers, e.g.
    :func:`dedup_fuzzy`) emits a reduced edge set with the SAME
    connected components as the full pair set but O(n + distinct
    pairs) rows instead of Θ(Σ k²): within an exact-dup group, a star
    from the group's min id; across near-dup strings, one edge between
    the two groups' min ids. Distances stay exact (0 for star edges,
    the verified distance for anchor edges)."""
    vals = df.select(F.col(id_col).alias("_id"), F.col(col).alias("_s"))
    distinct = vals.select("_s").distinct().localCheckpoint(eager=False)
    dpairs = fuzzy_join(
        distinct.select(F.col("_s").alias("_sa")),
        distinct.select(F.col("_s").alias("_sb")),
        "_sa", "_sb", max_distance, method=method,
        max_key_candidates=max_key_candidates,
        oversize_policy=oversize_policy,
        cap_observation=cap_observation,
        # both sides are the same distinct-string table: keys, tags and
        # occupancy compute once
        self_inputs=True,
    ).filter(F.col("_sa") < F.col("_sb"))  # one row per unordered string pair
    if connectivity_only:
        anchors = vals.groupBy("_s").agg(F.min("_id").alias("_anchor"))
        star = (
            vals.join(anchors, "_s")
            .filter(F.col("_id") != F.col("_anchor"))
            .select(
                F.col("_anchor").alias("id_a"),
                F.col("_id").alias("id_b"),
                F.lit(0).cast("bigint").alias("distance"),
            )
        )
        bridge = (
            dpairs
            .join(anchors.select(F.col("_s").alias("_sa"), F.col("_anchor").alias("_ia")), "_sa")
            .join(anchors.select(F.col("_s").alias("_sb"), F.col("_anchor").alias("_ib")), "_sb")
            .select(
                F.least("_ia", "_ib").alias("id_a"),
                F.greatest("_ia", "_ib").alias("id_b"),
                "distance",
            )
            .filter(F.col("id_a") != F.col("id_b"))
        )
        return bridge.unionByName(star)
    cross = (
        dpairs
        .join(vals.select(F.col("_id").alias("_ia"), F.col("_s").alias("_sa")), "_sa")
        .join(vals.select(F.col("_id").alias("_ib"), F.col("_s").alias("_sb")), "_sb")
        .filter(F.col("_ia") != F.col("_ib"))
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "distance",
        )
    )
    within = (
        vals.alias("x")
        .join(vals.alias("y"), F.col("x._s") == F.col("y._s"))
        .filter(F.col("x._id") < F.col("y._id"))
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            F.lit(0).cast("bigint").alias("distance"),
        )
    )
    return cross.unionByName(within)


def capped_key_report(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
    max_key_candidates: int = 250_000,
    method: str = "auto",
    top_n: int = 20,
) -> DataFrame:
    """Observability for the ``max_key_candidates`` cap (r7): the top-N
    variant keys whose probe×index candidate product EXCEEDS the cap —
    i.e. exactly the keys where :func:`fuzzy_join`'s salt/drop degrade
    engages and recall becomes sampling-bounded. Empty result ⇒ the cap
    never engaged and the exact no-false-negative theorem held.

    Run this as the pre-flight / post-hoc audit for capped fuzzy runs
    (the cap itself stays silent in the hot path — surfacing it inline
    would re-execute the key-count stage). Output: ``(key, n_left,
    n_right, candidate_product, shards_per_side)``.
    """
    if max_key_candidates < 1:
        raise ValueError(
            f"max_key_candidates must be >= 1, got {max_key_candidates!r}"
        )
    d = max_distance
    if method == "auto":
        method = "deletion" if d <= 2 else "segment"
    if method == "deletion":
        lkeys = _deletion_keys(F.col(left_col), d)
        rkeys = _deletion_keys(F.col(right_col), d)
    else:
        lkeys = _probe_keys(F.col(left_col), d)
        rkeys = _index_keys(F.col(right_col), d)
    lsz = (
        left.select(F.explode(lkeys).alias("_fk"))
        .groupBy("_fk").agg(F.count(F.lit(1)).alias("n_left"))
    )
    rsz = (
        right.select(F.explode(rkeys).alias("_fk"))
        .groupBy("_fk").agg(F.count(F.lit(1)).alias("n_right"))
    )
    prod = F.col("n_left") * F.col("n_right")
    return (
        lsz.join(rsz, "_fk")
        .filter(prod > max_key_candidates)
        .select(
            F.col("_fk").alias("key"),
            "n_left",
            "n_right",
            prod.alias("candidate_product"),
            F.ceil(F.sqrt(prod / F.lit(max_key_candidates)))
            .cast("long")
            .alias("shards_per_side"),
        )
        .orderBy(F.col("candidate_product").desc())
        .limit(top_n)
    )


def fuzzy_join_naive(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int,
) -> DataFrame:
    """Cross-join reference implementation (test oracle only — O(n²), the
    plan the blocked form exists to avoid)."""
    dist = F.levenshtein(F.col(left_col), F.col(right_col), max_distance)
    return (
        left.crossJoin(right)
        .withColumn("distance", dist.cast("bigint"))
        .filter(F.col("distance") >= 0)
    )


def dedup_fuzzy(
    df: DataFrame,
    col: str,
    id_col: str,
    max_distance: int = 2,
    max_iterations: int = 20,
    max_key_candidates: int | None = 250_000,
    cap_observation=None,
) -> DataFrame:
    """Edit-distance dedup end to end: segment-blocked pair generation
    (:func:`fuzzy_self_pairs`) → connected components → keep one
    canonical row per cluster (the minimum id). Returns the surviving
    rows plus ``n_merged`` (how many near-duplicates each survivor
    absorbed, 0 for singletons).

    Composition of two already-scalable pieces: pair volume is bounded
    by the pigeonhole blocking, clustering by the pair list (never the
    corpus), and the final keep-filter is an anti-join of cluster
    non-representatives — the corpus shuffles once, on its id.

    Pairs are requested ``connectivity_only`` (r6): connected
    components only need CONNECTIVITY, so exact-dup groups contribute a
    star from their min id (k-1 edges, not C(k,2)) and each near-dup
    string pair one anchor edge. On a dup-heavy corpus this shrinks the
    CC input from Θ(Σ k²) to O(n + distinct pairs) — the sf3 giant
    component that OOM'd the r5 fixpoint (~9M edges from 450k ids)
    collapses to ~450k edges with identical components, survivors, and
    ``n_merged`` counts.

    ``max_key_candidates`` defaults ON (r6): dedup is the operator most
    exposed to adversarial corpora (near-identical boilerplate is WHY
    you dedup), and the uncapped pair stage went super-linear-to-OOM on
    450k zero-padded chained ids at sf3. 250k per-key candidate product
    never engages on healthy corpora (no hot keys → exact theorem
    intact, value-checked by the ``dedup_fuzzy_customers`` oracle) and
    bounds the mega-bucket degrade to documented sampling recall — for
    DEDUP that is the right default, since a dropped pair merely leaves
    both near-dups in the output; pass ``None`` to restore the exact
    no-false-negative guarantee at adversarial-corpus risk.

    BEHAVIOR CHANGE NOTE (r6, for callers upgrading): the default moved
    from ``None`` (exact) to ``250_000``. On hot-key corpora, pairs that
    previously merged can now survive as separate rows. Whether/where
    the cap engaged is observable two ways: pass ``cap_observation``
    (a fresh ``pyspark.sql.Observation``) for inline counts from the
    run itself (r8 — ``salted_key_rows == 0`` ⇒ exact semantics held),
    or run :func:`capped_key_report` on the same inputs for the sampled
    hot-key log (empty report = exact semantics held).
    """
    from etl_tools_rs_spark.operators.dedup import connected_components

    pairs = fuzzy_self_pairs(
        df, col, id_col, max_distance,
        max_key_candidates=max_key_candidates,
        connectivity_only=True,
        cap_observation=cap_observation,
    )
    comp = connected_components(pairs, "id_a", "id_b", max_iterations)
    # component sizes → n_merged for the representative (min id = group id)
    sizes = comp.groupBy("group_id").agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_merged")
    )
    losers = comp.filter(F.col("member_id") != F.col("group_id")).select(
        F.col("member_id").alias(id_col)
    )
    kept = df.join(losers, id_col, "left_anti")
    reps = sizes.select(F.col("group_id").alias(id_col), "n_merged")
    return kept.join(reps, id_col, "left").na.fill({"n_merged": 0})
