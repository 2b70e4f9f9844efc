"""Deduplication operators — exact and near-duplicate, built for 100 TB.

No reference equivalent (extension surface per BASELINE.json). Five
strategies, all shuffle-conscious:

- exact: fingerprint (md5 of normalized text) groupBy — one shuffle on a
  16-byte key; keep min(doc_id) per group.
- minhash_lsh: shingle → portable md5 minhash signature → band buckets →
  self-join within buckets only (candidate pairs ≪ n²) → verify with true
  shingle Jaccard. The classic scalable near-dup pipeline.
- simhash: 64-bit simhash from token hashes; near-dups = equal simhash
  (or banded hamming via rotations).
- ngram_jaccard: exact pairwise Jaccard on token n-grams, blocked by a
  cheap key to avoid n² — the small-data/verification path.
- embedding cosine near-dup lives in operators/similarity.py.

All hashing is md5-based and engine-portable, so signatures are
oracle-checkable bit-for-bit in DuckDB.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, StructField, StructType
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from etl_tools_rs_spark.session import default_parallelism

from etl_tools_rs_spark.functions import fingerprint, ngrams, tokens

# serializes connected_components' session-global constraintPropagation
# toggle across threads sharing one SparkSession (see its docstring)
_CC_FLAG_LOCK = threading.Lock()


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one row per distinct normalized text, keeping the
    smallest id (deterministic winner). Single hash-shuffle on the md5
    fingerprint; map-side partial agg keeps shuffle volume ≈ #distinct."""
    return (
        df.withColumn("_fp", fingerprint(text_col))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("_fp")
    )


def duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate groups: fingerprint → (keeper_id, member_id) pairs
    for groups of size > 1."""
    fp = df.select(F.col(id_col), fingerprint(text_col).alias("_fp"))
    keep = fp.groupBy("_fp").agg(
        F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("group_size")
    )
    return (
        fp.join(keep, "_fp")
        .filter(F.col("group_size") > 1)
        .select("keeper_id", F.col(id_col).alias("member_id"), "group_size")
    )


def shingle_jaccard(a: Column, b: Column) -> Column:
    """True Jaccard over two shingle arrays (verification predicate)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return (inter / F.greatest(union, F.lit(1))).cast("double")


def _xxhash64_injective(gram_rows: DataFrame, g_col: str = "_g") -> bool:
    """ONE aggregate job: is ``xxhash64`` collision-free on every gram in
    ``gram_rows[g_col]``? Equal distinct-gram and distinct-hash counts
    prove gram→hash is a bijection on THIS corpus, so replacing gram
    strings with their 8-byte hashes cannot change any set-cardinality
    arithmetic (intersections, unions, document frequencies) — the
    exactness gate of the hashed-gram narrowing in
    :func:`ngram_jaccard_pairs` and :func:`prefix_jaccard_pairs`.
    Collision probability is ≈ G²/2⁶⁵ for G distinct grams (~5·10⁻⁸ at
    G=10⁶), so the narrow path is taken essentially always; callers fall
    back to string grams when the check fails."""
    r = gram_rows.agg(
        F.countDistinct(F.col(g_col)).alias("_g_cnt"),
        F.countDistinct(F.xxhash64(F.col(g_col))).alias("_h_cnt"),
    ).first()
    return bool(r is not None and r["_g_cnt"] == r["_h_cnt"])


def minhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash_family: str = "md5",
) -> DataFrame:
    """Relational MinHash: one row per doc with columns ``_h0.._h{n-1}``.

    ``hash_family``:
    - ``"md5"`` — md5(seed || ':' || shingle), the minimum hex digest
      per seed (string min ≡ numeric min on fixed-width hex);
      reproducible in any engine with md5: the oracle-checkable form.
    - ``"xxhash64"`` — xxhash64(seed, shingle): native JVM hash, ~an order
      of magnitude cheaper per call than md5 and the min-agg compares
      longs instead of 32-char strings. Same minhash guarantees (any
      uniform hash family works); NOT portable to engines without
      xxhash64, so use it where no cross-engine signature check is needed
      (the default for ``dedup_minhash_lsh``).

    Computed as explode(shingles) → groupBy(id) with ``num_hashes`` MIN
    aggregates. Every hash runs inside whole-stage codegen, and map-side
    partial aggregation collapses each partition to one row per doc before
    the single shuffle on ``id_col`` (a higher-order-function form over
    the shingle array is interpreted per element and ~10x slower per
    row). Docs with zero shingles are dropped (explode of an empty
    array), matching the LSH contract.

    Plan-shape contract (r10, the mhonce-regression lesson): the explode
    MUST stay inline — ``explode(ngrams(text))`` in one select. Routing
    it through a ``select(ngrams(..).alias("_sh"))`` projection first
    makes the generator a plain attribute, which triggers Spark's
    ``InferFiltersFromGenerate`` rule: the inferred
    ``size(_sh) > 0 AND isnotnull(_sh)`` filter is pushed below the
    Project and re-evaluates the whole interpreted ``ngrams`` expression
    TWICE more per row (3x the shingling, each pass linear in the
    document's tokens; 2.6-9x slower on every md5-family consumer at
    sf0.1 when a pass still re-tokenized once per window). Inline
    generator expressions
    are exempt from that rule. Pre-tokenized frames are only safe when
    MATERIALIZED first (localCheckpoint), which is exactly what
    :func:`_minhash_from_shingles` is for.
    """
    return _minhash_signature_agg(
        df.select(
            F.col(id_col),
            F.explode(ngrams(text_col, shingle_n)).alias("_s"),
        ),
        id_col,
        num_hashes,
        hash_family,
    )


def _minhash_from_shingles(
    toks: DataFrame,
    id_col: str,
    sh_col: str,
    num_hashes: int,
    hash_family: str,
) -> DataFrame:
    """:func:`minhash_table` over a PRE-TOKENIZED ``(id, shingle-array)``
    frame — lets :func:`dedup_minhash_lsh` tokenize the corpus once and
    feed both the signature stage and the verify stage from the same
    rows (r9). ONLY for frames whose shingle column is (about to be)
    materialized — e.g. localCheckpoint'ed: over a raw projection the
    inferred size/notnull generate-filter re-runs the interpreted
    ``ngrams`` (one linear pass over the tokens each) twice more per row
    (see :func:`minhash_table`)."""
    return _minhash_signature_agg(
        toks.select(F.col(id_col), F.explode(F.col(sh_col)).alias("_s")),
        id_col,
        num_hashes,
        hash_family,
    )


def _minhash_signature_agg(
    ex: DataFrame,
    id_col: str,
    num_hashes: int,
    hash_family: str,
) -> DataFrame:
    """groupBy(id) num_hashes-way MIN aggregate over exploded shingle
    rows ``(id, _s)`` — the shared tail of the two entry points above."""
    if hash_family == "xxhash64":
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("_s"))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    elif hash_family == "md5":
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("_s")))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    return ex.groupBy(id_col).agg(*aggs)


def _band_bucket(b: int, rows_per_band: int, hash_family: str) -> Column:
    """LSH bucket key of band ``b`` over the signature columns ``_h{i}``
    — the one band key of every MinHash banding site (batch, cross,
    index, stream index). xxhash64 hashes the band's longs directly;
    the md5 family takes md5 of the slice joined with ``'|'``, identical
    to ``md5(concat_ws('|', slice(minhash_sig, b*rpb+1, rpb)))``."""
    cols = [
        F.col(f"_h{i}")
        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
    ]
    if hash_family == "xxhash64":
        return F.xxhash64(*cols)
    return F.md5(F.concat_ws("|", *cols))


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
    oversize_policy: str = "salt",
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    Plan shape (scale-reviewed):
      1. ``minhash_table``: explode shingles → groupBy(id) min-agg — all
         hashes in whole-stage codegen, map-side combine, one shuffle on
         id. Default family is xxhash64 (native longs, ~10x cheaper per
         hash than md5); the verified pair set is identical in
         expectation — only which near-miss candidates LSH happens to
         surface varies with the family, and the exact-Jaccard verify
         filters both the same way. Pass ``hash_family="md5"`` when the
         signature itself must reproduce outside the JVM;
      2. ``bands`` rows/doc, band key = hash of the band's signature slice
         → shuffle on band key (balanced: uniform hash keys);
      3. self-join within band buckets only → candidate pairs;
      4. exact Jaccard verify on shingle arrays, joined back only for the
         deduplicated candidate pairs; distinct pairs.

    At 100 TB: candidate generation is linear in docs; the bucket join's
    skew (a hot bucket of boilerplate docs) is handled by AQE skew-join;
    bucket rows are NARROW (id, band, bucket) — shingle arrays never travel
    through the self-join. Increase num_hashes/bands for tighter
    recall/precision.

    Mega-bucket guard: a bucket of m near-identical boilerplate docs emits
    m²/2 candidate pairs — AQE spreads the join work but cannot shrink the
    output, so one 1M-doc boilerplate cluster means 5·10¹¹ pairs. Set
    ``max_bucket_size`` to bound it: buckets over the cap are either
    ``"salt"``-split into ⌈m/cap⌉ id-hashed sub-buckets (pairs still found
    within each sub-bucket — bounded ~m·cap/2 candidates, partial recall
    across shards; near-identical clusters lose nothing that matters since
    any surviving pair transitively links the cluster for
    connected_components) or ``"drop"``-ped entirely (handle boilerplate
    via exact dedup instead). Costs one extra count-shuffle on the same
    (band, bucket) key. Default None preserves exact uncapped semantics.

    Design note (measured, not guessed): the verify stage reads the same
    shingle frame as the signature stage rather than semi-joining the
    corpus down to candidate docs first — inside ONE lazy plan, a
    semi-filter would embed the candidate-pair subtree a second time and
    Spark re-executes it (no exchange reuse across the union/distinct),
    which costs more than it saves. Pipelines that materialize ``pairs``
    anyway (cache/localCheckpoint, e.g. before connected_components)
    should semi-filter the corpus on candidate ids instead.

    Materialization: the tokenized ``(id, shingles)`` frame is lazily
    ``localCheckpoint``ed (DISK_ONLY) and feeds the signature stage and
    both verify joins, so the interpreted ``ngrams`` runs once per
    document; the narrow ``(id, band, bucket)`` table is checkpointed
    too, so both self-join sides read the same blocks instead of each
    re-running the 16-hash min-aggregate.
    """
    rows_per_band = num_hashes // bands
    # DISK_ONLY: this is the largest frame the codebase checkpoints
    # (corpus-scale shingle arrays) and it feeds 16-hash aggregations
    # downstream — the default MEMORY_AND_DISK deserialized on-heap
    # level is the block class that starved execution memory into OOM
    # on large frames (see connected_components)
    toks = df.select(
        F.col(id_col).alias("_id"), ngrams(text_col, shingle_n).alias("_sh")
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    # safe: _sh is a materialized attribute, so the inferred size/notnull
    # generate-filter costs an array length check, not two extra
    # interpreted ngrams passes (see minhash_table)
    sig = _minhash_from_shingles(toks, "_id", "_sh", num_hashes, hash_family)

    bucket_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _band_bucket(b, rows_per_band, hash_family).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(
        "_id", F.explode(bucket_structs).alias("_bb")
    ).select("_id", F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))

    if max_bucket_size is not None:
        if oversize_policy not in ("salt", "drop"):
            raise ValueError(f"oversize_policy must be salt|drop, got {oversize_policy!r}")
        sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
        banded = banded.join(sizes, ["band", "bucket"])
        if oversize_policy == "drop":
            banded = banded.filter(F.col("_n") <= max_bucket_size).drop("_n")
        else:
            # split oversize buckets into ceil(n/cap) id-hashed shards;
            # rehash (bucket, shard) into one uniform key so the self-join
            # condition below is unchanged
            shards = F.ceil(F.col("_n") / F.lit(max_bucket_size)).cast("long")
            salt = F.pmod(F.xxhash64(F.col("_id")), shards)
            banded = banded.withColumn(
                "bucket", F.xxhash64(F.col("bucket"), salt)
            ).drop("_n")

    # both self-join sides (and, when the cap engages, the sizes
    # aggregate's join-back) read the same materialized narrow rows
    banded = banded.localCheckpoint(eager=False)
    # shuffle_hash pin (r7): the build side sits above the band-struct
    # Generate, so Catalyst's size estimate predates the ×bands fan-out —
    # the exact mis-plan class that broadcast fuzzy_join's 8.5M-row
    # exploded frame at sf3 (r5). Both sides are the corpus-sized band
    # table; a broadcast is never the right plan here at scale, and the
    # shuffled form costs nothing at toy scale (narrow rows, 8 tasks).
    left = banded.alias("l").hint("shuffle_hash")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )

    # verify reads the SAME tokenized frame the signature stage consumed,
    # joined only to the (small) candidate-pair set
    cand = (
        pairs.join(toks.withColumnsRenamed({"_id": "id_a", "_sh": "_sh_a"}), "id_a")
        .join(toks.withColumnsRenamed({"_id": "id_b", "_sh": "_sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            shingle_jaccard(F.col("_sh_a"), F.col("_sh_b")).alias("jaccard"),
        )
    )
    return cand.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def dedup_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """SimHash near-dup groups: docs sharing an identical 60-bit md5
    simhash (:func:`simhash_table_md5`, the oracle-portable signature;
    zero-shingle docs are dropped, so no spurious simhash-0 group forms
    from empty texts). One shuffle on the simhash; for hamming-distance
    ≤ k matching use :func:`simhash_near_dup`."""
    h = simhash_table_md5(df, text_col, id_col, shingle_n)
    return (
        h.groupBy("simhash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("group_size"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("group_size") > 1)
    )


def _gram_blocks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    block_col: Column | None,
) -> DataFrame:
    """``(_id, _ng, _blk)``: each document's distinct n-gram array and
    its block key (``block_col``, default the first token), documents
    without an n-gram dropped — the input of the blocked set-similarity
    self-joins. Lazily ``localCheckpoint``ed, so the interpreted
    ``ngrams()`` runs once per document instead of once per join side."""
    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(ngrams(text_col, n)).alias("_ng"),
            (
                block_col
                if block_col is not None
                else F.element_at(tokens(text_col), 1)
            ).alias("_blk"),
        )
        .filter(F.size("_ng") > 0)
        .localCheckpoint(eager=False)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    block_col: Column | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard similarity above a threshold:
    ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` and the raw (unrounded)
    ratio.

    O(n²) within a block — the verification / small-partition path. Callers
    at scale MUST provide ``block_col`` (e.g. a language or length bucket)
    so the self-join stays within blocks; default blocks on first token,
    which bounds pair counts for natural corpora.

    The self-join ships each gram as its 8-byte ``xxhash64`` instead of
    the string, and the per-pair intersect/union compares longs. Jaccard
    depends only on set cardinalities, which an injective gram→hash map
    preserves; one aggregate job proves injectivity on this corpus
    (:func:`_xxhash64_injective`) and a collision falls back to string
    grams, so the output is the string-gram output. The hashed frame is
    checkpointed, so each gram hashes once."""
    toks = _gram_blocks(df, text_col, id_col, n, block_col)
    if _xxhash64_injective(toks.select(F.explode("_ng").alias("_g"))):
        toks = toks.withColumn(
            "_ng", F.transform("_ng", lambda g: F.xxhash64(g))
        ).localCheckpoint(eager=False)
    a = toks.alias("a")
    b = toks.alias("b")
    return (
        a.join(b, (F.col("a._blk") == F.col("b._blk")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            # raw ratio, not rounded: rounding before the threshold filter
            # shifts boundary pairs, and callers that need display rounding
            # can apply it downstream
            shingle_jaccard(F.col("a._ng"), F.col("b._ng")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): every node connects its strictly
    LARGER neighbors to the minimum of its closed neighborhood."""
    nbrs = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least(F.col("_mv"), F.col("u")).alias("m"))
    )
    return (
        nbrs.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small; every node connects its
    smaller neighbors (and itself) to the minimum among them."""
    oriented = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = mins.select("u", F.col("m").alias("v"))
    return (
        rewired.union(self_edge).filter(F.col("u") != F.col("v")).distinct()
    )


def _cc_union_find(rows: list) -> list:
    """Exact driver-side union-find over collected ``(u, v)`` edge rows:
    returns ``[(member, component_min)]`` for every node that appears in
    any edge — the same (node, min-label) contract as the distributed
    star fixpoint. Path-halving + min-root union keeps it near-linear."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union toward the smaller root: the final root IS the
            # component min (every node enters as its own root)
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return [(x, find(x)) for x in parent]


# connected_components' default driver_max_edges: the driver peak the
# union-find path may add, over its measured cost per distinct edge
# (465-485 B from 10^4 to 10^6 edges, rounded up; see the docstring).
_CC_DRIVER_BYTES_PER_EDGE = 500
_CC_DRIVER_BUDGET_BYTES = 256 * 2**20


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
    driver_max_edges: int = _CC_DRIVER_BUDGET_BYTES // _CC_DRIVER_BYTES_PER_EDGE,
) -> DataFrame:
    """Group near-duplicate pairs into clusters: (member_id, group_id)
    where group_id = min member id of the connected component.

    Alternating large-star/small-star (Kiveris et al., SoCC'14) — the
    MapReduce-native CC algorithm. Unlike plain min-label propagation
    (O(diameter) rounds — a 1,000-node chain needs 1,000 rounds), the
    star operations contract whole subtrees per round and converge in
    O(log²n) rounds worst-case, typically a handful: round-count depends
    on component STRUCTURE, not diameter. Each round is two shuffles on
    node id; localCheckpoint truncates lineage so round N never re-runs
    rounds 1..N-1. Fixpoint detection is exact, never a checksum:
    count-first (both frames are distinct sets, so unequal counts prove
    change with two narrow scans, no shuffle), and a single-direction
    exceptAll decides the equal-count case (|A|=|B| and A\\B=empty imply
    A=B for sets). If the last of ``max_iterations`` rounds still changed
    the edges, it raises ``RuntimeError``: a half-contracted star forest
    would split components.

    Checkpoints are DISK_ONLY (r6 giant-component hardening): with the
    default MEMORY_AND_DISK level, every round's edge frame lands as
    deserialized on-heap blocks in eviction-PROTECTED storage memory
    (``spark.memory.storageFraction``), and on a corpus-spanning dup
    component (450k chained ids → ~9M star edges at sf3) the retained
    rounds starved the fixpoint's hash aggregations into OOM at the 16g
    local default. Iterative frames here are each read back O(1) times —
    exactly the access pattern where paying a disk read to keep the whole
    execution-memory budget for the star aggregations is the right trade.
    Superseded rounds' blocks are bounded by the edge list and freed by
    the ContextCleaner as the driver drops its references.

    At 100 TB: the edge list (not the corpus) bounds the work; the edge
    count never grows beyond the input edge count (proven in the paper),
    and hub-node skew in the groupBy is AQE-handled.

    Scale-adaptive small-graph path (r10, guide §1.2 "the distributed
    algorithm" / §3.1 broadcast reasoning): the edge count is already on
    the driver (it seeds the count-first fixpoint), so when the
    materialized DISTINCT edge list is small — ``driver_max_edges``
    edges — the exact union-find runs driver-side in one pass and the
    labels return as a LOCAL relation. That replaces 4+ shuffles per star round (each a
    fixed-cost 2-job barrier that dominates answer-sized graphs: the CC
    tail of ``dedup_fuzzy_customers`` measured 4.3 s at sf0.1 on a
    few-hundred-edge graph) with one collect, and — because Catalyst
    knows a LocalRelation's size exactly — every downstream
    member/loser/size join becomes a broadcast join instead of a corpus
    shuffle. Output is IDENTICAL (exact min-label components, no
    sampling, no order dependence). Above the threshold the star
    fixpoint runs unchanged — the 100 TB posture does not regress, it
    simply never pays fixpoint overhead on graphs that fit a broadcast.
    ``driver_max_edges=0`` disables the driver path.

    Driver bytes (``tools/cc_driver_probe.py``, local[4], random graph of
    N edges over N nodes): the path adds about 470 B of driver peak RSS
    per distinct edge — +4.5 MB at 10^4 edges (1.7 s), +44 MB at 10^5
    (3.8 s), +134 MB at 3x10^5 (6.5 s), +463 MB at 10^6 (15.4 s). The
    default threshold is a 256 MiB budget at 500 B/edge: 536,870 edges.

    Ids must not be float or double: the driver path orders ids with
    Python's ``<``, which disagrees with Spark's ordering on NaN, so the
    two paths could label a component differently. Such columns raise
    ``ValueError`` before any Spark job runs.
    """
    for c in (a_col, b_col):
        id_t = pairs.schema[c].dataType
        if isinstance(id_t, (FloatType, DoubleType)):
            raise ValueError(
                f"connected_components: id column {c!r} is "
                f"{id_t.simpleString()}; float ids are not supported "
                "(NaN orders differently in Python and Spark)"
            )
    _cp = lambda df: df.localCheckpoint(  # noqa: E731 — one knob, used 3×
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    # Constraint propagation is OFF while the checkpoints are created:
    # Spark's LogicalRDD preserves the origin plan's constraints through
    # a (local)checkpoint, and those constraints reference the ORIGIN
    # plan's attribute ids — when a later round unions the checkpointed
    # frame with a u↔v-swapped projection of itself, Catalyst's
    # UnionBase.rewriteConstraints looks the stale ids up in the child
    # output map and dies with `key not found: v#N` (reproduced on
    # 4.1.2 with any filtered-union edge input, e.g. a spark.range
    # chain+random graph; tests/test_fuzzy.py pins it). Checkpoints
    # created under the disabled flag record no origin constraints, so
    # every downstream plan — including ones optimized after the flag
    # is restored — is safe; the only cost is losing inferred filters
    # inside the star rounds, which carry their filters explicitly.
    # The toggle is SESSION-GLOBAL, so concurrent CC runs on the same
    # session could interleave set/restore and re-expose the crash
    # mid-iteration; _CC_FLAG_LOCK serializes them within this process.
    # Unrelated queries that happen to run on the session while CC holds
    # the flag lose inferred-constraint optimization for that window
    # (never correctness) — callers who need full isolation should run CC
    # on a dedicated spark.newSession().
    spark = pairs.sparkSession
    _FLAG = "spark.sql.constraintPropagation.enabled"
    with _CC_FLAG_LOCK:
        prev = spark.conf.get(_FLAG, "true")
        spark.conf.set(_FLAG, "false")
        try:
            edges = _cp(
                pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
            )

            n0 = edges.count()
            if driver_max_edges and n0 <= driver_max_edges:
                # small-graph path (see docstring): exact union-find on
                # the collected distinct edges; labels come back as a
                # LocalRelation so downstream joins broadcast. The node
                # type is the u/v union coercion, exactly what the
                # distributed members frame would carry.
                node_t = (
                    edges.select(F.col("u").alias("node"))
                    .union(edges.select("v"))
                    .schema[0]
                    .dataType
                )
                labels = _cc_union_find(
                    [(r[0], r[1]) for r in edges.collect()]
                )
                return spark.createDataFrame(
                    labels,
                    StructType(
                        [
                            StructField("member_id", node_t),
                            StructField("group_id", node_t),
                        ]
                    ),
                )

            members = _cp(  # every node that appears in any pair (for labels)
                edges.select(F.col("u").alias("node"))
                .union(edges.select(F.col("v").alias("node")))
                .distinct()
            )

            # count-first fixpoint test (r9): every edge frame here is a
            # DISTINCT set — the initial edges and each _small_star
            # output end in .distinct() — so set algebra makes the exact
            # check cheap: unequal COUNTS prove change with one narrow
            # count of the just-materialized DISK_ONLY checkpoint (the
            # previous round's count is carried driver-side, no second
            # job), and with |A| == |B|, A\B == ∅ ⟺ A == B, so ONE
            # exceptAll direction decides the equal-count case. Same
            # exact break decision as the two-sided multiset test; the
            # per-round shuffle-heavy exceptAll now runs only on rounds
            # whose edge count did not move (typically just the final
            # one).
            prev_n = n0  # the threshold decision's count, reused
            for _ in range(max_iterations):
                edges_next = _cp(_small_star(_large_star(edges)))
                n = edges_next.count()
                if n != prev_n:
                    changed = 1
                else:
                    changed = edges_next.exceptAll(edges).limit(1).count()
                edges = edges_next
                prev_n = n
                if changed == 0:
                    break
            else:
                # the last round still changed: the edges are a
                # half-contracted star forest whose labels would split
                # components, so refuse rather than mislabel
                raise RuntimeError(
                    f"connected_components: no fixpoint after "
                    f"max_iterations={max_iterations} star rounds"
                )
        finally:
            spark.conf.set(_FLAG, prev)

    # fixpoint is a star forest: edges = (member, component-min root)
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("label"))
    return (
        members.join(labels, "node", "left")
        .select(
            F.col("node").alias("member_id"),
            # roots have no outgoing star edge → they label themselves
            F.coalesce(F.col("label"), F.col("node")).alias("group_id"),
        )
    )


def keep_best_per_group(
    df: DataFrame,
    groups: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: given near-dup ``groups``
    (``(member_id, group_id)`` from :func:`connected_components`), keep
    the HIGHEST-``quality_col`` member of each cluster — "keep best",
    the curation policy that beats keep-first/keep-min-id whenever a
    quality signal exists (dup clusters usually mix a clean original
    with mangled/truncated copies). Docs in no group survive untouched.

    Ties break toward the SMALLER id (deterministic, oracle-
    reproducible). Returns ``df``'s surviving rows plus ``n_merged``
    (near-dups the survivor absorbed; 0 for singletons).

    Plan: groups are answer-sized (pair-connected docs only), so every
    stage here is bounded by them — one quality join onto the group
    frame, ONE max-of-struct argmax per group (no window), a broadcast-
    friendly anti-join of losers against the corpus, and the keeper
    join-back. The corpus shuffles once, on its id. The quality-joined
    group frame feeds both the argmax and the loser derivation, so it is
    lazily ``localCheckpoint``ed: the corpus-side quality scan (and the
    ``quality_col`` expression) runs once. It is group-member-sized,
    never corpus-sized.
    """
    q = df.select(
        F.col(id_col).alias("member_id"), F.col(quality_col).alias("_q")
    )
    g = groups.join(q, "member_id").localCheckpoint(eager=False)
    best = g.groupBy("group_id").agg(
        F.max(
            F.struct(
                F.col("_q").alias("q"),
                (-F.col("member_id")).alias("negid"),
            )
        ).alias("_b"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_merged"),
    ).select(
        "group_id",
        (-F.col("_b.negid")).alias("_keeper"),
        "n_merged",
    )
    losers = g.join(
        best, "group_id"
    ).filter(F.col("member_id") != F.col("_keeper")).select(
        F.col("member_id").alias(id_col)
    )
    kept = df.join(losers, id_col, "left_anti")
    reps = best.select(F.col("_keeper").alias(id_col), "n_merged")
    return kept.join(reps, id_col, "left").na.fill({"n_merged": 0})


def simhash_table_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    bits: int = 60,
) -> DataFrame:
    """The engine's SimHash signature: ``(id, simhash)`` with ``bits``
    (≤ 60) bits. Explode shingles → per-shingle hash = the 60-bit md5
    prefix (15 hex chars → bigint) → groupBy(id) with one bit-count sum
    per bit → bit i set when more than half the shingles set it. Every
    op (md5, substring, shift, and) exists identically in any SQL
    engine, so the signatures value-check against the DuckDB oracle.
    Docs with zero shingles are dropped — define their simhash as 0
    upstream if completeness matters."""
    shingled = df.select(
        F.col(id_col), F.explode(ngrams(text_col, shingle_n)).alias("_s")
    )
    hashed = shingled.select(
        id_col,
        F.conv(F.substring(F.md5("_s"), 1, 15), 16, 10).cast("bigint").alias("_h"),
    )
    bit_sums = [
        F.sum(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1))).alias(f"_b{i}")
        for i in range(bits)
    ]
    counted = hashed.groupBy(id_col).agg(F.count("_h").alias("_n"), *bit_sums)
    value = None
    for i in range(bits):
        bit = F.when(
            F.col(f"_b{i}") * 2 > F.col("_n"), F.lit(1 << i).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        value = bit if value is None else value + bit
    return counted.select(F.col(id_col), value.alias("simhash"))


def decontaminate_ngram(
    corpus: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """Cross-dataset decontamination: drop corpus documents sharing at
    least ``min_shared`` distinct token ``n``-grams with ANY blocklist
    document (the benchmark-contamination filter every training pipeline
    runs before eval). Returns the surviving corpus rows.

    Plan shape: blocklist reduces to its DISTINCT gram set (typically ≪
    corpus — eval sets are small); corpus grams join it on the gram string
    (map-side combined counts, AQE turns the gram join broadcast when the
    blocklist fits); contaminated ids anti-join back. Shuffle volume is
    grams, never documents; the corpus text travels nowhere.
    """
    cg = corpus.select(
        F.col(id_col), F.explode(ngrams(text_col, n)).alias("_g")
    ).distinct()
    bg = blocklist.select(
        F.explode(ngrams(text_col, n)).alias("_g")
    ).distinct()
    contaminated = (
        cg.join(bg, "_g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_shared"))
        .filter(F.col("_shared") >= min_shared)
        .select(id_col)
    )
    return corpus.join(contaminated, id_col, "left_anti")


def remove_common_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    delim: str = "\n",
) -> DataFrame:
    """Boilerplate-line removal (the C4-style line-level dedup every web
    corpus runs): drop every line whose trimmed form appears in at least
    ``min_docs`` DISTINCT documents (nav bars, cookie banners, footers),
    keep the rest in original order.

    Returns ``(id_col, text_clean, n_kept, n_removed)``, one row per
    document with at least one non-blank line — documents whose lines are
    ALL boilerplate survive with an empty ``text_clean``. Blank lines are
    always dropped (they count in neither n_kept nor n_removed).

    Plan shape — two shuffles total, both small:
    1. line frequencies: explode → groupBy(trimmed line) countDistinct(id)
       (map-side combined; only lines crossing ``min_docs`` survive into
       the boilerplate set, which is broadcast — boilerplate vocabularies
       are small even at corpus scale);
    2. texts repartition(id) BEFORE the explode; the broadcast anti-join
       preserves that clustering, so the reassembly groupBy(id) is
       partition-local — the per-line rows never shuffle.
    """
    n_part = default_parallelism(df.sparkSession)
    lines = (
        df.repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), delim)).alias("_pos", "_ln"),
        )
        .select(id_col, "_pos", F.trim(F.col("_ln")).alias("_ln"))
        .filter(F.col("_ln") != "")
    )
    common = (
        df.select(
            F.col(id_col), F.explode(F.split(F.col(text_col), delim)).alias("_ln")
        )
        .select(id_col, F.trim(F.col("_ln")).alias("_ln"))
        .filter(F.col("_ln") != "")
        .groupBy("_ln")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_ln")
    )
    kept = lines.join(F.broadcast(common), "_ln", "left_anti")
    stats = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_total"))
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            delim,
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_ln"))),
                lambda s: s["_ln"],
            ),
        ).alias("text_clean"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )
    return (
        stats.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("_n_total") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def simhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    max_hamming: int = 3,
    bits: int = 60,
) -> DataFrame:
    """SimHash near-duplicate PAIRS under a Hamming budget — the banded
    form the plain equal-simhash grouping can't express: by pigeonhole,
    two signatures within Hamming distance ``max_hamming`` agree exactly
    on at least one of ``max_hamming + 1`` bit-bands, so candidate
    generation is an equi-join on (band, band-bits) and only candidates
    pay the exact bit_count(xor) verification.

    Same LSH plan shape as MinHash banding, except the rows through the
    self-join are (id, band, chunk, simhash) — the 8-byte signature rides
    along on both sides so candidates verify bit_count(xor) in place with
    no join back to the signature table (one shuffle saved for one bigint
    of width). Built on the md5 signature (``simhash_table_md5``) so the whole
    pipeline — signatures, banding, Hamming filter — is oracle-portable.
    """
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sig = simhash_table_md5(df, text_col, id_col, shingle_n, bits).select(
        F.col(id_col).alias("_id"), "simhash"
    )
    bands = sig.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_bc"),
    ).select("_id", "simhash", F.col("_bc.band").alias("band"), F.col("_bc.chunk").alias("chunk"))
    # shuffle_hash pin (r7): same broadcast_above_generate defense as
    # dedup_minhash_lsh — the band explode understates the build-side
    # estimate and both sides are corpus-sized
    a, b_ = bands.alias("a").hint("shuffle_hash"), bands.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    block_col: Column | None = None,
    scale: int = 4,
) -> DataFrame:
    """Asymmetric n-gram containment: ``|A ∩ B| / |A|`` — how much of
    document A's shingle set appears in B. The quote/subset detector
    Jaccard misses: a paragraph fully quoted inside a long article has
    LOW Jaccard (the union is huge) but containment ≈ 1. Emits ordered
    (id_a, id_b) pairs BOTH ways when both directions pass — direction
    matters (A-inside-B ≠ B-inside-A).

    Same block-bounded self-join over the same checkpointed gram frame
    as :func:`ngram_jaccard_pairs` (callers at scale supply
    ``block_col``), with string grams: the hashed-gram narrowing measured
    slower here. Containment is floor-scaled so the pair table is
    engine-checkable. Returns ``(id_a, id_b, containment)`` where id_a
    is the contained side.
    """
    toks = _gram_blocks(df, text_col, id_col, n, block_col)
    a = toks.alias("a")
    b = toks.alias("b")
    p10 = float(10**scale)
    inter = F.size(F.array_intersect(F.col("a._ng"), F.col("b._ng")))
    cont = (
        F.floor(
            F.lit(p10) * inter.cast("double") / F.size(F.col("a._ng")).cast("double")
        )
        / F.lit(p10)
    ).cast("double")
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk")) & (F.col("a._id") != F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            cont.alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    scale: int = 6,
    hash_grams: bool = False,
    max_df: int | None = None,
) -> DataFrame:
    """Blockless exact-Jaccard self-join via prefix filtering (the
    AllPairs/PPJoin principle, Bayardo et al. WWW'07; cf. the blocked
    variant ``ngram_jaccard_pairs`` whose caller must supply a block
    key): two docs with Jaccard ≥ t over their distinct shingle sets
    must share a shingle within each one's "prefix" — its
    ``|d| − ⌈t·|d|⌉ + 1`` globally-RAREST shingles — so the self-join
    runs on prefix shingles only and NO blocking key is needed. No
    false negatives; every candidate is verified with the exact
    count-based Jaccard.

    Plan: shingle explode (distinct per doc, checkpointed — ranking,
    prefixes and verification all branch off it), a frequency aggregate,
    one per-doc window ranking shingles by global rarity, the prefix
    equi-join (narrow ``(id, shingle)`` rows), then a count-based
    intersection join per candidate pair. Rare shingles bound candidate
    bucket sizes by construction — the frequent (hot) shingles never
    enter the join, which is exactly what a blocked self-join cannot
    guarantee. Output: ``(id_a, id_b, jaccard double)`` with
    ``id_a < id_b``, floor-scaled to ``scale``.

    ``hash_grams=True`` replaces each shingle string with its xxhash64
    before anything shuffles: the frequency agg, the per-doc ranking,
    the prefix self-join and the verify join all move 8-byte ints
    instead of wide strings. One aggregate job first proves xxhash64
    injective on this corpus's grams (:func:`_xxhash64_injective`) and
    a collision falls back to string grams, so the output equals the
    string-gram output: (a) the prefix-filter theorem holds for ANY
    global total order on grams — rarest-first is a candidate-count
    heuristic, not a correctness requirement — so ordering equal-df
    grams by hash instead of string only changes which CANDIDATES are
    probed, never which pairs pass, and (b) the verify stage recomputes
    the exact count-based Jaccard from the full gram sets, whose
    cardinalities any bijection preserves. ``hash_grams`` requires
    ``max_df=None``: the capped mode's OUTPUT (not just its candidates)
    depends on the gram tie-break order, which hashing changes.

    ``max_df`` is the DENSE-CORPUS SAFETY VALVE: grams whose corpus
    document frequency exceeds it never enter candidate generation
    (they are dropped BEFORE the per-doc prefix ranking, so prefixes
    refill with the next-rarest grams). Candidate volume per gram is
    then ≤ ``max_df²`` by construction — the join cannot go
    super-linear on boilerplate/template-heavy corpora where gram
    frequencies follow no Heaps'-law sparsity. This is a DOCUMENTED
    BOUNDED-RECALL mode: a qualifying pair is missed only when EVERY
    shared gram in both refilled prefixes is hot (df > max_df); every
    pair that IS emitted still carries its exact full-set Jaccard
    (verification is untouched), so capped pairs ⊆ exact pairs with
    exact scores. ``None`` (default) keeps the exact no-false-negative
    AllPairs bound. Size the cap with :func:`prefix_candidate_estimate`
    (the pre-flight) — or route dense corpora to
    :func:`dedup_minhash_lsh`, whose banded buckets are capped anyway.
    """
    from etl_tools_rs_spark.functions import ngrams

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0,1], got {threshold!r}")
    if max_df is not None and max_df < 2:
        raise ValueError(f"max_df must be >= 2 (pairs need df 2), got {max_df!r}")
    if hash_grams and max_df is not None:
        raise ValueError(
            "hash_grams requires max_df=None: the capped mode's output "
            "depends on the gram tie-break order, which hashing changes"
        )
    p10 = float(10**scale)
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(ngrams(text_col, shingle_n))).alias("_g"),
    )
    if hash_grams and _xxhash64_injective(grams):
        grams = grams.select("_id", F.xxhash64("_g").alias("_g"))
    grams = grams.localCheckpoint(eager=False)
    dfc = grams.groupBy("_g").agg(F.count(F.lit(1)).alias("_dfn"))
    sz = grams.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    ranked = grams.join(dfc, "_g")
    if max_df is not None:
        ranked = ranked.filter(F.col("_dfn") <= max_df)
    w = Window.partitionBy("_id").orderBy(F.col("_dfn").asc(), F.col("_g").asc())
    pfx = (
        ranked
        .withColumn("_rn", F.row_number().over(w))
        .join(sz, "_id")
        .filter(
            F.col("_rn")
            <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
        )
        .select("_id", "_g", "_n")
    )
    # length filter (AllPairs): J(x,y) >= t forces t·|x| <= |y| and
    # t·|y| <= |x| — prunes candidates before the expensive verify join,
    # no false negatives
    cand = (
        pfx.select(F.col("_id").alias("id_a"), "_g", F.col("_n").alias("_la"))
        .join(
            pfx.select(
                F.col("_id").alias("id_b"), "_g", F.col("_n").alias("_lb")
            ),
            "_g",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("_lb") >= F.lit(threshold) * F.col("_la"))
            & (F.col("_la") >= F.lit(threshold) * F.col("_lb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # verify via gram-level count intersection: the narrow (id, gram)
    # rows join cheaper than shipping per-doc gram ARRAYS through the
    # candidate joins (measured — the array form was 10% slower even at
    # 50k docs, and arrays only get wider with doc length)
    ta = grams.select(F.col("_id").alias("id_a"), "_g")
    tb = grams.select(F.col("_id").alias("id_b"), "_g")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "_g"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    sa = sz.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sb = sz.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    jac = F.floor(
        F.lit(p10)
        * (F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i")))
    ) / F.lit(p10)
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_candidate_estimate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_df: int | None = None,
    scale: int = 6,
) -> DataFrame:
    """Pre-flight density estimate for :func:`prefix_jaccard_pairs` —
    the EXACT candidate-pair count the prefix self-join would generate,
    computed WITHOUT running it (the :func:`~etl_tools_rs_spark.
    operators.skew.join_size_estimate` idea applied to the prefix
    join): build the per-doc prefixes (the cheap, linear part), count
    prefix occupancy per gram, and fold ``Σ_g c·(c−1)/2``. The blowup
    in the full operator is the candidate join + verify — everything
    here stays linear in corpus grams, so this is safe to run on a
    corpus you would NOT run the exact join on.

    One row out: ``(docs, prefix_grams, est_candidates,
    max_gram_bucket, hot_gram_share)`` — ``est_candidates`` ≥ the
    distinct candidate count (a pair sharing k prefix grams is counted
    k times: a deliberate upper bound, the join's actual probe volume);
    ``hot_gram_share`` is the fraction of est_candidates owed to the
    top-10 heaviest grams (≈1.0 means a handful of boilerplate shingles
    ARE the blowup — exactly when ``max_df`` or
    :func:`dedup_minhash_lsh` is the right route). Pass the same
    ``max_df`` you would give the join to preview the capped volume.
    Rule of thumb: ``est_candidates`` beyond ~100× ``docs`` means set a
    cap or go probabilistic.
    """
    from etl_tools_rs_spark.functions import ngrams

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0,1], got {threshold!r}")
    p10 = float(10**scale)
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(ngrams(text_col, shingle_n))).alias("_g"),
    ).localCheckpoint(eager=False)
    dfc = grams.groupBy("_g").agg(F.count(F.lit(1)).alias("_dfn"))
    sz = grams.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    ranked = grams.join(dfc, "_g")
    if max_df is not None:
        ranked = ranked.filter(F.col("_dfn") <= max_df)
    w = Window.partitionBy("_id").orderBy(F.col("_dfn").asc(), F.col("_g").asc())
    pfx = (
        ranked.withColumn("_rn", F.row_number().over(w))
        .join(sz, "_id")
        .filter(
            F.col("_rn")
            <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
        )
        .select("_id", "_g")
    )
    occ = pfx.groupBy("_g").agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    # c·(c−1) is even, so integer div is exact (never float-rounded)
    per_gram = occ.select(
        "_c", F.expr("_c * (_c - 1) div 2").cast("bigint").alias("_cand")
    )
    topk = (
        per_gram.orderBy(F.col("_cand").desc())
        .limit(10)
        .agg(F.sum("_cand").cast("bigint").alias("_top"))
    )
    docs = df.agg(F.count(F.lit(1)).cast("bigint").alias("docs"))
    return (
        per_gram.agg(
            F.count(F.lit(1)).cast("bigint").alias("prefix_grams"),
            F.coalesce(F.sum("_cand"), F.lit(0)).cast("bigint").alias(
                "est_candidates"
            ),
            F.coalesce(F.max("_c"), F.lit(0)).cast("bigint").alias(
                "max_gram_bucket"
            ),
        )
        .crossJoin(F.broadcast(topk))
        .crossJoin(F.broadcast(docs))
        .select(
            "docs",
            "prefix_grams",
            "est_candidates",
            "max_gram_bucket",
            F.when(
                F.col("est_candidates") > 0,
                F.floor(
                    F.lit(p10) * F.col("_top") / F.col("est_candidates")
                )
                / F.lit(p10),
            )
            .otherwise(F.lit(0.0))
            .cast("double")
            .alias("hot_gram_share"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """Exact repeated-substring spans: for every document, the maximal
    character ranges covered by some length-``k`` substring that also
    appears VERBATIM in at least one OTHER document — the k-gram
    positional approximation of suffix-array substring dedup
    ("Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022): any char covered by a cross-document duplicated k-gram is
    flagged, and overlapping/adjacent coverage intervals merge into
    maximal spans. No false negatives for duplicated substrings of
    length ≥ k; substrings shorter than k are invisible by design.

    Plan: positional k-gram explode (``len(text)`` narrow rows per doc),
    a two-level (gram, doc) → gram aggregate for the cross-doc count
    (never a COUNT DISTINCT expansion), a semi-join back onto positions,
    then per-doc gaps-and-islands over ONLY the duplicated positions
    (window bounded by dup hits per doc, not text length). The single
    big exchange is the gram shuffle, keyed on the k-char gram strings
    (engine-exact and oracle-checkable).

    Output: ``(id, span_start, span_end, span_len)`` with 0-based
    ``[span_start, span_end)`` char offsets, all bigint.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k!r}")
    t = F.col(text_col)
    grams = df.where(F.length(t) >= k).select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.length(t) - k),
                lambda i: t.substr(i + 1, F.lit(k)),
            )
        ).alias("pos", "_g"),
    )
    doc_grams = grams.select("_g", "_id").distinct()
    shared = (
        doc_grams.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_g")
    )
    hits = grams.join(shared, "_g", "left_semi").select("_id", "pos")
    w = Window.partitionBy("_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | (F.col("pos") > F.lag("pos").over(w) + k),
        1,
    ).otherwise(0)
    grp = F.sum("_brk").over(
        Window.partitionBy("_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hits.withColumn("_brk", brk)
        .withColumn("_grp", grp)
        .groupBy("_id", "_grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + k).cast("bigint").alias("span_end"),
        )
        .select(
            F.col("_id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """The actionable form of ``duplicate_spans``: CUT every cross-document
    duplicated span out of the text (the Lee-et-al. exact-substring-dedup
    transform itself, not just the audit). Keeps the complement segments
    in order and re-concatenates them.

    Relational throughout: spans → complement intervals via one lag
    window (spans are disjoint with positive gaps by construction, so
    the complement is just [prev_end, start) per span plus the tail),
    one join back to the text for ``substr`` slicing, and an ordered
    re-assembly via ``array_sort(collect_list(struct(offset, piece)))``
    — deterministic on any partitioning, no Python, no collect.
    Documents without duplicated spans pass through unchanged (left
    join + coalesce).

    Output: ``(id, clean_text, removed_chars bigint)``.
    """
    spans = duplicate_spans(df, text_col, id_col, k=k)
    txt = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    sp = spans.select(
        F.col(id_col).alias("_id"), "span_start", "span_end"
    )
    w = Window.partitionBy("_id").orderBy("span_start")
    seg_before = sp.select(
        "_id",
        F.coalesce(F.lag("span_end").over(w), F.lit(0)).alias("_s"),
        F.col("span_start").alias("_e"),
    )
    tail = (
        sp.groupBy("_id")
        .agg(F.max("span_end").alias("_s"))
        .join(txt, "_id")
        .select("_id", "_s", F.length("_t").cast("bigint").alias("_e"))
    )
    pieces = (
        seg_before.unionByName(tail)
        .join(txt, "_id")
        .select(
            "_id",
            "_s",
            F.col("_t").substr(
                (F.col("_s") + 1).cast("int"), (F.col("_e") - F.col("_s")).cast("int")
            ).alias("_piece"),
        )
    )
    cleaned = pieces.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_s", "_piece"))),
                lambda x: x["_piece"],
            ),
            "",
        ).alias("clean_text")
    )
    return (
        txt.join(cleaned, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("clean_text", "_t").alias("clean_text"),
            (
                F.length("_t") - F.length(F.coalesce("clean_text", "_t"))
            ).cast("bigint").alias("removed_chars"),
        )
    )


def minhash_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Cross-corpus MinHash/LSH near-duplicate pairs: ``(id_a, id_b,
    jaccard)`` where ``id_a`` is from ``left`` and ``id_b`` from
    ``right`` — doc-level decontamination between two corpora (train vs
    benchmark, new crawl vs existing training set), the cross twin of
    the self-join ``dedup_minhash_lsh`` (same signature/banding
    machinery, same exact-Jaccard verify; cf. the gram-level EXACT
    containment form ``decontaminate``).

    Plan: each side gets its own minhash signature table (one shuffle on
    its ids) and band rows; candidates come from an equi-join on (band,
    bucket) BETWEEN the sides — within-side duplicates never pair, and
    the join moves only narrow (id, band, bucket) rows. A hot bucket
    (boilerplate on both sides) is an AQE skew-join case, and its
    candidate count is |L_bucket|·|R_bucket| — bounded by the smaller
    side, unlike the self-join's quadratic blowup. Verify joins shingle
    arrays only onto the deduplicated candidate pairs.

    At 100 TB x benchmark-sized right side: the right banding frame is
    tiny → Catalyst broadcasts it, and the whole candidate stage is a
    map-side join over the left scan. No driver state, no collect.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0,1], got {threshold!r}")
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    rows_per_band = num_hashes // bands

    def banded(df: DataFrame) -> DataFrame:
        sig = minhash_table(
            df, text_col, id_col, num_hashes, shingle_n, hash_family
        ).withColumnRenamed(id_col, "_id")
        bb = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    _band_bucket(b, rows_per_band, hash_family).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
        return sig.select("_id", F.explode(bb).alias("_bb")).select(
            "_id",
            F.col("_bb.band").alias("band"),
            F.col("_bb.bucket").alias("bucket"),
        )

    lb = banded(left).withColumnRenamed("_id", "id_a")
    rb = banded(right).withColumnRenamed("_id", "id_b")
    pairs = lb.join(rb, ["band", "bucket"]).select("id_a", "id_b").distinct()

    sa = left.select(
        F.col(id_col).alias("id_a"), ngrams(text_col, shingle_n).alias("_sh_a")
    )
    sb = right.select(
        F.col(id_col).alias("id_b"), ngrams(text_col, shingle_n).alias("_sh_b")
    )
    cand = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            shingle_jaccard(F.col("_sh_a"), F.col("_sh_b")).alias("jaccard"),
        )
    )
    return cand.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def decontaminate_near_dup(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    **lsh_kwargs,
) -> DataFrame:
    """Drop every corpus doc whose text is a NEAR duplicate (Jaccard ≥
    ``threshold``) of any benchmark doc — the doc-level fuzzy
    complement of the exact gram-containment ``decontaminate``. One
    anti-join on the flagged id set from :func:`minhash_cross_pairs`.
    """
    flagged = minhash_cross_pairs(
        corpus,
        benchmark,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        **lsh_kwargs,
    ).select(F.col("id_a").alias(id_col)).distinct()
    return corpus.join(flagged, id_col, "left_anti")


def prefix_jaccard_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    scale: int = 6,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT cross-corpus Jaccard pairs via prefix filtering:
    ``(id_a, id_b, jaccard)`` with ``id_a`` from ``left`` and ``id_b``
    from ``right``, Jaccard ≥ ``threshold`` — the no-false-negative twin
    of :func:`minhash_cross_pairs` for decontamination that must be
    PROVABLY complete (LSH banding trades recall for speed; the prefix
    filter trades nothing — Bayardo et al.'s AllPairs bound is exact).

    Composition: tag sides, union, run the self-join machinery of
    :func:`prefix_jaccard_pairs` (shared document frequencies — rarity
    is computed over BOTH corpora, which the prefix bound requires),
    then keep only cross-side pairs, oriented left-first. Ids must be
    unique ACROSS the two frames (offset one side if they collide);
    enforced in-plan — a duplicated id fails the job rather than
    silently producing phantom pairs.

    Scale: identical shape to the self-join form (whose per-doc prefix
    bound already excludes hot shingles) — the cross filter drops
    within-side candidates after the equi-join; candidate volume is the
    self-join's, so prefer :func:`minhash_cross_pairs` when the corpora
    are both huge and recall may be probabilistic. ``max_df`` passes
    through to the underlying self-join: the same dense-corpus safety
    valve (grams with combined-corpus df above the cap skip candidate
    generation; bounded-recall, exact scores — see
    :func:`prefix_jaccard_pairs`).
    """
    lid = left.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    ).withColumn("_side", F.lit("l"))
    rid = right.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    ).withColumn("_side", F.lit("r"))
    u = lid.unionByName(rid)
    # in-plan uniqueness guard: an id on both sides (or duplicated within
    # one) would silently multiply pairs through the side join below
    sides = u.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_m"), F.first("_side").alias("_side")
    )
    guard = F.assert_true(
        F.col("_m") == 1,
        f"prefix_jaccard_cross_pairs: duplicate {id_col} across inputs",
    )
    # route _side through the guard so pruning/constant-folding cannot
    # drop the assert (assert_true is NULL when it holds, so the concat
    # is the identity — but the dependency stays live)
    sides = sides.select(
        "_id",
        F.concat(
            F.col("_side"), F.coalesce(guard.cast("string"), F.lit(""))
        ).alias("_side"),
    )
    pairs = prefix_jaccard_pairs(
        u.select(F.col("_id").alias(id_col), F.col("_text").alias(text_col)),
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        shingle_n=shingle_n,
        scale=scale,
        max_df=max_df,
    )
    sa = sides.select(F.col("_id").alias("id_a"), F.col("_side").alias("_sa"))
    sb = sides.select(F.col("_id").alias("id_b"), F.col("_side").alias("_sb"))
    tagged = pairs.join(sa, "id_a").join(sb, "id_b").filter(
        F.col("_sa") != F.col("_sb")
    )
    # orient left-first regardless of which side sorted lower
    out_a = F.when(F.col("_sa") == "l", F.col("id_a")).otherwise(F.col("id_b"))
    out_b = F.when(F.col("_sa") == "l", F.col("id_b")).otherwise(F.col("id_a"))
    return tagged.select(
        out_a.alias("id_a"), out_b.alias("id_b"), F.col("jaccard")
    )
