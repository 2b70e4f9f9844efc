"""Property-based tests (hypothesis): engine operators cross-checked
against brute-force Python implementations on randomized inputs. Few
examples per property — each example is a Spark job — but randomized
structure catches edge shapes example tests miss."""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from etl_tools_rs_spark.functions import fingerprint, ngrams, tokens
from etl_tools_rs_spark.operators.batch import batch_by_count
from etl_tools_rs_spark.operators.join import asof_join

SETTINGS = {"max_examples": 8, "deadline": None}

texts = st.text(
    alphabet=st.sampled_from("ab c\t\n.!xyz"),
    min_size=0,
    max_size=40,
)


@given(st.lists(texts, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_tokens_match_python_split(spark, docs):
    df = spark.createDataFrame([(t,) for t in docs], "text string")
    got = [r[0] for r in df.select(tokens("text")).collect()]
    expected = [t.split() for t in docs]
    assert got == expected  # whitespace tokenization ≡ str.split


@given(st.lists(texts, min_size=1, max_size=8), st.integers(1, 4))
@settings(**SETTINGS)
def test_ngrams_match_python_sliding_window(spark, docs, n):
    df = spark.createDataFrame([(t,) for t in docs], "text string")
    got = [r[0] for r in df.select(ngrams("text", n)).collect()]
    windows = [t.split() for t in docs]
    expected = [
        [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]
        for w in windows
    ]
    assert got == expected  # short docs (< n tokens) give []


@given(texts)
@settings(**SETTINGS)
def test_fingerprint_whitespace_invariant(spark, text):
    variants = [text, f"  {text}  ", text.replace(" ", "   ")]
    df = spark.createDataFrame([(v,) for v in variants], "text string")
    fps = {r[0] for r in df.select(fingerprint("text")).collect()}
    assert len(fps) == 1  # all whitespace variants share one fingerprint


@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 50)),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    st.integers(1, 5),
)
@settings(**SETTINGS)
def test_batch_by_count_properties(spark, rows, n):
    df = spark.createDataFrame(rows, "k string, seq int")
    out = batch_by_count(df, key=["k"], order=["seq"], n=n).collect()
    per_key: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r.k, r.seq)):
        per_key.setdefault(r.k, []).append(r.batch_id)
    for ids in per_key.values():
        # batch ids are exactly floor(position / n) in seq order
        assert ids == [i // n for i in range(len(ids))]


@given(
    st.lists(st.tuples(st.integers(0, 20), st.text(st.sampled_from("lmn"), min_size=1, max_size=2)), min_size=1, max_size=12, unique_by=lambda t: t[0]),
    st.lists(st.tuples(st.integers(0, 20), st.floats(0, 9, allow_nan=False)), min_size=0, max_size=12, unique_by=lambda t: t[0]),
)
@settings(**SETTINGS)
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    left = spark.createDataFrame([("k", t, s) for t, s in lefts], "k string, t int, name string")
    right = spark.createDataFrame([("k", t, v) for t, v in rights] or [("zz", 0, 0.0)], "k string, t int, v double")
    out = asof_join(left, right, by="k", left_time="t", right_time="t", value_cols=["v"])
    got = {r.t: r.v for r in out.collect()}  # left times are unique
    rd = dict(rights)
    for t, _name in lefts:
        candidates = [rt for rt in rd if rt <= t]
        expected = rd[max(candidates)] if candidates else None
        assert got[t] == expected


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.floats(0, 100, allow_nan=False)),
        min_size=1, max_size=15, unique_by=lambda t: t[0],
    ),
    st.lists(
        st.tuples(st.integers(0, 30), st.floats(0, 100, allow_nan=False),
                  st.floats(0, 40, allow_nan=False)),
        min_size=1, max_size=10, unique_by=lambda t: t[0],
    ),
    st.floats(0.5, 50.0),
)
@settings(**SETTINGS)
def test_range_join_matches_naive_inequality_join(spark, pts, ivs, width):
    """Bucketized range join ≡ the naive inequality join, for any bucket
    width — the decomposition must never change results, only the plan."""
    from etl_tools_rs_spark.operators.join import range_join

    points = spark.createDataFrame(pts, "pid int, x double")
    intervals = spark.createDataFrame(
        [(i, s, s + ln) for i, s, ln in ivs], "iid int, s double, e double"
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(points, intervals, "x", "s", "e", width).collect()
    )
    expected = sorted(
        (p, i) for p, x in pts for i, s, ln in ivs if s <= x < s + ln
    )
    assert got == expected


@given(
    st.lists(st.integers(0, 10_000), min_size=1, max_size=40, unique=True),
    st.floats(0.1, 0.9),
)
@settings(**SETTINGS)
def test_hash_split_partition_properties(spark, ids, frac):
    """hash_split is a partition of the input for any weights, and
    hash_sample(f) is exactly the 'train' side of a (f, 1-f) split."""
    from etl_tools_rs_spark.operators.sample import hash_sample, hash_split

    df = spark.createDataFrame([(i,) for i in ids], "id int")
    out = hash_split(df, "id", {"train": frac, "rest": 1.0 - frac}).collect()
    assert sorted(r.id for r in out) == sorted(ids)  # exhaustive, no dups
    train = {r.id for r in out if r.split == "train"}
    sampled = {r.id for r in hash_sample(df, "id", frac).collect()}
    assert train == sampled


_kv_rows = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 5), st.text("xy", min_size=1, max_size=3)),
    min_size=0,
    max_size=12,
)


def _dedup_kv(rows):
    """One row per (k, ver): keep the last listed (mimics update order)."""
    out = {}
    for k, ver, v in rows:
        out[(k, ver)] = (k, ver, v)
    return list(out.values())


@given(_kv_rows, _kv_rows)
@settings(**SETTINGS)
def test_upsert_laws(spark, base_rows, upd_rows):
    from etl_tools_rs_spark.operators.merge import upsert_snapshot

    base_rows, upd_rows = _dedup_kv(base_rows), _dedup_kv(upd_rows)
    schema = "k int, ver int, v string"
    base = spark.createDataFrame(base_rows, schema) if base_rows else spark.createDataFrame([], schema)
    upd = spark.createDataFrame(upd_rows, schema) if upd_rows else spark.createDataFrame([], schema)
    merged = upsert_snapshot(base, upd, ["k"], version_col="ver")
    got = {(r.k, r.ver, r.v) for r in merged.collect()}
    # brute force: per key, max version wins; update side wins version ties
    expect = {}
    for src, rows in ((0, base_rows), (1, upd_rows)):
        for k, ver, v in rows:
            cur = expect.get(k)
            if cur is None or (ver, src) > (cur[0], cur[1]):
                expect[k] = (ver, src, v)
    assert got == {(k, ver, v) for k, (ver, _, v) in expect.items()}
    # one row per key, always
    assert len(got) == len({k for k, *_ in got})
    # idempotence: re-applying the same updates changes nothing
    again = upsert_snapshot(merged, upd, ["k"], version_col="ver")
    assert {(r.k, r.ver, r.v) for r in again.collect()} == got


@given(
    st.lists(st.integers(-(10**9), 10**9), min_size=1, max_size=40, unique=True),
    st.lists(st.integers(-(10**9), 10**9), min_size=1, max_size=40, unique=True),
)
@settings(**SETTINGS)
def test_bloom_never_false_negative(spark, members, probes):
    """Bloom property: every member key survives pruning, whatever the
    key distribution (negatives may survive too — that's the FPR)."""
    from etl_tools_rs_spark.operators.bloom import BloomSpec, bloom_prune, build_bloom

    dim = spark.createDataFrame([(k,) for k in members], "k: long")
    fact = spark.createDataFrame(
        [(k,) for k in set(members) | set(probes)], "k: long"
    )
    spec = BloomSpec.for_items(len(members), fpr=0.01)
    bloom = build_bloom(dim, "k", spec=spec)
    kept = {r["k"] for r in bloom_prune(fact, "k", bloom, spec).collect()}
    assert set(members) <= kept


@given(
    st.lists(
        st.tuples(st.integers(1, 10**6), st.integers(0, 500)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_scalable_cumsum_matches_python(spark, rows):
    from etl_tools_rs_spark.operators.packing import scalable_cumsum

    df = spark.createDataFrame(rows, "k: long, v: long")
    got = {
        r["k"]: r["cumsum"] for r in scalable_cumsum(df, "k", "v").collect()
    }
    acc, want = 0, {}
    for k, v in sorted(rows):
        acc += v
        want[k] = acc
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(1, 10**6), st.integers(1, 300)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    st.integers(64, 512),
)
@settings(**SETTINGS)
def test_pack_first_fit_invariants(spark, rows, budget):
    from etl_tools_rs_spark.operators.packing import pack_first_fit

    df = spark.createDataFrame(rows, "doc_id: long, n_tok: long")
    out = pack_first_fit(df, "doc_id", "n_tok", budget, num_shards=3).collect()
    assert len(out) == len(rows)  # every doc assigned exactly once
    fill: dict[str, int] = {}
    counts: dict[str, int] = {}
    for r in out:
        fill[r["bin_id"]] = fill.get(r["bin_id"], 0) + r["n_tok"]
        counts[r["bin_id"]] = counts.get(r["bin_id"], 0) + 1
    for b, t in fill.items():
        assert t <= budget or counts[b] == 1  # overfull only as a singleton


@given(
    st.lists(
        st.text(alphabet=st.sampled_from("abc"), min_size=0, max_size=8),
        min_size=2,
        max_size=12,
        unique=True,
    ),
    st.integers(1, 3),
)
@settings(**SETTINGS)
def test_fuzzy_join_blocked_equals_naive(spark, words, d):
    """PassJoin segment blocking loses nothing on random small-alphabet
    strings (dense near-neighbor space — the adversarial case for any
    blocking scheme): blocked pairs == cross-join pairs at every d."""
    from etl_tools_rs_spark.operators.fuzzy import fuzzy_join, fuzzy_join_naive

    left = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "lid int, lw string"
    )
    right = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "rid int, rw string"
    )
    blocked = {
        (r["lid"], r["rid"], r["distance"])
        for r in fuzzy_join(left, right, "lw", "rw", d).collect()
    }
    naive = {
        (r["lid"], r["rid"], r["distance"])
        for r in fuzzy_join_naive(left, right, "lw", "rw", d).collect()
    }
    assert blocked == naive


@given(
    st.lists(
        st.tuples(
            st.integers(1, 3),               # key
            st.sampled_from(["A", "B", None]),  # tracked value
            st.integers(0, 30),              # ts
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_scd2_matches_naive_historization(spark, rows):
    from etl_tools_rs_spark.operators.merge import scd2_history

    # unique (key, ts, idx) total order
    data = [(k, v, t, i) for i, (k, v, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "k int, v string, ts int, id int")
    got = {
        (r.k, r.version): (r.v, r.valid_from, r.valid_to, r.is_current,
                           r.n_observations)
        for r in scd2_history(
            df, ["k"], ["v"], "ts", tiebreak=["id"]
        ).collect()
    }
    # naive: sort per key, collapse consecutive equal values
    expected = {}
    bykey: dict = {}
    for k, v, t, i in sorted(data, key=lambda r: (r[0], r[2], r[3])):
        bykey.setdefault(k, []).append((v, t))
    for k, obs in bykey.items():
        runs = []
        for v, t in obs:
            if runs and runs[-1][0] == v:
                runs[-1][2] += 1
            else:
                runs.append([v, t, 1])
        for ver, (v, t, cnt) in enumerate(runs, start=1):
            nxt = runs[ver][1] if ver < len(runs) else None
            expected[(k, ver)] = (v, t, nxt, nxt is None, cnt)
    assert got == expected


@given(
    st.lists(
        st.tuples(st.integers(0, 100), st.integers(0, 5000)),  # (value, ts)
        min_size=2,
        max_size=15,
        unique_by=lambda r: r[1],
    )
)
@settings(**SETTINGS)
def test_time_weighted_avg_matches_python(spark, rows):
    import datetime as dt
    import math

    from etl_tools_rs_spark.operators.events import time_weighted_avg

    t0 = dt.datetime(2024, 1, 1)
    data = [
        (1, t0 + dt.timedelta(seconds=ts), float(v), i)
        for i, (v, ts) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "g int, ts timestamp, v double, id int")
    [r] = time_weighted_avg(
        df, "ts", "v", by=["g"], tiebreak=["id"]
    ).collect()
    srt = sorted(rows, key=lambda x: x[1])
    wv = sum(
        v * (srt[i + 1][1] - ts) * 1_000_000
        for i, (v, ts) in enumerate(srt[:-1])
    )
    span = (srt[-1][1] - srt[0][1]) * 1_000_000
    assert r.span_micros == span
    expected = math.floor(1e6 * (wv / span)) / 1e6
    assert r.twa == expected


@given(
    st.lists(st.sampled_from("abc"), min_size=2, max_size=25),
)
@settings(**SETTINGS)
def test_transition_matrix_counts_match_python(spark, seq):
    from collections import Counter

    from etl_tools_rs_spark.operators.events import transition_matrix

    data = [(1, e, t) for t, e in enumerate(seq)]
    df = spark.createDataFrame(data, "u int, e string, t int")
    got = {
        (r.from_event, r.to_event): r.n
        for r in transition_matrix(df, "u", "e", "t").collect()
    }
    expected = Counter(zip(seq, seq[1:]))
    assert got == dict(expected)


# ---- exact repeated-substring spans ≡ brute-force Python ------------------

_span_texts = st.text(alphabet=st.sampled_from("abAB xy"), min_size=0, max_size=30)


def _naive_spans(docs, k):
    """Brute-force: positions of k-grams appearing in >= 2 docs, merged
    into maximal coverage intervals."""
    from collections import defaultdict

    owners = defaultdict(set)
    for did, text in docs:
        for i in range(len(text) - k + 1):
            owners[text[i : i + k]].add(did)
    out = []
    for did, text in docs:
        hits = [
            i
            for i in range(len(text) - k + 1)
            if len(owners[text[i : i + k]]) >= 2
        ]
        start = prev = None
        for p in hits:
            if start is None:
                start = prev = p
            elif p <= prev + k:
                prev = p
            else:
                out.append((did, start, prev + k, prev + k - start))
                start = prev = p
        if start is not None:
            out.append((did, start, prev + k, prev + k - start))
    return sorted(out)


@given(st.lists(_span_texts, min_size=2, max_size=6), st.integers(2, 6))
@settings(**SETTINGS)
def test_duplicate_spans_match_bruteforce(spark, texts_, k):
    from etl_tools_rs_spark.operators.dedup import duplicate_spans

    docs = list(enumerate(texts_))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in duplicate_spans(df, "text", "doc_id", k=k).collect()
    )
    assert got == _naive_spans(docs, k)


@given(st.lists(_span_texts, min_size=2, max_size=6), st.integers(2, 6))
@settings(**SETTINGS)
def test_remove_duplicate_spans_is_span_complement(spark, texts_, k):
    from etl_tools_rs_spark.operators.dedup import remove_duplicate_spans

    docs = list(enumerate(texts_))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.removed_chars)
        for r in remove_duplicate_spans(df, "text", "doc_id", k=k).collect()
    }
    spans_by_doc = {}
    for did, s, e, _l in _naive_spans(docs, k):
        spans_by_doc.setdefault(did, []).append((s, e))
    for did, text in docs:
        keep = []
        pos = 0
        for s, e in sorted(spans_by_doc.get(did, [])):
            keep.append(text[pos:s])
            pos = e
        keep.append(text[pos:])
        expect = "".join(keep)
        assert got[did] == (expect, len(text) - len(expect)), did


# ---- BPE trainer ≡ reference on randomized corpora ------------------------

_bpe_words = st.text(alphabet=st.sampled_from("abcd"), min_size=1, max_size=6)


@given(st.lists(st.lists(_bpe_words, min_size=1, max_size=5), min_size=1, max_size=4))
@settings(max_examples=5, deadline=None)
def test_bpe_train_matches_reference_random(spark, corpora):
    from test_bpe import _ref_bpe

    from etl_tools_rs_spark.operators import bpe

    texts_ = [" ".join(ws) for ws in corpora]
    df = spark.createDataFrame([(t,) for t in texts_], "text string")
    got = bpe.bpe_train(df, "text", num_merges=4)
    want, _ = _ref_bpe(texts_, 4)
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 500),          # availability c
            st.integers(1, 9),            # weight w
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 2000),                 # budget
)
@settings(**SETTINGS)
def test_budget_allocate_laws(spark, domains, budget):
    """Water-filling invariants on random domain tables: Σalloc =
    min(budget, Σc); 0 ≤ alloc_i ≤ c_i; saturated ⟺ alloc == c (within
    the floor-scale quantum); unsaturated domains split by weight."""
    from etl_tools_rs_spark.operators.sample import budget_allocate

    rows = [(str(i), float(c), float(w)) for i, (c, w) in enumerate(domains)]
    df = spark.createDataFrame(rows, "d string, c double, w double")
    out = budget_allocate(df, "c", "w", float(budget)).collect()
    total_c = sum(c for _, c, _ in rows)
    got = sum(r.alloc for r in out)
    assert abs(got - min(float(budget), total_c)) < 1e-3 * max(1, len(rows))
    by_d = {r.d: r for r in out}
    for d, c, w in rows:
        r = by_d[d]
        assert -1e-6 <= r.alloc <= c + 1e-6
        if r.saturated:
            assert abs(r.alloc - c) < 1e-5
    # unsaturated pairs share τ: alloc_i / w_i equal across them
    taus = [r.alloc / w for (d, c, w) in rows if not (r := by_d[d]).saturated]
    for t in taus[1:]:
        assert abs(t - taus[0]) < 1e-4


@given(
    st.lists(st.integers(0, 10_000), min_size=1, max_size=60, unique=True),
    st.lists(st.integers(0, 10_000), min_size=1, max_size=60, unique=True),
    st.integers(4, 16),
)
@settings(**SETTINGS)
def test_quantile_sketch_merge_law(spark, keys_a, keys_b, k):
    """merge(sketch(A), sketch(B)) == sketch(dedup(A ∪ B)) exactly —
    the min-k union law on random overlapping shards."""
    from etl_tools_rs_spark.operators.sketch import (
        merge_quantile_sketch,
        quantile_sketch,
    )

    mk = lambda ks: spark.createDataFrame(
        [(str(x), float(x)) for x in ks], "k string, v double"
    )
    a, b = mk(keys_a), mk(keys_b)
    union = mk(sorted(set(keys_a) | set(keys_b)))
    merged = merge_quantile_sketch(
        quantile_sketch(a, "v", "k", k=k),
        quantile_sketch(b, "v", "k", k=k),
        k=k,
    )
    whole = quantile_sketch(union, "v", "k", k=k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


@given(
    st.lists(st.integers(0, 5_000), min_size=1, max_size=80, unique=True),
    st.integers(1, 10),
)
@settings(**SETTINGS)
def test_cap_per_group_is_prefix_of_hash_order(spark, keys, k):
    """The kept set is exactly the k smallest by (hash, key) — i.e. a
    prefix of a fixed global order, which is what makes it stable."""
    from etl_tools_rs_spark.operators.sample import cap_per_group
    from etl_tools_rs_spark.operators.sketch import kmv_hash

    df = spark.createDataFrame([("g", str(x)) for x in keys], "g string, k string")
    kept = {r.k for r in cap_per_group(df, ["g"], k, "k").collect()}
    order = [
        r.k
        for r in df.select("k", kmv_hash("k").alias("h"))
        .orderBy("h", "k")
        .collect()
    ]
    assert kept == set(order[:k])


intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=50),  # start
        st.integers(min_value=1, max_value=20),  # length
    ),
    min_size=1,
    max_size=12,
)


@given(intervals, intervals, st.sampled_from([1, 4, 13]))
@settings(**SETTINGS)
def test_overlap_join_matches_bruteforce(spark, ls, rs, width):
    from etl_tools_rs_spark.operators.join import overlap_join

    left = [(i, k, float(s), float(s + n)) for i, (k, s, n) in enumerate(ls)]
    right = [
        (100 + i, k, float(s), float(s + n)) for i, (k, s, n) in enumerate(rs)
    ]
    ldf = spark.createDataFrame(
        left, "l_key long, l_k long, l_start double, l_end double"
    )
    rdf = spark.createDataFrame(
        right, "r_key long, r_k long, r_start double, r_end double"
    )
    got = sorted(
        (r.l_key, r.r_key)
        for r in overlap_join(
            ldf, rdf, "l_start", "l_end", "r_start", "r_end",
            bucket_width=width, by="l_k", right_by="r_k",
        ).collect()
    )
    want = sorted(
        (lk, rk)
        for lk, k1, s1, e1 in left
        for rk, k2, s2, e2 in right
        if k1 == k2 and s1 < e2 and s2 < e1
    )
    assert got == want  # exact AND exactly-once, any bucket width


labeled_scores = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),
        st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.5, 0.75, 0.9, 1.0]),
    ),
    min_size=2,
    max_size=16,
)


@given(labeled_scores)
@settings(**SETTINGS)
def test_binary_metrics_auc_matches_pairwise(spark, rows):
    """Tie-aware rank-sum AUC ≡ the pairwise definition:
    (wins + ties/2) / (n_pos * n_neg)."""
    import math as _math

    from etl_tools_rs_spark.operators.ml import binary_metrics

    df = spark.createDataFrame(rows, "y int, s double")
    m = binary_metrics(df, F.col("y"), F.col("s")).collect()[0]
    pos = [s for y, s in rows if y == 1]
    neg = [s for y, s in rows if y == 0]
    if not pos or not neg:
        assert m.auc is None
        return
    u = sum(
        1.0 if p > q else (0.5 if p == q else 0.0) for p in pos for q in neg
    )
    assert m.auc == _math.floor(1e6 * (u / (len(pos) * len(neg)))) / 1e6


@given(
    words=st.lists(
        st.text(alphabet="ab1", min_size=0, max_size=6),
        min_size=2, max_size=12, unique=True,
    ),
    d=st.integers(min_value=1, max_value=2),
)
@settings(**SETTINGS)
def test_fuzzy_deletion_blocking_matches_naive(spark, words, d):
    """Deletion-neighborhood candidate generation loses nothing: on a
    tiny low-entropy alphabet (maximizing collisions and near-misses)
    the blocked self-join equals the exhaustive cross-join at d=1 and 2,
    and agrees with the segment-blocked path."""
    from etl_tools_rs_spark.operators import fuzzy

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "lid int, lw string"
    )
    right = df.select(
        df.lid.alias("rid"), df.lw.alias("rw")
    )
    left = df
    def pairs(out):
        return {(r["lid"], r["rid"], r["distance"]) for r in out.collect()}

    naive = pairs(fuzzy.fuzzy_join_naive(left, right, "lw", "rw", d))
    deletion = pairs(
        fuzzy.fuzzy_join(left, right, "lw", "rw", d, method="deletion")
    )
    segment = pairs(
        fuzzy.fuzzy_join(left, right, "lw", "rw", d, method="segment")
    )
    assert deletion == naive
    assert segment == naive


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # entity
            st.sampled_from(["p", "q", "r", "s"]),  # tag (mode target)
            st.integers(min_value=-50, max_value=50),  # bal
        ),
        min_size=1,
        max_size=24,
    )
)
@settings(**SETTINGS)
def test_golden_records_match_brute_force(spark, rows):
    from collections import Counter, defaultdict

    from etl_tools_rs_spark.operators.resolve import golden_records

    df = spark.createDataFrame(rows, "e int, tag string, bal int")
    got = {
        r["e"]: (r["n_members"], r["tag"], r["bal"])
        for r in golden_records(
            df, "e", {"tag": "most_frequent", "bal": "max"}
        ).collect()
    }
    by_e = defaultdict(list)
    for e, tag, bal in rows:
        by_e[e].append((tag, bal))
    expected = {}
    for e, members in by_e.items():
        counts = Counter(t for t, _ in members)
        # engine tie-break contract: count desc, then value desc
        mode = max(counts, key=lambda t: (counts[t], t))
        expected[e] = (len(members), mode, max(b for _, b in members))
    assert got == expected


@given(
    st.lists(
        st.text(alphabet=st.sampled_from("ab"), min_size=0, max_size=5),
        min_size=2,
        max_size=14,
    ),
    st.integers(1, 2),
)
@settings(**SETTINGS)
def test_fuzzy_self_pairs_dup_collapse_equals_naive(spark, words, d):
    """r6 dup-collapse contract on random DUP-HEAVY corpora (tiny
    alphabet, duplicates allowed): the distinct-string expansion must
    reproduce the naive theta-join pair set exactly — every id pair,
    exact distances — and the connectivity_only edge set must yield the
    same connected components."""
    from etl_tools_rs_spark.operators.dedup import connected_components
    from etl_tools_rs_spark.operators.fuzzy import (
        fuzzy_join_naive,
        fuzzy_self_pairs,
    )

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "wid long, w string"
    )
    naive = {
        (min(r.a, r.b), max(r.a, r.b), r.distance)
        for r in fuzzy_join_naive(
            df.selectExpr("wid AS a", "w AS wa"),
            df.selectExpr("wid AS b", "w AS wb"),
            "wa", "wb", d,
        ).collect()
        if r.a != r.b
    }
    got = {
        (r.id_a, r.id_b, r.distance)
        for r in fuzzy_self_pairs(df, "w", "wid", max_distance=d).collect()
    }
    assert got == naive
    red = fuzzy_self_pairs(
        df, "w", "wid", max_distance=d, connectivity_only=True
    )
    comp_red = {
        (r.member_id, r.group_id)
        for r in connected_components(red, "id_a", "id_b").collect()
    }
    full = spark.createDataFrame(
        [(a, b) for a, b, _ in naive] or [(0, 0)], "id_a long, id_b long"
    )
    comp_full = {
        (r.member_id, r.group_id)
        for r in connected_components(full, "id_a", "id_b").collect()
    }
    assert comp_red == comp_full


# ---- r7: naive-parity for the remaining self-join dedups -------------------

_pj_words = st.lists(
    st.sampled_from(["aa", "ab", "ba", "bb", "cc"]), min_size=0, max_size=8
)


def _naive_gram_pairs(docs, n):
    """Brute-force distinct word-n-gram sets per doc."""
    grams = {}
    for did, text in docs:
        toks = text.split()
        grams[did] = {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
    return grams


@given(st.lists(_pj_words, min_size=2, max_size=10), st.sampled_from([0.3, 0.5, 0.8]))
@settings(**SETTINGS)
def test_prefix_jaccard_matches_naive(spark, docs_words, threshold):
    """AllPairs/PPJoin prefix filtering loses nothing (r7, the r6
    dup-collapse harness carried over): on random tiny-vocab corpora —
    dense gram sharing, the adversarial case for prefix selection — the
    blockless self-join equals the exhaustive pairwise Jaccard at every
    threshold, with exact floor-scaled values."""
    import math as _math

    from etl_tools_rs_spark.operators.dedup import prefix_jaccard_pairs

    docs = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_jaccard_pairs(
            df, threshold=threshold, shingle_n=2
        ).collect()
    }
    grams = _naive_gram_pairs(docs, 2)
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            ga, gb = grams[a], grams[b]
            if not ga or not gb:
                continue
            j = len(ga & gb) / len(ga | gb)
            if j >= threshold:
                want[(a, b)] = _math.floor(1e6 * j) / 1e6
    assert got == want


@given(st.lists(_pj_words, min_size=2, max_size=10), st.integers(2, 4))
@settings(**SETTINGS)
def test_prefix_jaccard_capped_is_sound_subset(spark, docs_words, max_df):
    """The max_df bounded-recall mode's contract on random corpora:
    capped pairs ⊆ exact pairs, every emitted jaccard is the EXACT
    full-set value (the cap bounds candidates, never corrupts scores),
    and a cap at/above the doc count changes nothing."""
    import math as _math

    from etl_tools_rs_spark.operators.dedup import prefix_jaccard_pairs

    docs = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_jaccard_pairs(
            df, threshold=0.3, shingle_n=2, max_df=max_df
        ).collect()
    }
    grams = _naive_gram_pairs(docs, 2)
    exact = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            ga, gb = grams[a], grams[b]
            if ga and gb and len(ga & gb) / len(ga | gb) >= 0.3:
                exact[(a, b)] = _math.floor(1e6 * (len(ga & gb) / len(ga | gb))) / 1e6
    assert set(capped) <= set(exact)
    for k, v in capped.items():
        assert v == exact[k], k
    uncapped_cap = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_jaccard_pairs(
            df, threshold=0.3, shingle_n=2, max_df=len(docs),
        ).collect()
    }
    assert uncapped_cap == exact


@given(st.lists(_pj_words, min_size=2, max_size=10), st.sampled_from([0.4, 0.8]))
@settings(**SETTINGS)
def test_containment_pairs_match_naive(spark, docs_words, threshold):
    """Asymmetric containment |A∩B|/|A| equals brute force BOTH ways on
    random tiny-vocab corpora (constant block so blocking never hides a
    pair): direction, threshold boundary, and floor-scaled values."""
    import math as _math

    from etl_tools_rs_spark.operators.dedup import containment_pairs

    docs = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            df, n=2, threshold=threshold, block_col=F.lit(1)
        ).collect()
    }
    grams = _naive_gram_pairs(docs, 2)
    want = {}
    for a in range(len(docs)):
        for b in range(len(docs)):
            if a == b:
                continue
            ga, gb = grams[a], grams[b]
            if not ga or not gb:
                continue
            c = len(ga & gb) / len(ga)  # a contained in b
            if c >= threshold:
                want[(a, b)] = _math.floor(1e4 * c) / 1e4
    assert got == want


@given(
    st.lists(
        st.text(alphabet=st.sampled_from("abc x.y"), min_size=0, max_size=24),
        min_size=2,
        max_size=10,
    ),
    st.integers(1, 3),
)
@settings(**SETTINGS)
def test_simhash_banded_pairs_equal_naive_hamming_join(spark, texts_, maxh):
    """Pigeonhole completeness of the banded candidate join
    (operators/dedup.py::simhash_near_dup): with max_hamming+1 bands,
    any two signatures within the Hamming budget agree exactly on at
    least one band, so the banded pair set must EQUAL the naive
    all-pairs bit_count(xor) filter over the same signature table —
    banding may only prune pairs the verify step would reject anyway."""
    from etl_tools_rs_spark.operators.dedup import (
        simhash_near_dup,
        simhash_table_md5,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts_)], "doc_id long, text string"
    )
    sig = {
        r.doc_id: r.simhash
        for r in simhash_table_md5(df, "text", "doc_id", 2, 60).collect()
    }
    naive = {
        (a, b, bin(sig[a] ^ sig[b]).count("1"))
        for a in sig
        for b in sig
        if a < b and bin(sig[a] ^ sig[b]).count("1") <= maxh
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dup(df, max_hamming=maxh).collect()
    }
    assert got == naive


def _py_readability(text):
    """Pure-Python mirror of text.py::readability_scores (same regexes,
    same floor-4dp arithmetic)."""
    import math
    import re

    toks = [t for t in re.split(r"\s+", text.strip()) if t != ""]
    n_words = len(toks)
    n_sentences = len(re.findall(r"[.!?]+", text))
    n_syll = 0
    for w in toks:
        lw = w.lower()
        groups = len(re.findall(r"[aeiouy]+", lw))
        silent = 1 if re.search(r"[b-df-hj-np-tv-z]e$", lw) and groups > 1 else 0
        n_syll += max(groups - silent, 1)
    wps = math.floor(10000.0 * n_words / max(n_sentences, 1)) / 10000.0
    spw = math.floor(10000.0 * n_syll / max(n_words, 1)) / 10000.0
    flesch = (
        math.floor(10000.0 * ((206.835 - 1.015 * wps) - 84.6 * spw)) / 10000.0
    )
    fk = math.floor(10000.0 * ((0.39 * wps + 11.8 * spw) - 15.59)) / 10000.0
    return (n_words, n_sentences, n_syll, flesch, fk)


@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("the cakes! lie?bea.u t\n"),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_readability_matches_python_mirror(spark, docs):
    from etl_tools_rs_spark.operators.text import readability_scores

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    r = readability_scores("text")
    got = {
        row.doc_id: (
            row.n_words, row.n_sentences, row.n_syllables,
            row.flesch, row.fk_grade,
        )
        for row in df.select(
            "doc_id", *[r[k].alias(k) for k in r]
        ).collect()
    }
    expected = {i: _py_readability(t) for i, t in enumerate(docs)}
    assert got == expected


# ---------------------------------------------------------------------------
# r8 (VERDICT r7 #6): aligned-hash near-dup matchers (video/audio) vs
# naive all-pairs references on random synthetic AVIs/WAVs with
# perturbed twins, across cadence/gain sweeps.


def _naive_aligned_pairs(fp_by_id, max_hamming, min_overlap):
    """All-pairs frame-aligned matching: shared frame_idx slots within
    max_hamming bits, overlap vs the shorter side, 6dp round."""
    out = {}
    ids = sorted(fp_by_id)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            fa, fb = fp_by_id[a], fp_by_id[b]
            if not fa or not fb:
                continue
            matched = sum(
                1
                for idx, ha in fa.items()
                if idx in fb
                and bin(int(ha, 16) ^ int(fb[idx], 16)).count("1")
                <= max_hamming
            )
            if not matched:
                continue
            overlap = round(matched / min(len(fa), len(fb)), 6)
            if overlap >= min_overlap:
                out[(a, b)] = (matched, overlap)
    return out


def _test_avi(gray_frames):
    """Minimal uncompressed AVI from top-down 8x8 grayscale byte
    frames (independent of the engine's builders): DIB rows written
    bottom-up, 25 fps (40000 us/frame)."""
    import struct

    w = h = 8
    stride = ((w * 3 + 3) // 4) * 4

    def chunk(fourcc, data):
        pad = b"\x00" if len(data) & 1 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    frames = []
    for fr in gray_frames:
        rows = bytearray()
        for r in range(h - 1, -1, -1):  # bottom-up
            for c in range(w):
                s = fr[r][c]
                rows += bytes([s, s, s])
            rows += b"\x00" * (stride - w * 3)
        frames.append(bytes(rows))
    avih = struct.pack(
        "<IIIIIIIIII4I", 40000, 0, 0, 0, len(frames), 0, 1, 0, w, h,
        0, 0, 0, 0,
    )
    payload = (
        b"AVI "
        + chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
        + chunk(b"LIST", b"movi" + b"".join(chunk(b"00db", f) for f in frames))
    )
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _shade(seed, i, p):
    x = (seed << 16) + (i << 8) + p
    x = (x * 2654435761) & 0xFFFFFFFF
    x ^= x >> 15
    x = (x * 1103515245) & 0xFFFFFFFF
    return (x >> 16) % 256


@given(
    st.lists(st.integers(0, 10_000), min_size=2, max_size=3, unique=True),
    st.integers(4, 9),
    st.sampled_from([40, 80, 120]),  # cadence sweep vs the 40 ms frame
)
@settings(**SETTINGS)
def test_video_near_dup_matches_naive(spark, seeds, n_frames, every_ms):
    """video_near_dup == a from-scratch Python reference (independent
    cadence sampling, aHash, all-pairs aligned matching) on random AVIs
    plus a 2-pixel-perturbed twin of the first video — banding must
    lose nothing at any cadence, and the twin must always pair."""
    from etl_tools_rs_spark.operators.multimodal import video_near_dup

    videos = {}
    for v, seed in enumerate(seeds):
        videos[v] = [
            [[_shade(seed, i, r * 8 + c) for c in range(8)] for r in range(8)]
            for i in range(n_frames)
        ]
    # twin of video 0: +32 on two pixels of every frame
    twin_id = 100
    videos[twin_id] = [
        [
            [
                (px + 32) % 256 if (r * 8 + c) in (5, 42) else px
                for c, px in enumerate(row)
            ]
            for r, row in enumerate(frame)
        ]
        for frame in videos[0]
    ]

    # naive reference: cadence sampling + aHash from the pixel arrays
    def sampled_hashes(frames):
        fp = {}
        next_target = 0
        for idx, fr in enumerate(frames):
            ts = idx * 40000 // 1000
            if ts < next_target:
                continue
            next_target = ts + every_ms
            cells = [
                (s + s + s) / (3.0 * 255.0) for row in fr for s in row
            ]
            mean = sum(cells) / 64.0
            bits = 0
            for v in cells:
                bits = (bits << 1) | (1 if v > mean else 0)
            fp[idx] = format(bits, "016x")
        return fp

    want = _naive_aligned_pairs(
        {v: sampled_hashes(f) for v, f in videos.items()},
        max_hamming=6,
        min_overlap=0.5,
    )
    df = spark.createDataFrame(
        [(v, bytearray(_test_avi(f))) for v, f in videos.items()],
        "media_id long, content binary",
    )
    got = {
        (r.video_a, r.video_b): (r.matched_frames, r.overlap)
        for r in video_near_dup(
            df, every_ms=every_ms, grid=(8, 8), max_hamming=6,
            min_overlap=0.5,
        ).collect()
    }
    assert got == want
    # the perturbed twin always pairs (2 flipped pixels + the rare
    # mean-crosser stay within the 6-bit budget on ≥ half the slots)
    assert (0, twin_id) in got


@given(
    st.lists(st.integers(0, 39), min_size=2, max_size=3, unique=True),
    st.sampled_from([0.4, 0.7, 1.2]),  # gain sweep (peaks stay < 1.0)
)
@settings(**SETTINGS)
def test_audio_near_dup_matches_naive(spark, seeds, gain):
    """audio_near_dup == naive all-pairs matching over independently
    computed Haitsma-Kalker fingerprints on random tone mixtures plus a
    re-mastered (gain-scaled) twin of the first clip — the matcher must
    find exactly the naive pair set at any gain, and the twin must
    always pair at full overlap (sign-of-delta gain invariance)."""
    import io
    import wave

    import numpy as np

    from etl_tools_rs_spark.operators.multimodal import (
        audio_fingerprint_frames,
        audio_near_dup,
    )

    rate = 8000

    def clip(seed):
        t = np.arange(rate) / rate
        x = np.zeros_like(t)
        for k in range(3):
            f = 400.0 + ((seed * 37 + k * 53) % 40) * 80.0
            env = 1.0 + 0.5 * np.sin(2 * np.pi * (2.0 + k) * t)
            x += env * np.sin(2 * np.pi * f * t) / 3.0
        return x / 2.0

    def wav(x):
        pcm = (np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(pcm)
        return buf.getvalue()

    clips = {i: wav(clip(s)) for i, s in enumerate(seeds)}
    clips[100] = wav(gain * clip(seeds[0]))  # re-mastered twin
    fp_by_id = {
        i: dict(enumerate(audio_fingerprint_frames(c, 64, 32)))
        for i, c in clips.items()
    }
    want = _naive_aligned_pairs(fp_by_id, max_hamming=4, min_overlap=0.6)
    df = spark.createDataFrame(
        [(i, bytearray(c)) for i, c in clips.items()],
        "media_id long, content binary",
    )
    got = {
        (r.clip_a, r.clip_b): (r.matched_frames, r.overlap)
        for r in audio_near_dup(
            df, frame_ms=64, n_bands=32, max_hamming=4, min_overlap=0.6
        ).collect()
    }
    assert got == want
    # the re-mastered twin always pairs (≥ min_overlap); int16
    # re-quantization may flip the odd leakage-band delta bit, so full
    # 1.0 overlap is typical but not asserted
    assert (0, 100) in got
