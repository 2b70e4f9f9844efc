"""Extension operators: dedup, similarity, text analysis, multimodal
plumbing (BASELINE.json scale-out surface)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from etl_tools_rs_spark.functions import fingerprint, ngrams, token_count, tokens
from etl_tools_rs_spark.operators import dedup, multimodal, similarity, text

DOCS = [
    ("d1", "the quick brown fox jumps over the lazy dog"),
    ("d2", "the quick brown fox jumps over the lazy dog"),  # exact dup of d1
    ("d3", "the  quick   brown fox jumps over the lazy dog"),  # ws-normalized dup
    ("d4", "the quick brown fox leaps over the lazy dog"),  # near-dup (1 token)
    ("d5", "completely different text about spark engines and scale"),
    ("d6", "tiny"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string")


def test_ngrams_and_tokens(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",), ("",)], "text string")
    rows = df.select(
        tokens("text").alias("t"), ngrams("text", 3).alias("g")
    ).collect()
    assert rows[0].t == ["a", "b", "c", "d"]
    assert rows[0].g == ["a b c", "b c d"]
    assert rows[1].g == []  # shorter than n → empty, not descending-range junk
    assert rows[2].t == []


def test_dedup_exact_normalizes_whitespace(docs):
    out = dedup.dedup_exact(docs)
    got = {r.doc_id: r.dup_count for r in out.collect()}
    # d1=d2=d3 collapse to keeper d1 with count 3
    assert got["d1"] == 3
    assert got["d4"] == 1 and got["d5"] == 1
    assert out.count() == 4


def test_duplicate_groups(docs):
    out = dedup.duplicate_groups(docs)
    rows = {(r.keeper_id, r.member_id) for r in out.collect()}
    assert rows == {("d1", "d1"), ("d1", "d2"), ("d1", "d3")}


def test_minhash_deterministic(docs):
    sig = dedup.minhash_table(docs, num_hashes=8, shingle_n=3)
    a = {r.doc_id: list(r)[1:] for r in sig.collect()}
    b = {r.doc_id: list(r)[1:] for r in sig.collect()}
    assert a == b
    assert a["d1"] == a["d2"]  # identical text → identical signature
    assert len(a["d1"]) == 8


def test_dedup_minhash_lsh_finds_near_dups(docs):
    out = dedup.dedup_minhash_lsh(
        docs, num_hashes=16, bands=8, shingle_n=2, threshold=0.5
    )
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    # exact dups always collide; the near-dup pair (d1,d4) shares most
    # shingles and must survive the 0.5 threshold
    assert ("d1", "d2") in pairs
    assert ("d1", "d4") in pairs
    # unrelated docs never pair
    assert not any("d5" in p for p in pairs)


def test_dedup_minhash_lsh_checkpoint_modes_agree(docs):
    """The shingle-once signature (exploded from the checkpointed token
    frame) equals the inline ``minhash_table`` signature under both hash
    families, and every pair the operator emits, with and without the
    bucket cap, carries its exact shingle Jaccard."""
    toks = docs.select(
        F.col("doc_id").alias("_id"), ngrams("text", 2).alias("_sh")
    ).localCheckpoint()

    def grams(text):
        t = text.split()
        return {" ".join(t[i : i + 2]) for i in range(len(t) - 1)}

    sh = {d: grams(t) for d, t in DOCS}
    for family in ("xxhash64", "md5"):
        inline = dedup.minhash_table(
            docs, num_hashes=16, shingle_n=2, hash_family=family
        ).withColumnRenamed("doc_id", "_id")
        once = dedup._minhash_from_shingles(toks, "_id", "_sh", 16, family)
        assert sorted(map(tuple, inline.collect())) == sorted(
            map(tuple, once.collect())
        ), family
        for cap in (None, 1):
            pairs = {
                (r.id_a, r.id_b): r.jaccard
                for r in dedup.dedup_minhash_lsh(
                    docs, num_hashes=16, bands=8, shingle_n=2,
                    threshold=0.5, hash_family=family, max_bucket_size=cap,
                ).collect()
            }
            # non-empty for every (family, cap) config, not just the last
            assert len(pairs) > 0, (family, cap)
            for (a, b), j in pairs.items():
                exact = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                assert abs(j - exact) <= 5e-5 + 1e-12, (family, cap, a, b)


def test_dedup_simhash_groups(docs):
    out = dedup.dedup_simhash(docs, shingle_n=2)
    groups = out.collect()
    assert len(groups) == 1
    assert set(groups[0].member_ids) == {"d1", "d2", "d3"}


def test_ngram_jaccard_pairs(docs):
    out = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.5)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert pairs[("d1", "d2")] == 1.0
    assert ("d1", "d4") in pairs


def test_knn_brute_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype("float64")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.knn_brute(corpus=emb, queries=queries, k=5, query_id="query_id")
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cosine_sim) for r in out.collect()}

    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms.T
    for q in range(2):
        order = sorted(range(30), key=lambda c: (-sims[q, c], c))[:5]
        for rank, c in enumerate(order, start=1):
            nid, sim = got[(q, rank)]
            assert nid == c
            assert math.isclose(sim, round(float(sims[q, c]), 6), abs_tol=1e-6)


def test_embedding_near_dup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = similarity.embedding_near_dup(emb, threshold=0.99, dim=3, num_planes=4)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 1) in pairs
    assert not any(2 in p for p in pairs)


def test_embedding_near_dup_target_bucket_size(spark):
    """r5 auto-planes knob: target_bucket_size raises num_planes with
    corpus size (log2(n/target)) so per-bucket occupancy stays bounded;
    exact duplicates still pair (same vector -> same bucket at ANY
    plane count)."""
    import random

    rng = random.Random(9)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    rows += [(i + 1000, v) for i, v in rows[:20]]  # 20 exact twins
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = similarity.embedding_near_dup(
        emb, threshold=0.999, dim=8, num_planes=2, target_bucket_size=8
    )
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert {(i, i + 1000) for i in range(20)} <= got
    # planes rose to ceil(log2(220/8)) = 5 -> buckets must be tighter
    # than the 2-plane baseline would allow (4 buckets over 220 rows)
    base = similarity.embedding_near_dup(
        emb, threshold=0.999, dim=8, num_planes=2
    )
    assert out.count() <= base.count()


def test_text_analysis(docs):
    out = docs.select(
        "doc_id",
        token_count("text").alias("n"),
        text.lang_id("text").alias("lang"),
        text.quality_score("text")["alpha_ratio"].alias("alpha"),
        fingerprint("text").alias("fp"),
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert rows["d1"].n == 9
    assert rows["d1"].lang == "en"
    assert 0.0 < rows["d1"].alpha <= 1.0
    assert rows["d1"].fp == rows["d3"].fp  # fingerprint normalizes whitespace


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(
        [(1, b"fake-image-bytes"), (2, b"")], "media_id long, content binary"
    )
    feats = multimodal.extract_features(media, dim=4)
    rows = {r.media_id: r for r in feats.collect()}
    assert rows[1].decode_ok == "ok"
    assert len(rows[1].feature) == 4
    # deterministic fake: same bytes → same features
    again = {r.media_id: r for r in multimodal.extract_features(media, dim=4).collect()}
    assert rows[1].feature == again[1].feature


def test_connected_components(spark):
    # two components: {1,2,3,4} chained, {7,8}; singleton 9 not in pairs
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "id_a int, id_b int"
    )
    out = dedup.connected_components(pairs)
    got = {r.member_id: r.group_id for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_file_queue_roundtrip(tmp_path):
    from etl_tools_rs_spark.sources.queue import FileQueue

    q = FileQueue(str(tmp_path / "q"))
    q.push({"job": "a", "n": 1})
    name_dup = q.push({"job": "a", "n": 1})  # same payload → same file (dedup)
    q.push({"job": "b", "n": 2})
    assert q.size() == 2
    popped = q.pop()
    assert popped is not None
    name, rec = popped
    assert q.size() == 2  # not acked yet — at-least-once
    q.ack(name)
    assert q.size() == 1
    assert q.pop_result()["job"] in ("a", "b")
    assert q.size() == 0
    assert name_dup.endswith(".push.json")


def test_load_toml_autocreate(tmp_path):
    from etl_tools_rs_spark.sources.config import ConfigAutocreated, load_toml

    p = str(tmp_path / "conf.toml")
    with pytest.raises(ConfigAutocreated):
        load_toml(p, default='[job]\nname = "x"\n')
    conf = load_toml(p)
    assert conf["job"]["name"] == "x"


def test_sftp_and_sqs_gated(tmp_path):
    # without paramiko/boto3 in the environment the default constructors
    # raise the documented NotImplementedError
    from etl_tools_rs_spark.sources.config import sftp_connect
    from etl_tools_rs_spark.sources.queue import sqs_client

    with pytest.raises(NotImplementedError):
        sftp_connect("sftp://h", "user", password="pw")
    # boto3 IS shipped here: the constructor builds a real client without
    # touching the network; only pop is the documented reference panic
    q = sqs_client("https://sqs/q")
    with pytest.raises(NotImplementedError):
        q.pop()


class _FakeTransport:
    def __init__(self):
        self.connected_with = None
        self.keys = []

    def agent_keys(self):
        return self.keys

    def connect(self, **kw):
        self.connected_with = kw

    def open_sftp(self):
        return ("sftp", self.connected_with)


def test_sftp_password_arm_with_injected_transport():
    from etl_tools_rs_spark.sources.config import sftp_connect

    seen = {}

    def factory(host, port):
        seen["addr"] = (host, port)
        return _FakeTransport()

    kind, creds = sftp_connect(
        "sftp://files.example.com:2222", "alice", password="pw",
        transport_factory=factory,
    )
    assert kind == "sftp" and seen["addr"] == ("files.example.com", 2222)
    assert creds == {"username": "alice", "password": "pw"}


def test_sftp_agent_key_arm_matches_comment():
    from etl_tools_rs_spark.sources.config import sftp_connect

    class Key:
        def __init__(self, comment):
            self.comment = comment

    t = _FakeTransport()
    t.keys = [Key("other"), Key("id_rsa_deploy")]
    kind, creds = sftp_connect(
        "h", "bob", key_comment="deploy", transport_factory=lambda h, p: t
    )
    assert creds["pkey"].comment == "id_rsa_deploy"
    # default port applied
    with pytest.raises(ValueError):
        sftp_connect("h", "bob", key_comment="missing",
                     transport_factory=lambda h, p: t)


def test_sqs_push_md5_dedup_contract():
    import hashlib
    import json as _json

    from etl_tools_rs_spark.sources.queue import SqsQueue

    sent = []

    class FakeClient:
        def send_message(self, **kw):
            sent.append(kw)

    q = SqsQueue("https://sqs/q", client=FakeClient())
    digest = q.push({"b": 2, "a": 1})
    body = _json.dumps({"b": 2, "a": 1}, sort_keys=True)
    want = hashlib.md5(body.encode()).hexdigest()
    assert digest == want
    [msg] = sent
    # reference contract (sqs_queue.rs:32-44): dedup id == group id == md5
    assert msg["MessageBody"] == body
    assert msg["MessageDeduplicationId"] == want
    assert msg["MessageGroupId"] == want
    # identical payload (any key order) -> identical dedup id
    assert q.push({"a": 1, "b": 2}) == want
    # pop is an explicit reference panic
    with pytest.raises(NotImplementedError):
        q.pop()


def test_knn_ivf_high_recall(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 6).astype("float64")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    emb = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    ).withColumn("_q6", similarity.quantize_vec(F.col("embedding")))
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding", "_q6"
    )
    brute = similarity.knn_brute(emb, queries, k=5, query_id="query_id")
    centroids = similarity.kmeans_centroids_exact(
        emb, 4, "_q6", "vec_id", iterations=5
    )
    ivf = similarity.knn_ivf(
        emb, queries, centroids, "_q6", k=5, n_probe=3, query_id="query_id"
    )
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    # probing 3/4 cells must recover most exact neighbors
    assert len(a & b) / len(b) >= 0.6
    # and every query still returns k ranked rows
    assert ivf.groupBy("query_id").count().filter("count <> 5").count() == 0


def test_salted_join_matches_plain(spark):
    from etl_tools_rs_spark.operators.skew import salted_agg, salted_join

    # skewed left: one hot key
    left = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(5)],
        "k string, v int",
    )
    right = spark.createDataFrame(
        [("hot", 1.5), ("cold", 2.5), ("absent", 9.9)], "k string, w double"
    )
    plain = left.join(right, ["k"], "inner")
    salted = salted_join(left, right, on=["k"], num_salts=4, how="inner")
    assert salted.count() == plain.count() == 505
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}

    lo = salted_join(left, right.filter(F.col("k") != "cold"), on=["k"], num_salts=4, how="left")
    # left join keeps cold rows with null w
    assert lo.filter(F.col("w").isNull()).count() == 5

    agg = salted_agg(
        left,
        keys=["k"],
        aggs={"sum_v": F.sum("v"), "cnt_v": F.count(F.lit(1)), "max_v": F.max("v")},
        num_salts=4,
    )
    got = {r.k: (r.sum_v, r.cnt_v, r.max_v) for r in agg.collect()}
    assert got["hot"] == (sum(range(500)), 500, 499)
    assert got["cold"] == (sum(range(5)), 5, 4)


def test_binary_file_ingestion_to_features(spark, tmp_path):
    """End-to-end multimodal ingestion: real files → binaryFile source →
    Arrow-batched feature extraction. Payload bytes round-trip exactly;
    metadata (length) comes from the source, not the payload."""
    d = tmp_path / "media"
    d.mkdir()
    payloads = {f"img_{i}.bin": bytes([i]) * (100 + i) for i in range(3)}
    for name, data in payloads.items():
        (d / name).write_bytes(data)
    (d / "skip.txt").write_text("not media")

    df = multimodal.read_binary_files(spark, str(d), glob="*.bin")
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 3  # glob filtered
    by_name = {r.path.rsplit("/", 1)[-1]: r for r in rows}
    for name, data in payloads.items():
        assert bytes(by_name[name].content) == data
        assert by_name[name].length == len(data)

    feats = multimodal.extract_features(df, dim=4).collect()
    assert len(feats) == 3
    assert all(r.decode_ok == "ok" and len(r.feature) == 4 for r in feats)


def test_decontaminate_ngram(spark):
    """Docs sharing >= min_shared distinct n-grams with the blocklist are
    dropped; others survive untouched."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text about spark engines"),
            (3, "the quick brown cat naps all day long"),
        ],
        "doc_id long, text string",
    )
    blocklist = spark.createDataFrame(
        [(100, "the quick brown fox ran away")], "doc_id long, text string"
    )
    # doc 1 shares 2 distinct 3-grams with the blocklist ("the quick brown",
    # "quick brown fox") -> dropped; doc 3 shares only 1 -> survives
    out = dedup.decontaminate_ngram(corpus, blocklist, n=3, min_shared=2)
    assert sorted(r.doc_id for r in out.collect()) == [2, 3]
    # min_shared=1 also drops doc 3
    out1 = dedup.decontaminate_ngram(corpus, blocklist, n=3, min_shared=1)
    assert sorted(r.doc_id for r in out1.collect()) == [2]


def test_remove_common_lines(spark):
    docs = spark.createDataFrame(
        [
            ("d1", "COOKIE BANNER\nreal content one\nFOOTER"),
            ("d2", "COOKIE BANNER\nreal content two\nFOOTER"),
            ("d3", "COOKIE BANNER\nunique stuff\n\n  \nmore unique"),
            ("d4", "COOKIE BANNER\nFOOTER"),
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in dedup.remove_common_lines(docs, min_docs=2).collect()}
    assert out["d1"].text_clean == "real content one"
    assert out["d2"].text_clean == "real content two"
    # blanks dropped silently; order of survivors preserved
    assert out["d3"].text_clean == "unique stuff\nmore unique"
    assert (out["d3"].n_kept, out["d3"].n_removed) == (2, 1)
    # all-boilerplate doc survives as a row with empty text
    assert out["d4"].text_clean == "" and out["d4"].n_kept == 0


def _make_wav(freq=440.0, seconds=0.5, rate=8000, amp=0.5, channels=1):
    """Synthesize a PCM16 WAV in memory (stdlib only)."""
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    n = int(rate * seconds)
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = bytearray()
        for i in range(n):
            v = int(amp * 32767 * math.sin(2 * math.pi * freq * i / rate))
            for _ in range(channels):
                frames += struct.pack("<h", v)
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_wav_decode_real_envelope():
    """REAL audio path (stdlib wave): a constant-amplitude sine has a flat
    RMS envelope at amp/sqrt(2); silence decodes to zeros."""
    from etl_tools_rs_spark.operators.multimodal import decode_wav_real

    tone = decode_wav_real(_make_wav(amp=0.5), dim=8)
    assert len(tone) == 8
    expected = 0.5 / (2**0.5)
    for v in tone:
        assert abs(v - expected) < 0.02
    silence = decode_wav_real(_make_wav(amp=0.0), dim=8)
    assert all(v == 0.0 for v in silence)
    # louder signal -> larger envelope, monotone in amplitude
    loud = decode_wav_real(_make_wav(amp=0.9), dim=8)
    assert all(lo > t for lo, t in zip(loud, tone))


def test_wav_metadata_real():
    from etl_tools_rs_spark.operators.multimodal import wav_metadata

    meta = wav_metadata(_make_wav(seconds=0.25, rate=16000, channels=2))
    assert meta == {
        "sample_rate": 16000,
        "channels": 2,
        "sample_width": 2,
        "duration_ms": 250,
    }


def test_wav_stereo_mixdown():
    from etl_tools_rs_spark.operators.multimodal import decode_wav_real

    mono = decode_wav_real(_make_wav(amp=0.5, channels=1), dim=4)
    stereo = decode_wav_real(_make_wav(amp=0.5, channels=2), dim=4)
    for m, s in zip(mono, stereo):
        assert abs(m - s) < 0.02  # same signal in both channels -> same envelope


def test_extract_features_audio_real_path(spark):
    """extract_features with modality dispatch: audio rows use the REAL
    WAV decoder (error-as-record for garbage payloads)."""
    rows = [
        (1, _make_wav(amp=0.5), "audio"),
        (2, b"not a wav at all", "audio"),
        (3, b"anything", "other"),  # falls back to the documented fake
    ]
    media = spark.createDataFrame(
        rows, "media_id long, content binary, modality string"
    )
    out = {
        r.media_id: r
        for r in multimodal.extract_features(
            media, dim=4, modality_col="modality"
        ).collect()
    }
    assert out[1].decode_ok == "ok"
    expected = 0.5 / (2**0.5)
    assert all(abs(v - expected) < 0.02 for v in out[1].feature)
    assert out[2].decode_ok.startswith("error:")
    assert out[2].feature is None
    assert out[3].decode_ok == "ok" and len(out[3].feature) == 4


def test_wav_features_sine_physics():
    """wav_features: on a pure sine the DSP signals hit their closed-form
    values — RMS = amp/sqrt(2), peak = amp, ZCR = 2f/rate, spectral
    centroid = f (within FFT-leakage tolerance)."""
    from etl_tools_rs_spark.operators.multimodal import wav_features

    f = wav_features(_make_wav(freq=1000.0, seconds=0.5, rate=8000, amp=0.5))
    assert f["sample_rate"] == 8000 and f["duration_ms"] == 500
    assert abs(f["rms"] - 0.5 / 2**0.5) < 0.01
    assert abs(f["peak"] - 0.5) < 0.01
    assert abs(f["zero_crossing_rate"] - 2 * 1000.0 / 8000) < 0.01
    assert abs(f["spectral_centroid_hz"] - 1000.0) < 30.0
    # centroid tracks frequency
    g = wav_features(_make_wav(freq=2000.0, seconds=0.5, rate=8000, amp=0.5))
    assert g["spectral_centroid_hz"] > f["spectral_centroid_hz"] + 500
    s = wav_features(_make_wav(amp=0.0))
    assert s["rms"] == 0.0 and s["spectral_centroid_hz"] == 0.0


def test_audio_features_operator(spark):
    """audio_features mapInPandas stage: real clips decode with correct
    per-clip DSP, garbage is error-as-record."""
    rows = [
        (1, _make_wav(freq=500.0, amp=0.4)),
        (2, _make_wav(freq=1500.0, amp=0.8)),
        (3, b"not audio"),
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    out = {
        r.media_id: r for r in multimodal.audio_features(media).collect()
    }
    assert out[1].decode_ok == "ok" and out[2].decode_ok == "ok"
    assert out[3].decode_ok.startswith("error:") and out[3].rms is None
    assert out[2].spectral_centroid_hz > out[1].spectral_centroid_hz + 500
    assert out[2].peak > out[1].peak
    assert abs(out[1].zero_crossing_rate - 2 * 500.0 / 8000) < 0.01


def test_lsh_mega_bucket_cap(spark):
    """Mega-bucket guard: N identical docs put all rows in one bucket per
    band -> quadratic pairs uncapped; salt-splitting bounds candidates,
    dropping eliminates them. (VERDICT r2 #6)"""
    n = 200
    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(n)]
    rows += [(n, "another unrelated document entirely"), (n + 1, "another unrelated document entirely!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    kwargs = dict(num_hashes=8, bands=2, shingle_n=2, threshold=0.8)
    uncapped = dedup.dedup_minhash_lsh(df, **kwargs).count()
    assert uncapped >= n * (n - 1) // 2  # quadratic blowup is real

    salted = dedup.dedup_minhash_lsh(
        df, max_bucket_size=20, oversize_policy="salt", **kwargs
    ).count()
    # each of ~10 shards contributes <= C(~20,2) pairs per band; far below n^2/2
    assert 0 < salted < uncapped / 3

    dropped = dedup.dedup_minhash_lsh(
        df, max_bucket_size=20, oversize_policy="drop", **kwargs
    )
    drop_ids = {(r.id_a, r.id_b) for r in dropped.collect()}
    # the boilerplate cluster's bucket is dropped; small buckets survive
    assert all(a >= n or b >= n for a, b in drop_ids)


def test_connected_components_long_chain(spark):
    """A 1,000-node path graph: plain min-label propagation needs ~1,000
    rounds; large-star/small-star converges within the iteration budget.
    (VERDICT r2 #7)"""
    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = dedup.connected_components(pairs, max_iterations=15)
    rows = out.collect()
    assert len(rows) == n
    assert {r.group_id for r in rows} == {0}  # one component, min-labeled


def test_connected_components_raises_without_fixpoint(spark):
    """A 3,000-node chain over shuffled ids needs more than two star
    rounds. With ``max_iterations=2`` on the fixpoint path the last round
    still changes the edges, and labelling that half-contracted forest
    gave 560 groups instead of 1; it must raise instead."""
    import random

    import pytest

    ids = list(range(3000))
    random.Random(12).shuffle(ids)
    pairs = spark.createDataFrame(
        list(zip(ids, ids[1:])), "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        dedup.connected_components(
            pairs, max_iterations=2, driver_max_edges=0
        )


def test_connected_components_rejects_float_ids(spark):
    """Float ids raise before any Spark job runs: the driver path's
    Python ``<`` orders NaN differently from Spark, so the two CC paths
    could label a component differently."""
    import pytest

    nan = float("nan")
    sc = spark.sparkContext
    group = "test_connected_components_rejects_float_ids"
    both = spark.createDataFrame(
        [(1.0, nan), (nan, 2.0), (2.0, 3.0)], "id_a double, id_b double"
    )
    one_side = spark.createDataFrame([(1, nan)], "id_a long, id_b float")
    sc.setJobGroup(group, "float-id refusal")
    try:
        for pairs in (both, one_side):
            with pytest.raises(ValueError, match="float ids"):
                dedup.connected_components(pairs, driver_max_edges=10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_connected_components_matches_naive_union_find(spark):
    """Property check: result equals a driver-side union-find transitive
    closure on seeded random graphs."""
    import random

    rng = random.Random(7)
    n, m = 120, 90
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {a for e in edges for a in e}
    expected = {x: find(x) for x in touched}
    # normalize: group id must be the component min
    comp_min = {}
    for x, r in expected.items():
        comp_min.setdefault(r, x)
        comp_min[r] = min(comp_min[r], x)
    expected = {x: comp_min[find(x)] for x in touched}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.member_id: r.group_id
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == expected


def test_connected_components_count_first_fixpoint_exact(spark):
    """The r9 count-first fixpoint test (unequal counts => changed, one
    exceptAll direction on equal counts) must never break a round early:
    multi-round structures — chains, stars, and seeded random graphs —
    all match a driver-side union-find closure."""
    import random

    def reference(edges):
        nodes = sorted({a for e in edges for a in e})
        parent = {x: x for x in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp_min = {}
        for x in nodes:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        return {x: comp_min[find(x)] for x in nodes}

    cases = [
        # two parallel chains (counts can repeat across star rounds)
        [(i, i + 1) for i in range(0, 40)]
        + [(100 + i, 101 + i) for i in range(0, 40)],
        # binary-tree-ish star structure
        [(i, 2 * i + 1) for i in range(31)] + [(i, 2 * i + 2) for i in range(31)],
    ]
    rng = random.Random(11)
    for seed in range(3):
        n, m = 80, 60
        es = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        cases.append([(a, b) for a, b in es if a != b])
    for edges in cases:
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r.member_id: r.group_id
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == reference(edges)


def test_connected_components_driver_path_matches_distributed(
    spark, monkeypatch
):
    """The driver union-find path (distinct edge count <=
    driver_max_edges) and the distributed star fixpoint agree row for
    row on a 10^4-edge graph: one long chain over shuffled ids (the
    many-round case for the fixpoint) plus random edges. Each arm's path
    is asserted by counting ``_cc_union_find`` calls: exactly AT the
    threshold and at the default the driver path runs, just below it and
    at 0 the fixpoint runs. String node ids travel the same contract."""
    import random

    rng = random.Random(23)
    n_nodes, chain_len, n_random = 20_000, 6_000, 5_000
    ids = rng.sample(range(n_nodes), n_nodes)
    chain = ids[:chain_len]
    edges = list(zip(chain, chain[1:]))
    edges += [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_random)
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    n_distinct = len({(a, b) for a, b in edges if a != b})
    assert n_distinct >= 10_000

    union_find_calls = []
    real_union_find = dedup._cc_union_find

    def counting_union_find(rows):
        union_find_calls.append(len(rows))
        return real_union_find(rows)

    monkeypatch.setattr(dedup, "_cc_union_find", counting_union_find)

    def run(**kw):
        union_find_calls.clear()
        got = {
            (r.member_id, r.group_id)
            for r in dedup.connected_components(pairs, **kw).collect()
        }
        return got, list(union_find_calls)

    distributed, calls = run(driver_max_edges=0)
    assert calls == []
    labels = dict(distributed)
    assert len(labels) == len({x for e in edges for x in e if e[0] != e[1]})
    assert len({labels[x] for x in chain}) == 1  # the chain is one component
    assert labels[chain[0]] <= min(chain)

    at_threshold, calls = run(driver_max_edges=n_distinct)
    assert calls == [n_distinct] and at_threshold == distributed
    below, calls = run(driver_max_edges=n_distinct - 1)
    assert calls == [] and below == distributed
    default, calls = run()
    assert calls == [n_distinct] and default == distributed

    # string ids travel the same contract (min is lexicographic)
    spairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "id_a string, id_b string"
    )
    want = {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}
    got_driver = {
        (r.member_id, r.group_id)
        for r in dedup.connected_components(
            spairs, driver_max_edges=100
        ).collect()
    }
    got_dist = {
        (r.member_id, r.group_id)
        for r in dedup.connected_components(
            spairs, driver_max_edges=0
        ).collect()
    }
    assert got_driver == got_dist == want


def test_wav_pipeline_decodes_all_real(spark):
    """The registry's WAV pipeline uses the REAL stdlib decoder end to
    end: every synthesized blob decodes ok and the RMS envelope is
    non-trivial (sine amplitude ~12000/32768 ≈ 0.37 per bucket)."""
    from etl_tools_rs_spark.queries import REGISTRY

    rows = REGISTRY["multimodal_wav_pipeline"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 64
    assert all(r.decode_ok == "ok" for r in rows)
    for r in rows:
        # bucket RMS varies with where the sine phase lands in the
        # 100-sample bucket; amplitude 12000/32768 bounds it well inside
        assert 0.05 < r.rms0 < 0.6 and 0.05 < r.rms7 < 0.6


def test_wav_decoder_rejects_garbage_as_record(spark):
    from etl_tools_rs_spark.operators.multimodal import extract_features

    media = spark.createDataFrame(
        [(1, b"not a wav at all", "audio/wav")],
        "media_id long, content binary, modality string",
    )
    [r] = extract_features(media, dim=4, modality_col="modality").collect()
    assert r.decode_ok.startswith("error:") and r.feature is None


def test_bmp_decoder_hand_built_exact():
    """Pure-python check (no Spark): a hand-packed 2x2 24-bit BMP decodes
    to exact per-band brightness."""
    import struct

    from etl_tools_rs_spark.operators.multimodal import decode_media

    # rows bottom-up: file row0 = image BOTTOM = white,white; row1 = top = black,black
    stride_pad = b"\x00\x00"  # 2*3=6 -> stride 8
    pixels = (b"\xff\xff\xff" * 2 + stride_pad) + (b"\x00\x00\x00" * 2 + stride_pad)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    vals = decode_media(head + info + bytes(pixels), "image/bmp", 2)
    assert vals == [0.0, 1.0]  # top band black, bottom band white

    import pytest

    with pytest.raises(ValueError):
        decode_media(b"not a bmp", "image/bmp", 2)
    # compressed BMP (compression=1) must be rejected, not garbage-decoded
    bad_info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 1, len(pixels), 0, 0, 0, 0)
    with pytest.raises(ValueError):
        decode_media(head + bad_info + bytes(pixels), "image/bmp", 2)


def test_unsupported_image_format_is_error_record(spark):
    """An image payload outside BMP/PNG/baseline JPEG (here a GIF) is an
    error record, not a fake feature vector marked ok."""
    from etl_tools_rs_spark.operators.multimodal import extract_features

    gif = (
        b"GIF89a\x01\x00\x01\x00\x80\x00\x00\x00\x00\x00\xff\xff\xff!"
        b"\xf9\x04\x01\x00\x00\x00\x00,\x00\x00\x00\x00\x01\x00\x01\x00"
        b"\x00\x02\x02D\x01\x00;"
    )
    media = spark.createDataFrame(
        [(1, gif, "image/gif")], "media_id long, content binary, modality string"
    )
    [r] = extract_features(media, dim=4, modality_col="modality").collect()
    assert r.decode_ok.startswith("error:") and r.feature is None


def test_bmp_pipeline_decodes_all_real(spark):
    from etl_tools_rs_spark.queries import REGISTRY

    rows = REGISTRY["multimodal_bmp_pipeline"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 32
    assert all(r.decode_ok == "ok" for r in rows)
    # id 0: plain vertical gradient -> bottom band much brighter than top
    r0 = next(r for r in rows if r.media_id == 0)
    assert r0.band3 - r0.band0 > 0.5


def _pack_bmp(pixel_rows):
    """Pack a list of image rows (top-down, each a list of (b,g,r) byte
    triples) into an uncompressed 24-bit BMP."""
    import struct

    h = len(pixel_rows)
    w = len(pixel_rows[0])
    stride = ((w * 3 + 3) // 4) * 4
    body = bytearray()
    for row in reversed(pixel_rows):  # stored bottom-up
        for px in row:
            body += bytes(px)
        body += b"\x00" * (stride - w * 3)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    return head + info + bytes(body)


class TestImageAhash:
    def _img(self, seed, flip_one_pixel=False):
        rows = []
        for r in range(16):
            row = []
            for c in range(16):
                shade = 255 if ((r // 2 + c // 2 + seed) % 2 == 0) else 0
                row.append((shade, shade, shade))
            rows.append(row)
        if flip_one_pixel:
            b, g, rr = rows[0][0]
            rows[0][0] = (255 - b, 255 - g, 255 - rr)
        return _pack_bmp(rows)

    def test_identical_images_hash_identically(self):
        from etl_tools_rs_spark.operators.multimodal import ahash_bytes

        assert ahash_bytes(self._img(0)) == ahash_bytes(self._img(0))
        assert len(ahash_bytes(self._img(0))) == 16

    def test_small_edit_small_hamming(self):
        from etl_tools_rs_spark.operators.multimodal import ahash_bytes

        a = int(ahash_bytes(self._img(0)), 16)
        b = int(ahash_bytes(self._img(0, flip_one_pixel=True)), 16)
        assert bin(a ^ b).count("1") <= 2

    def test_different_images_large_hamming(self):
        from etl_tools_rs_spark.operators.multimodal import ahash_bytes

        a = int(ahash_bytes(self._img(0)), 16)
        b = int(ahash_bytes(self._img(1)), 16)  # inverted checkerboard
        assert bin(a ^ b).count("1") > 16

    def test_hamming_column_matches_python(self, spark):
        from pyspark.sql import functions as F

        from etl_tools_rs_spark.operators.multimodal import ahash_hamming

        df = spark.createDataFrame(
            [("00ff00ff00ff00ff", "00ff00ff00ff00fe"),
             ("0000000000000000", "ffffffffffffffff")],
            "a string, b string",
        )
        got = [r.h for r in df.select(ahash_hamming(F.col("a"), F.col("b")).alias("h")).collect()]
        assert got == [1, 64]

    def test_near_dup_pipeline_end_to_end(self, spark):
        from etl_tools_rs_spark.operators.multimodal import (
            ahash_near_dup,
            image_ahash,
        )

        payloads = [
            (0, self._img(0)), (1, self._img(0)),          # exact dups
            (2, self._img(0, flip_one_pixel=True)),        # near dup of 0/1
            (3, self._img(1)), (4, b"garbage not an image"),
        ]
        media = spark.createDataFrame(payloads, "media_id long, content binary")
        hashes = image_ahash(media)
        by_id = {r.media_id: r for r in hashes.collect()}
        assert by_id[4].decode_ok.startswith("error:")
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in ahash_near_dup(hashes, max_hamming=4).collect()
        }
        assert pairs[(0, 1)] == 0
        assert (0, 2) in pairs and pairs[(0, 2)] <= 4
        assert all(3 not in p for p in pairs)

    def test_max_hamming_validation(self, spark):
        import pytest

        from etl_tools_rs_spark.operators.multimodal import ahash_near_dup

        df = spark.createDataFrame([(1, "ff")], "media_id long, ahash string")
        with pytest.raises(ValueError):
            ahash_near_dup(df, max_hamming=-1)
        with pytest.raises(ValueError):
            ahash_near_dup(df, max_hamming=99, hex_len=16)


class TestImageResize:
    """REAL resize path (operators/multimodal.py::resize_image_real /
    image_resize): area-average downsample over the stdlib decoders."""

    def _gradient_bmp(self, w=16, h=16):
        rows = []
        for r in range(h):
            shade = (r * 255) // max(1, h - 1)
            rows.append([(shade, shade, shade)] * w)
        return _pack_bmp(rows)

    def test_constant_image_resizes_constant(self):
        from etl_tools_rs_spark.operators.multimodal import resize_image_real

        img = _pack_bmp([[(128, 128, 128)] * 8 for _ in range(8)])
        px = resize_image_real(img, 4, 4)
        assert len(px) == 4 and all(len(r) == 4 for r in px)
        for row in px:
            for v in row:
                assert abs(v - 128 / 255.0) < 1e-9

    def test_vertical_gradient_preserved(self):
        from etl_tools_rs_spark.operators.multimodal import resize_image_real

        px = resize_image_real(self._gradient_bmp(), 4, 4)
        col = [row[0] for row in px]
        assert col == sorted(col) and col[-1] > col[0] + 0.5

    def test_block_mean_exact_2x_downsample(self):
        from etl_tools_rs_spark.operators.multimodal import _block_mean_resize

        rows = [[0.0, 1.0, 0.0, 1.0], [1.0, 0.0, 1.0, 0.0],
                [0.0, 0.0, 1.0, 1.0], [0.0, 0.0, 1.0, 1.0]]
        out = _block_mean_resize(rows, 2, 2)
        assert out == [[0.5, 0.5], [0.0, 1.0]]

    def test_png_path_and_upsample(self):
        from tests.test_png import make_png

        from etl_tools_rs_spark.operators.multimodal import resize_image_real

        png = make_png(
            [[(0,), (255,)], [(255,), (0,)]], color_type=0
        )
        px = resize_image_real(png, 4, 4)  # 2x2 -> 4x4 nearest-ish
        assert len(px) == 4 and len(px[0]) == 4
        assert px[0][0] < 0.01 and px[0][3] > 0.99  # corners preserved

    def test_jpeg_resizes_like_its_bmp_rendition(self, spark):
        """A baseline JPEG goes through the same decoder dispatch as BMP:
        it decodes ok, and its grid matches the BMP rendition of the
        same image within JPEG quantization error."""
        import numpy as np

        from etl_tools_rs_spark.operators.jpeg import encode_baseline_jpeg
        from etl_tools_rs_spark.operators.multimodal import image_resize

        r = np.arange(16).reshape(-1, 1)
        c = np.arange(16).reshape(1, -1)
        y = ((r * 255 // 15) // 2 + 120 * ((c // 8) % 2)).astype(np.uint8)
        bmp = _pack_bmp([[(int(v),) * 3 for v in row] for row in y])
        rows = [(1, bmp), (2, encode_baseline_jpeg(y, q=4))]
        media = spark.createDataFrame(rows, "media_id long, content binary")
        out = {r.media_id: r for r in image_resize(media, 4, 4).collect()}
        assert out[1].decode_ok == "ok" and out[2].decode_ok == "ok"
        err = np.abs(np.array(out[2].pixels) - np.array(out[1].pixels))
        assert err.shape == (4, 4) and err.max() < 0.02, err

    def test_operator_error_as_record(self, spark):
        from etl_tools_rs_spark.operators.multimodal import image_resize

        rows = [(1, self._gradient_bmp()), (2, b"garbage")]
        media = spark.createDataFrame(rows, "media_id long, content binary")
        out = {r.media_id: r for r in image_resize(media, 4, 4).collect()}
        assert out[1].decode_ok == "ok"
        assert len(out[1].pixels) == 4 and len(out[1].pixels[0]) == 4
        assert out[1].width == 4 and out[1].height == 4
        assert out[2].decode_ok.startswith("error:") and out[2].pixels is None


def _pack_avi(frame_rows_list, us_per_frame=40000):
    """Pack top-down rows-of-(b,g,r) frames into a minimal uncompressed
    AVI (RIFF → hdrl(avih) + movi(00db...)). Independent of the decoder:
    packs the spec forward, the demux must invert it."""
    import struct

    h = len(frame_rows_list[0])
    w = len(frame_rows_list[0][0])
    stride = ((w * 3 + 3) // 4) * 4

    def dib(rows):
        body = bytearray()
        for row in reversed(rows):  # bottom-up
            for px in row:
                body += bytes(px)
            body += b"\x00" * (stride - w * 3)
        return bytes(body)

    def chunk(fourcc, data):
        pad = b"\x00" if len(data) & 1 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    avih = struct.pack(
        "<IIIIIIIIII4I",
        us_per_frame, 0, 0, 0, len(frame_rows_list), 0, 1, 0, w, h,
        0, 0, 0, 0,
    )
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    movi = chunk(
        b"LIST", b"movi" + b"".join(chunk(b"00db", dib(f)) for f in frame_rows_list)
    )
    payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


class TestVideoFrameSample:
    def _avi(self, n_frames=6, fps_us=40000, w=8, h=8):
        frames = []
        for i in range(n_frames):
            shade = (i * 255) // max(1, n_frames - 1)
            frames.append([[(shade, shade, shade)] * w for _ in range(h)])
        return _pack_avi(frames, us_per_frame=fps_us)

    def test_demux_roundtrip(self):
        from etl_tools_rs_spark.operators.multimodal import avi_frames

        w, h, usec, frames = avi_frames(self._avi())
        assert (w, h, usec, len(frames)) == (8, 8, 40000, 6)

    def test_rejects_garbage_and_compressed_size(self):
        import pytest as _pt

        from etl_tools_rs_spark.operators.multimodal import avi_frames

        with _pt.raises(ValueError):
            avi_frames(b"not an avi")
        # frame byte-size mismatch = compressed stream -> explicit error
        avi = bytearray(self._avi(n_frames=1))
        avi[-10:] = b""  # truncate the single frame
        with _pt.raises(ValueError):
            avi_frames(bytes(avi))

    def test_sampling_cadence_and_decode(self, spark):
        from etl_tools_rs_spark.operators.multimodal import video_frame_sample

        # 6 frames at 25 fps (40 ms): ts = 0,40,80,120,160,200 ms;
        # every_ms=100 keeps ts 0, 120 (first >= 100), 200 -> wait:
        # next_target after 120 is 220 > 200, so kept = 0, 120
        media = spark.createDataFrame(
            [(1, self._avi()), (2, b"junk")], "media_id long, content binary"
        )
        out = video_frame_sample(media, every_ms=100, grid=(2, 2)).collect()
        by_id = {}
        for r in out:
            by_id.setdefault(r.media_id, []).append(r)
        kept = sorted((r.frame_idx, r.ts_ms) for r in by_id[1])
        assert kept == [(0, 0), (3, 120)]
        # frame 0 is black, frame 3 is mid-gray: pixels track the gradient
        px = {r.frame_idx: r.pixels for r in by_id[1]}
        assert px[0][0][0] < 0.01 and 0.4 < px[3][0][0] < 0.8
        assert all(r.decode_ok == "ok" for r in by_id[1])
        err = by_id[2][0]
        assert err.decode_ok.startswith("error:") and err.pixels is None

    def test_every_ms_validation(self, spark):
        import pytest as _pt

        from etl_tools_rs_spark.operators.multimodal import video_frame_sample

        media = spark.createDataFrame([(1, b"")], "media_id long, content binary")
        with _pt.raises(ValueError):
            video_frame_sample(media, every_ms=0)

    def test_zero_frame_rate_is_error_record(self, spark):
        # dwMicroSecPerFrame=0 would give every frame ts_ms=0 and
        # silently sample only frame 0 — must surface as an error row
        from etl_tools_rs_spark.operators.multimodal import video_frame_sample

        media = spark.createDataFrame(
            [(1, self._avi(fps_us=0)), (2, self._avi())],
            "media_id long, content binary",
        )
        out = video_frame_sample(media, every_ms=100).collect()
        by_id = {}
        for r in out:
            by_id.setdefault(r.media_id, []).append(r)
        assert len(by_id[1]) == 1
        assert by_id[1][0].decode_ok.startswith("error:")
        assert "frame rate" in by_id[1][0].decode_ok
        assert all(r.decode_ok == "ok" for r in by_id[2])


class TestKeepBestPerGroup:
    """Quality-aware canonical selection (r5): keep-best beats keep-min-id."""

    def _run(self, spark, rows, groups_rows):
        from etl_tools_rs_spark.operators.dedup import keep_best_per_group

        df = spark.createDataFrame(rows, ["doc_id", "q"])
        groups = spark.createDataFrame(groups_rows, ["member_id", "group_id"])
        out = keep_best_per_group(df, groups, "q")
        return {r["doc_id"]: (r["q"], r["n_merged"]) for r in out.collect()}

    def test_highest_quality_wins(self, spark):
        got = self._run(
            spark,
            [(1, 10), (2, 99), (3, 50), (7, 5)],
            [(1, 1), (2, 1), (3, 1)],
        )
        # doc 2 has the best quality in the cluster; 7 is a singleton
        assert got == {2: (99, 2), 7: (5, 0)}

    def test_tie_breaks_to_smaller_id(self, spark):
        got = self._run(
            spark, [(4, 7), (9, 7), (6, 7)], [(4, 4), (9, 4), (6, 4)]
        )
        assert got == {4: (7, 2)}

    def test_matches_brute_force(self, spark):
        import random

        rng = random.Random(5)
        rows = [(i, rng.randint(0, 5)) for i in range(40)]
        # three clusters + singletons
        groups = [(i, (i % 3) * 100) for i in range(24)]
        got = self._run(spark, rows, groups)
        q = dict(rows)
        keep = {}
        for gid in {g for _, g in groups}:
            members = [m for m, g in groups if g == gid]
            best = min(members, key=lambda m: (-q[m], m))
            keep[best] = (q[best], len(members) - 1)
        for i in range(24, 40):
            keep[i] = (q[i], 0)
        assert got == keep

    def test_keep_best_plan_has_no_window(self, spark):
        """The argmax must be a max-of-struct hash aggregate, never a
        rank window (windows sort every group; the aggregate is one
        map-side-combinable pass)."""
        from etl_tools_rs_spark.operators.dedup import keep_best_per_group

        df = spark.createDataFrame([(1, 2), (2, 3)], ["doc_id", "q"])
        groups = spark.createDataFrame(
            [(1, 1), (2, 1)], ["member_id", "group_id"]
        )
        plan = (
            keep_best_per_group(df, groups, "q")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan
