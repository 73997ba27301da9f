"""Behavioral unit tests for the pipeline operators, on hand-built
micro-datasets where the right answer is known by construction
(recall/precision properties that the rows-only driver check can't see).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_arrow_spark.operators import (
    asof_join,
    brute_force_topk,
    dedup_exact,
    ivf_topk,
    minhash_candidate_pairs,
)
from clickhouse_arrow_spark.operators.dedup import (
    _spread,
    minhash_signatures,
    simhash_fingerprints,
    simhash_near_pairs,
)
from clickhouse_arrow_spark.operators.multimodal import (
    attach_payload,
    decode_features,
    require_real_decoder,
)
from clickhouse_arrow_spark.operators.similarity import embedding_near_duplicates
from clickhouse_arrow_spark.operators.text import language_id, token_count


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat again and again"),  # near dup
        (4, "completely different content about spark query engines here now"),
        (5, "THE  QUICK   brown fox jumps over the lazy dog again and again"),  # case/ws dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_normalization(docs):
    out = dedup_exact(docs).orderBy("doc_id").collect()
    # 1,2,5 collapse (case/whitespace normalize); 3 and 4 survive alone
    by_id = {r["doc_id"]: r["n_copies"] for r in out}
    assert by_id == {1: 3, 3: 1, 4: 1}


def test_minhash_exact_dups_score_one(docs):
    pairs = minhash_candidate_pairs(docs, threshold=0.5).collect()
    scores = {(r["a_id"], r["b_id"]): r["est_jaccard"] for r in pairs}
    assert scores[(1, 2)] == 1.0
    assert scores[(1, 5)] == 1.0  # normalization folds case/whitespace
    assert (1, 3) in scores  # near-dup must be found
    assert 0.3 < scores[(1, 3)] < 1.0
    assert (1, 4) not in scores and (3, 4) not in scores  # unrelated


def test_minhash_signature_shape(docs):
    sig = minhash_signatures(docs, num_hashes=32).first()
    assert len(sig["signature"]) == 32


def test_simhash_near_and_far(docs):
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert fps[1] == fps[2] == fps[5]  # identical after normalization
    ham_near = bin(fps[1] ^ fps[3]).count("1")
    ham_far = bin(fps[1] ^ fps[4]).count("1")
    assert ham_near < ham_far
    pairs = {(r["a_id"], r["b_id"]) for r in simhash_near_pairs(docs, max_hamming=8).collect()}
    assert (1, 2) in pairs and (1, 5) in pairs


def test_simhash_portable_matches_hashlib_replica(docs):
    """Definition-level pin for the portable (md5-based) simhash: the
    expected fingerprints come from an independent pure-Python replica
    built on hashlib.md5 — a different md5 implementation than the
    JVM's — so a shared misreading of the construction cannot live on
    both sides (the oracle-classes reformulation contract)."""
    import hashlib
    import re

    from clickhouse_arrow_spark.operators.dedup import (
        simhash_fingerprints_portable,
    )

    def replica(text):
        toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
        los, his = [], []
        for tok in toks:
            h = hashlib.md5(tok.encode()).hexdigest()
            los.append(int(h[0:8], 16))
            his.append(int(h[8:16], 16))

        def half(hs):
            w = 0
            for i in range(32):
                vote = sum(1 if (h >> i) & 1 else -1 for h in hs)
                if vote > 0:
                    w |= 1 << i
            return w

        return half(his), half(los)

    got = {
        r["doc_id"]: (r["sim_hi"], r["sim_lo"])
        for r in simhash_fingerprints_portable(docs).collect()
    }
    for doc_id, text in [(r["doc_id"], r["text"]) for r in docs.collect()]:
        assert got[doc_id] == replica(text), f"doc {doc_id}"
    # normalization still folds the case/whitespace dups together
    assert got[1] == got[2] == got[5]


def test_simhash_portable_pairs_pigeonhole_exact(docs):
    """The 4x16-bit pigeonhole blocking must return EXACTLY the
    brute-force Hamming<=3 pair set (deterministic, not probabilistic:
    any pair within Hamming < 4 agrees on at least one block)."""
    from clickhouse_arrow_spark.operators.dedup import (
        simhash_fingerprints_portable,
        simhash_near_pairs_portable,
    )

    fps = {
        r["doc_id"]: (r["sim_hi"] << 32) | r["sim_lo"]
        for r in simhash_fingerprints_portable(docs).collect()
    }
    ids = sorted(fps)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {
        (r["a_id"], r["b_id"])
        for r in simhash_near_pairs_portable(docs, max_hamming=3).collect()
    }
    assert got == brute
    assert (1, 2) in got and (1, 5) in got  # exact dups at Hamming 0


def test_minhash_verified_pairs_equal_ground_truth(spark):
    """LSH-candidates + exact-Jaccard verification must reproduce the
    blocked TRUE-Jaccard pair set (the value-level contract behind the
    upgraded shingle_minhash_lsh oracle)."""
    from clickhouse_arrow_spark.operators.dedup import (
        minhash_verified_pairs,
        shingle_jaccard_pairs,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (1, base, "en"),
        (2, base, "en"),                       # exact dup
        (3, base.replace("sigma", "sigmaX"), "en"),  # near dup
        (4, "totally different words entirely here", "en"),
        (5, base, "fr"),                       # same text, other group
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in minhash_verified_pairs(docs).collect()
    }
    want = {
        (r["a_id"], r["b_id"], round(r["jaccard"], 6))
        for r in shingle_jaccard_pairs(docs, threshold=0.9).collect()
    }
    assert got == want
    assert (1, 2, 1.0) in got          # exact dup survives at J=1
    assert not any(5 in (a, b) for a, b, _ in got)  # blocked by group


def test_brute_force_topk_self_is_nearest(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = brute_force_topk(emb, queries, k=5).collect()
    best = {r["query_id"]: r["vec_id"] for r in top if r["rank"] == 1}
    assert best == {0: 0, 1: 1, 2: 2}  # each vector's nearest neighbor is itself
    sims = [r["cosine"] for r in top if r["rank"] == 1]
    assert all(abs(s - 1.0) < 1e-6 for s in sims)


def test_ivf_recall_vs_brute_force(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(emb, queries, k=5, nlist=8, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # self-match must survive probing (query vectors are corpus members)
    assert all((q, q) in approx for q in range(5))


def test_embedding_near_duplicates_finds_clones(spark):
    base = [0.5] * 8
    rows = [
        (1, base),
        (2, [v * 1.001 for v in base]),        # scaled clone, cosine == 1
        (3, [-v for v in base]),               # opposite
        (4, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["a_id"], r["b_id"]): r["cosine"]
        for r in embedding_near_duplicates(emb, threshold=0.95, nlist=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.999
    assert (1, 3) not in pairs


def test_asof_join_semantics(spark):
    trades = spark.createDataFrame(
        [(1, 10, "t1"), (1, 25, "t2"), (2, 10, "t3"), (1, 4, "t0")],
        "sym long, t long, trade string",
    )
    quotes = spark.createDataFrame(
        [(1, 5, 100.0), (1, 20, 110.0), (2, 50, 200.0)],
        "sym long, t long, px double",
    )
    out = {
        r["trade"]: r["px"]
        for r in asof_join(
            trades, quotes, by="sym", left_time="t", right_time="t", value_cols=["px"]
        ).collect()
    }
    assert out == {"t0": None, "t1": 100.0, "t2": 110.0, "t3": None}


def test_asof_join_equal_time_matches(spark):
    left = spark.createDataFrame([(1, 10)], "k long, t long")
    right = spark.createDataFrame([(1, 10, "x")], "k long, t long, v string")
    row = asof_join(left, right, by="k", left_time="t", right_time="t").first()
    assert row["v"] == "x"  # right row at equal time IS visible (t >= t)


def test_multimodal_decode_shapes(docs):
    feats = decode_features(attach_payload(docs)).collect()
    assert len(feats) == 5
    for r in feats:
        assert len(r["features"]) == 8
        assert 16 <= r["width"] < 1040 and 16 <= r["height"] < 1040
    # determinism: same payload -> same features
    by_id = {r["doc_id"]: r["features"] for r in feats}
    assert by_id[1] == by_id[2]


def test_multimodal_unknown_mime_raises():
    with pytest.raises(NotImplementedError):
        require_real_decoder("image/jpeg")


def test_ppm_encode_decode_roundtrip():
    from clickhouse_arrow_spark.operators.multimodal import decode_ppm, encode_ppm

    payload = encode_ppm(42)
    w, h, pixels = decode_ppm(payload)
    assert (w, h) == (4 + 42 % 13, 4 + 42 % 7)
    assert len(pixels) == w * h * 3
    assert pixels[0] == (42 * 31) % 256 and pixels[7] == (42 * 31 + 49) % 256


def test_ppm_parser_handles_comments_and_rejects_garbage():
    from clickhouse_arrow_spark.operators.multimodal import decode_ppm

    # hand-built P6 with interleaved comments and multi-space layout
    raw = b"P6\n# c1\n2 # trailing\n# c2\n1\n255\n" + bytes(range(6))
    w, h, pixels = decode_ppm(raw)
    assert (w, h) == (2, 1) and pixels == bytes(range(6))
    with pytest.raises(ValueError, match="not a binary PPM"):
        decode_ppm(b"P5\n1 1\n255\n\x00")
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6\n2 2\n255\n\x00\x01")
    with pytest.raises(ValueError, match="2-byte"):
        decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")


def test_ppm_real_codec_through_decode_features(spark):
    from clickhouse_arrow_spark.operators.multimodal import (
        attach_ppm_payload,
        decode_features,
        encode_ppm,
    )

    df = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    feats = {r["doc_id"]: r for r in decode_features(attach_ppm_payload(df)).collect()}
    assert len(feats) == 20
    for i in range(20):
        r = feats[i]
        assert (r["width"], r["height"]) == (4 + i % 13, 4 + i % 7)
        # features are real pixel statistics in [0, 1]
        assert all(0.0 <= x <= 1.0 for x in r["features"])
        # mean-of-channel-means equals feature 3
        assert abs((r["features"][0] + r["features"][1] + r["features"][2]) / 3
                   - r["features"][3]) < 1e-6
    # cross-check one channel mean against raw bytes
    from clickhouse_arrow_spark.operators.multimodal import decode_ppm

    w, h, pixels = decode_ppm(encode_ppm(5))
    # features column is float32 — compare at float32 precision
    assert abs(feats[5]["features"][0] - sum(pixels[0::3]) / (255.0 * w * h)) < 1e-6


def test_token_count_simple(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 tokens?")], "doc_id long, text string")
    r = token_count(df).first()
    assert r["ws_tokens"] == 4
    # Hello , world ! 42 tokens ?  -> 7 BPE-ish pieces
    assert r["bpe_tokens"] == 7


def test_language_id_stopword_votes(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze ist das"),
            (3, "le chat et les chiens des villes"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr"}


def test_asof_join_forward(spark):
    trades = spark.createDataFrame(
        [(1, 10, "t1"), (1, 25, "t2"), (1, 4, "t0")],
        "sym long, t long, trade string",
    )
    quotes = spark.createDataFrame(
        [(1, 5, 100.0), (1, 20, 110.0)], "sym long, t long, px double"
    )
    out = {
        r["trade"]: r["px"]
        for r in asof_join(
            trades, quotes, by="sym", left_time="t", right_time="t",
            value_cols=["px"], direction="forward",
        ).collect()
    }
    # t0 (t=4) -> next quote at t=5; t1 (t=10) -> t=20; t2 (t=25) -> none
    assert out == {"t0": 100.0, "t1": 110.0, "t2": None}


def test_limit_by(spark):
    from pyspark.sql import functions as F

    from clickhouse_arrow_spark.operators.timeseries import limit_by

    df = spark.createDataFrame(
        [(1, 3), (1, 1), (1, 2), (2, 9), (2, 8)], "k long, v long"
    )
    out = limit_by(df, 2, ["k"], [F.col("v")]).orderBy("k", "v").collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, 1), (1, 2), (2, 8), (2, 9)]


def test_fill_gaps(spark):
    import datetime

    from clickhouse_arrow_spark.operators.timeseries import fill_gaps

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", base, 1.0),
        ("a", base + datetime.timedelta(minutes=10), 2.0),  # gap at +5
        ("b", base, 5.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = fill_gaps(
        df, "ts", 300, group_cols=["g"], fill_values={"v": 0.0}
    ).orderBy("g", "ts").collect()
    # spine: 3 buckets per group x 2 groups
    assert len(out) == 6
    a_vals = [r["v"] for r in out if r["g"] == "a"]
    b_vals = [r["v"] for r in out if r["g"] == "b"]
    assert a_vals == [1.0, 0.0, 2.0]
    assert b_vals == [5.0, 0.0, 0.0]


def test_window_funnel(spark):
    from clickhouse_arrow_spark.operators.funnel import window_funnel

    rows = [
        # u1 completes view -> click -> buy within window
        (1, 100, "view"), (1, 150, "click"), (1, 200, "buy"),
        # u2 completes view -> click, but buy falls outside the window
        (2, 100, "view"), (2, 150, "click"), (2, 5000, "buy"),
        # u3 does steps out of order -> only level 1
        (3, 100, "click"), (3, 150, "view"),
        # u4 never does step 1
        (4, 100, "click"), (4, 150, "buy"),
    ]
    df = spark.createDataFrame(rows, "user long, t long, ev string")
    out = {
        r["user"]: r["funnel_level"]
        for r in window_funnel(
            df,
            "user",
            "t",
            [F.col("ev") == "view", F.col("ev") == "click", F.col("ev") == "buy"],
            window_seconds=1000,
        ).collect()
    }
    # level 0 for users with qualifying events but no step-1 chain —
    # matching ClickHouse windowFunnel's 0 return
    assert out == {1: 3, 2: 2, 3: 1, 4: 0}


def test_quantize_embeddings_roundtrip(spark):
    import math
    import random

    from clickhouse_arrow_spark.operators.similarity import (
        dequantized_cosine,
        quantize_embeddings,
    )

    rng = random.Random(13)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(32)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = quantize_embeddings(emb)
    got = q.collect()
    assert all(
        all(-127 <= x <= 127 for x in r["qembedding"]) for r in got
    )
    # quantized cosine approximates exact cosine within ~2%
    a = q.where(F.col("vec_id") == 0).select(
        F.col("qembedding").alias("qa"), F.col("qscale").alias("sa")
    )
    b = q.where(F.col("vec_id") == 1).select(
        F.col("qembedding").alias("qb"), F.col("qscale").alias("sb")
    )
    qcos = a.crossJoin(b).select(
        dequantized_cosine(F.col("qa"), F.col("sa"), F.col("qb"), F.col("sb")).alias("c")
    ).first()["c"]
    va = rows[0][1]
    vb = rows[1][1]
    dot = sum(x * y for x, y in zip(va, vb))
    exact = dot / (math.sqrt(sum(x * x for x in va)) * math.sqrt(sum(y * y for y in vb)))
    assert abs(qcos - exact) < 0.02


def test_pii_scrub_redacts_planted_pii(spark):
    df = spark.createDataFrame(
        [(1, "mail me at jane.doe+x@example.org or call +1-555-123-4567 "
             "from 192.168.0.1 ok")],
        "doc_id long, text string",
    )
    from clickhouse_arrow_spark.operators.text import pii_scrub

    row = pii_scrub(df).first()
    assert row["n_email"] == 1 and row["n_ip"] == 1 and row["n_phone"] == 1
    assert "<EMAIL>" in row["scrubbed"]
    assert "<IP>" in row["scrubbed"]
    assert "<PHONE>" in row["scrubbed"]
    assert "example.org" not in row["scrubbed"]
    assert "192.168.0.1" not in row["scrubbed"]


def test_chunk_documents_overlap_and_coverage(spark):
    words = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, words)], "doc_id long, text string")
    from clickhouse_arrow_spark.operators.text import chunk_documents

    chunks = chunk_documents(df, chunk_tokens=10, overlap=4).orderBy(
        "chunk_id"
    ).collect()
    # stride 6 over 100 tokens -> ceil(100/6) = 17 chunks
    assert len(chunks) == 17
    first = chunks[0]["chunk_text"].split(" ")
    second = chunks[1]["chunk_text"].split(" ")
    assert first[6:] == second[:4]  # 4-token overlap
    assert chunks[0]["n_tokens"] == 10
    # every token appears in at least one chunk
    seen = {w for c in chunks for w in c["chunk_text"].split(" ")}
    assert len(seen) == 100


def test_train_split_deterministic_and_dup_stable(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "other text")],
        "doc_id long, text string",
    )
    from clickhouse_arrow_spark.operators.text import train_split

    rows = {r["doc_id"]: (r["bucket"], r["split"]) for r in train_split(df).collect()}
    # identical content -> identical split (dedup-safe partitioning)
    assert rows[1] == rows[2]
    again = {r["doc_id"]: (r["bucket"], r["split"]) for r in train_split(df).collect()}
    assert rows == again


def test_duplicate_survivors_transitive_chain(spark):
    """a~b and b~c (no direct a~c pair) must collapse to one survivor."""
    from clickhouse_arrow_spark.operators.dedup import duplicate_survivors

    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6), (4, 7)], "a_id long, b_id long"
    )
    got = sorted(r["doc_id"] for r in duplicate_survivors(ids, pairs).collect())
    # components: {1,3,5} -> 1, {2,6} -> 2, {4,7} -> 4
    assert got == [1, 2, 4]


def test_sequence_match_and_count(spark):
    from clickhouse_arrow_spark.operators.funnel import (
        ch_sequence_pattern_to_regex,
        sequence_count,
        sequence_match,
    )
    import pytest as _pytest
    from pyspark.sql import functions as F

    rows = [
        # user 1: raw a X b a b; X matches no condition so ClickHouse
        # IGNORES it (docs' 1,3,2 example) -> considered string "abab"
        (1, 1.0, "A"), (1, 2.0, "X"), (1, 3.0, "B"), (1, 4.0, "A"), (1, 5.0, "B"),
        # user 2: b a -> no a-before-b
        (2, 1.0, "B"), (2, 2.0, "A"),
        # user 3: a b a b -> two non-overlapping 'ab'
        (3, 1.0, "A"), (3, 2.0, "B"), (3, 3.0, "A"), (3, 4.0, "B"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts double, et string")
    conds = [F.col("et") == "A", F.col("et") == "B"]
    m = {
        r["user_id"]: r["matched"]
        for r in sequence_match(df, "user_id", "ts", "(?1).*(?2)", conds).collect()
    }
    assert m == {1: 1, 2: 0, 3: 1}
    c = {
        r["user_id"]: r["n_matches"]
        for r in sequence_count(df, "user_id", "ts", "(?1)(?2)", conds).collect()
    }
    # user 1's unmatched X drops out, leaving two adjacent 'ab' pairs
    assert c == {1: 2, 2: 0, 3: 2}
    # the "any event" class covers only the condition alphabet
    assert ch_sequence_pattern_to_regex("(?1).(?2)", 2) == "a[a-b]b"
    with _pytest.raises(NotImplementedError):
        ch_sequence_pattern_to_regex("(?1)(?t>10)(?2)", 2)
    # the pandas (bitmask-exact) engine agrees with the regex path
    mp = {
        r["user_id"]: r["matched"]
        for r in sequence_match(
            df, "user_id", "ts", "(?1).*(?2)", conds, engine="pandas"
        ).collect()
    }
    assert mp == m
    cp = {
        r["user_id"]: r["n_matches"]
        for r in sequence_count(
            df, "user_id", "ts", "(?1)(?2)", conds, engine="pandas"
        ).collect()
    }
    assert cp == c


def test_sequence_match_docs_example(spark):
    """The ClickHouse docs' canonical example: data (1,1),(2,3),(3,2).
    With conds (n=1, n=2) the unmatched n=3 row is ignored and
    '(?1)(?2)' matches; describing n=3 as a third condition makes it
    break the adjacency."""
    from clickhouse_arrow_spark.operators.funnel import sequence_match
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 1.0, 1), (1, 2.0, 3), (1, 3.0, 2)], "user_id int, ts double, n int"
    )
    two = [F.col("n") == 1, F.col("n") == 2]
    three = two + [F.col("n") == 3]
    assert sequence_match(df, "user_id", "ts", "(?1)(?2)", two).first()[
        "matched"
    ] == 1
    assert sequence_match(df, "user_id", "ts", "(?1)(?2)", three).first()[
        "matched"
    ] == 0


def test_sequence_match_time_constraints(spark):
    """(?t OP N) gaps: constraint between the anchor events, arbitrary
    events allowed between them (CH docs wording), both engines keyed
    on the user — matcher runs in applyInPandas."""
    from clickhouse_arrow_spark.operators.funnel import (
        sequence_count,
        sequence_match,
    )
    from pyspark.sql import functions as F

    rows = [
        # user 1: a@0, a@50, b@70 -> (?1)(?t<=30)(?2) via the a@50 anchor
        (1, 0.0, "A"), (1, 50.0, "A"), (1, 70.0, "B"),
        # user 2: a@0, b@100 -> gap 100 fails <=30, passes >30
        (2, 0.0, "A"), (2, 100.0, "B"),
        # user 3: b only
        (3, 5.0, "B"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts double, et string")
    conds = [F.col("et") == "A", F.col("et") == "B"]

    def got(pattern):
        return {
            r["user_id"]: r["matched"]
            for r in sequence_match(
                df, "user_id", "ts", pattern, conds
            ).collect()
        }

    assert got("(?1)(?t<=30)(?2)") == {1: 1, 2: 0, 3: 0}
    assert got("(?1)(?t>30)(?2)") == {1: 1, 2: 1, 3: 0}
    assert got("(?1)(?t==100)(?2)") == {1: 0, 2: 1, 3: 0}
    # stacked constraints bound the same gap
    assert got("(?1)(?t>10)(?t<60)(?2)") == {1: 1, 2: 0, 3: 0}
    # non-overlapping count with a time bound
    c = {
        r["user_id"]: r["n_matches"]
        for r in sequence_count(
            df, "user_id", "ts", "(?1)(?t<=30)(?2)", conds
        ).collect()
    }
    assert c == {1: 1, 2: 0, 3: 0}


def test_decontaminate_planted_overlap(spark):
    from clickhouse_arrow_spark.operators.text import decontaminate

    prompt = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"intro words then {prompt} and a tail"),   # contains the prompt
            (2, "nothing shared with the benchmark at all here today"),
            (3, f"{prompt} {prompt}"),  # repeated: distinct grams count once per gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, prompt)], "bench_id long, text string")
    got = {
        (r["doc_id"], r["bench_id"]): r["n_shared"]
        for r in decontaminate(docs, bench, n=8).collect()
    }
    # the bench item has exactly ONE 8-gram; docs 1 and 3 contain it
    assert got == {(1, 100): 1, (3, 100): 1}


def test_decontaminate_short_docs_no_grams(spark):
    from clickhouse_arrow_spark.operators.text import decontaminate

    docs = spark.createDataFrame(
        [(1, "too short for an eight gram")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(9, "too short for an eight gram")], "bench_id long, text string"
    )
    # 6 tokens < n=8 -> zero grams on both sides -> no pairs (and no error
    # from Spark's descending sequence() edge)
    assert decontaminate(docs, bench, n=8).count() == 0


def test_repetition_metrics_flags_boilerplate(spark):
    from clickhouse_arrow_spark.operators.text import repetition_metrics

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),          # one bigram repeated 4x
            (2, "all words here are fully distinct"),  # every bigram unique
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
    assert rows[1]["n_bigrams"] == 4
    assert rows[1]["top_bigram_n"] == 4
    assert rows[1]["top_bigram_share"] == 1.0
    assert rows[1]["dup_word_frac"] == 0.8  # 1 distinct of 5 tokens
    assert rows[2]["top_bigram_n"] == 1
    assert rows[2]["dup_word_frac"] == 0.0


def test_stratified_sample_rates_and_determinism(spark):
    from clickhouse_arrow_spark.operators.sampling import stratified_sample

    df = spark.range(0, 10000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("s"),
    )
    out = stratified_sample(df, {"a": 0.5, "b": 0.1}, "s", "k")
    counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    # modular buckets are exactly uniform over a contiguous key range
    assert abs(counts["a"] - 2500) < 150
    assert abs(counts["b"] - 500) < 60
    # determinism: same rows on a re-run (checksum, not just count)
    s1 = out.agg(F.sum("k")).first()[0]
    s2 = stratified_sample(df, {"a": 0.5, "b": 0.1}, "s", "k").agg(F.sum("k")).first()[0]
    assert s1 == s2
    # unlisted strata keep default_rate=0 -> dropped entirely
    assert stratified_sample(df, {"a": 0.5}, "s", "k").where(F.col("s") == "b").count() == 0


def test_shingle_jaccard_ground_truth_vs_minhash(spark):
    from clickhouse_arrow_spark.operators.dedup import (
        minhash_candidate_pairs,
        shingle_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, "en", base),
        (2, "en", base),  # identical -> jaccard 1.0
        (3, "en", base + " ok"),  # one extra shingle tail -> still >= 0.9
        (4, "en", "completely different words in this unrelated document here"),
        (5, "de", base),  # same text, different blocking group
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    gt = {(r["a_id"], r["b_id"]) for r in shingle_jaccard_pairs(df).collect()}
    assert (1, 2) in gt and (4, 5) not in gt  # blocked by lang
    assert all(p[0] < p[1] for p in gt)
    # every ground-truth pair is a minhash candidate (the gate invariant)
    mh = {
        (r["a_id"], r["b_id"])
        for r in minhash_candidate_pairs(df, threshold=0.5).collect()
    }
    assert gt <= mh


def test_sample_bucket_spreads_structured_keys(spark):
    # keys sharing a factor with 1000 (multiples of 250) must still keep
    # ~rate: the old affine-mod-1000 map sent them into 4 buckets, so a
    # 10% rate kept 25% of rows; the prime-field mix spreads them.
    from clickhouse_arrow_spark.operators.sampling import stratified_sample

    df = spark.range(0, 10000).select(
        (F.col("id") * 250).alias("k"), F.lit("a").alias("s")
    )
    kept = stratified_sample(df, {"a": 0.1}, "s", "k").count()
    assert abs(kept - 1000) < 150


def test_topk_frequent_exact_counts_and_ties(spark):
    from clickhouse_arrow_spark.operators.frequency import topk_frequent

    rows = [("g1", v) for v in ["a"] * 3 + ["b"] * 2 + ["c"] * 2 + ["d"]]
    rows += [("g2", v) for v in ["x"] * 5 + ["y"]]
    df = spark.createDataFrame(rows, "grp string, v string")
    got = {
        (r["grp"], r["rank"]): (r["v"], r["n"])
        for r in topk_frequent(df, "grp", "v", k=2).collect()
    }
    # g1: a(3) first; b and c tie at 2 -> value-ascending keeps b
    assert got[("g1", 1)] == ("a", 3)
    assert got[("g1", 2)] == ("b", 2)
    assert got[("g2", 1)] == ("x", 5)
    assert got[("g2", 2)] == ("y", 1)
    assert len(got) == 4


def test_quality_weighted_sample_monotone(spark):
    from clickhouse_arrow_spark.operators.sampling import (
        quality_weighted_sample,
    )

    df = spark.range(0, 10000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, 0.9).otherwise(0.1).alias("q"),
    )
    out = quality_weighted_sample(df, "q", "k")
    kept = {
        r["q"]: r["n"]
        for r in out.groupBy("q").agg(F.count("*").alias("n")).collect()
    }
    # keep rate tracks the score: ~90% of q=0.9 rows, ~10% of q=0.1 rows
    assert abs(kept[0.9] - 4500) < 250
    assert abs(kept.get(0.1, 0) - 500) < 100
    # scale > 1 saturates at keep-everything
    all_kept = quality_weighted_sample(df, "q", "k", scale=20.0).count()
    assert all_kept == 10000


def test_agg_map_family(spark):
    from clickhouse_arrow_spark.operators.maps import agg_map

    rows = [
        (1, {"clicks": 2.0, "views": 10.0}),
        (1, {"clicks": 3.0}),
        (2, {"views": 1.0}),
    ]
    df = spark.createDataFrame(rows, "uid long, m map<string, double>")
    got = {r["uid"]: r["sum_map"] for r in agg_map(df, ["uid"], "m").collect()}
    assert got[1] == {"clicks": 5.0, "views": 10.0}
    assert got[2] == {"views": 1.0}
    # keys come out sorted (deterministic rendering)
    assert list(got[1].keys()) == ["clicks", "views"]
    mn = {r["uid"]: r["min_map"] for r in agg_map(df, ["uid"], "m", "min").collect()}
    assert mn[1] == {"clicks": 2.0, "views": 10.0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="agg must be one of"):
        agg_map(df, ["uid"], "m", "median")


def test_map_add_dialect(spark):
    from clickhouse_arrow_spark.dialect import translate_ch_sql

    sql = translate_ch_sql(
        "SELECT mapAdd(map('a', 1, 'b', 2), map('b', 10, 'c', 3)) AS m"
    )
    row = spark.sql(sql).first()
    assert row["m"] == {"a": 1, "b": 12, "c": 3}
    sql2 = translate_ch_sql("SELECT mapSubtract(map('a', 5), map('a', 2, 'z', 1)) AS m")
    assert spark.sql(sql2).first()["m"] == {"a": 3, "z": -1}


def test_delta_sum_counter_resets(spark):
    from clickhouse_arrow_spark.operators.timeseries import delta_sum

    # counter 10 -> 15 -> 3 (reset) -> 9: positive deltas 5 + 6 = 11
    rows = [(1, 1, 10.0), (1, 2, 15.0), (1, 3, 3.0), (1, 4, 9.0), (2, 1, 7.0)]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    got = {r["k"]: r["delta_sum"] for r in delta_sum(df, ["k"], "t", "v").collect()}
    assert got[1] == 11.0
    assert got[2] == 0.0  # single sample has no delta


def test_bmp_roundtrip_and_cross_codec_parity(spark):
    import struct

    from clickhouse_arrow_spark.operators.multimodal import (
        DECODERS,
        BMP_MIME,
        PPM_MIME,
        decode_bmp,
        encode_bmp,
        encode_ppm,
        decode_ppm,
    )

    # round-trip: padding rows (width 3 -> stride 12) and RGB order
    rgb = bytes(range(3 * 3 * 2 * 3))[: 3 * 2 * 3]
    payload = encode_bmp(3, 2, rgb)
    w, h, pixels = decode_bmp(payload)
    assert (w, h) == (3, 2) and pixels == rgb
    # bottom-up storage (positive height) decodes to the same top-down rows
    flipped = bytearray(payload)
    struct.pack_into("<i", flipped, 22, 2)  # height: -2 -> +2
    w2, h2, px2 = decode_bmp(bytes(flipped))
    assert (w2, h2) == (3, 2)
    assert px2[0:9] == rgb[9:18] and px2[9:18] == rgb[0:9]  # rows swapped
    # same pixels through both real codecs -> identical features
    w3, h3, ppm_px = decode_ppm(encode_ppm(7))
    bmp_payload = encode_bmp(w3, h3, ppm_px)
    assert DECODERS[BMP_MIME](bmp_payload) == DECODERS[PPM_MIME](encode_ppm(7))
    # garbage rejected
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"PNG...")
    with pytest.raises(ValueError, match="only 24bpp"):
        bad = bytearray(encode_bmp(1, 1, b"\x00\x00\x00"))
        struct.pack_into("<H", bad, 28, 8)
        decode_bmp(bytes(bad))


def test_exp_time_decayed_avg(spark):
    import math

    from clickhouse_arrow_spark.operators.timeseries import exp_time_decayed_avg

    rows = [(1, 0.0, 10.0), (1, 100.0, 20.0)]
    df = spark.createDataFrame(rows, "k long, t double, v double")
    got = exp_time_decayed_avg(df, ["k"], "t", "v", 100.0).first()["exp_decayed_avg"]
    w0 = math.exp(-1.0)  # (0 - 100)/100
    want = (10.0 * w0 + 20.0) / (w0 + 1.0)
    assert abs(got - want) < 1e-9
    # single sample -> its own value
    one = spark.createDataFrame([(2, 5.0, 42.0)], "k long, t double, v double")
    assert exp_time_decayed_avg(one, ["k"], "t", "v", 10.0).first()[
        "exp_decayed_avg"
    ] == 42.0


def test_window_funnel_strict_modes(spark):
    from clickhouse_arrow_spark.operators.funnel import window_funnel

    conds = lambda: [F.col("e") == "A", F.col("e") == "B", F.col("e") == "C"]

    def level(rows, modes=()):
        df = spark.createDataFrame(rows, "u long, t double, e string")
        out = window_funnel(df, "u", "t", conds(), 100, modes=modes)
        return {r["u"]: r["funnel_level"] for r in out.collect()}

    # default: interleaved tracked events don't break the chain; a
    # repeated cond-1 event merely re-anchors (CH event_idx==0 branch)
    seq = [(1, 1.0, "A"), (1, 2.0, "A"), (1, 3.0, "B"), (1, 4.0, "C")]
    assert level(seq)[1] == 3
    # strict_order (CH exact, wave-35): only events matching NO tracked
    # condition break the scan — the repeated A is cond 1, so the chain
    # completes; an untracked X after the first chain event terminates
    assert level(seq, ("strict_order",))[1] == 3
    broken = [(1, 1.0, "A"), (1, 2.0, "B"), (1, 3.0, "X"), (1, 4.0, "C")]
    assert level(broken)[1] == 3                      # default ignores X
    assert level(broken, ("strict_order",))[1] == 2   # CH docs' A,B,D,C
    pre = [(1, 1.0, "X"), (1, 2.0, "A"), (1, 3.0, "B"), (1, 4.0, "C")]
    assert level(pre, ("strict_order",))[1] == 3      # X before chain: skip
    # strict_dedup (CH exact, wave-35): cond-1 repeats re-anchor (the
    # event_idx==0 branch precedes the dedup check), so seq completes;
    # a repeat of an already-REACHED level k>=2 stops processing and
    # returns k — even after a deeper level was reached
    assert level(seq, ("strict_dedup",))[1] == 3
    # a repeat AFTER the chain completed is shielded by CH's early
    # return (event_idx+1 == events_size returns immediately)...
    rep_after = [(1, 1.0, "A"), (1, 2.0, "B"), (1, 3.0, "C"), (1, 4.0, "B")]
    assert level(rep_after, ("strict_dedup",))[1] == 3
    # ...but a MID-CHAIN repeat of a reached level stops and returns it
    rep_mid = [(1, 1.0, "A"), (1, 2.0, "B"), (1, 3.0, "B"), (1, 4.0, "C")]
    assert level(rep_mid)[1] == 3
    assert level(rep_mid, ("strict_dedup",))[1] == 2  # CH returns s there
    clean = [(1, 1.0, "A"), (1, 2.0, "B"), (1, 3.0, "C")]
    for m in ((), ("strict_order",), ("strict_dedup",), ("strict_increase",)):
        assert level(clean, m)[1] == 3, m
    # strict_increase: equal timestamps stop the chain advancing
    tied = [(1, 1.0, "A"), (1, 1.0, "B"), (1, 2.0, "C")]
    assert level(tied)[1] == 3
    assert level(tied, ("strict_increase",))[1] == 1
    # window still applies in every mode
    late = [(1, 1.0, "A"), (1, 500.0, "B")]
    assert level(late, ("strict_order",))[1] == 1
    # re-anchoring (wave-35 probe find): a later cond-1 event starts a
    # fresh chain after the first one stalls outside the window
    reanchor = [(1, 0.0, "A"), (1, 200.0, "A"), (1, 205.0, "B")]
    assert level(reanchor)[1] == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown windowFunnel modes"):
        level(clean, ("bogus",))


def _ch_window_funnel_reference(events, n_conds, window, strict_order=False,
                                strict_dedup=False, strict_increase=False):
    """Line-by-line Python replica of ClickHouse's
    AggregateFunctionWindowFunnel.h::getEventLevel — the independent
    oracle for the Spark fold. events = [(t, step)] with step 0 = no
    condition matched (collected only under strict_order)."""
    events = sorted(events)
    ts = [None] * n_conds  # (chain_first, chain_last) per level
    first_event = False
    for t, s in events:
        idx = s - 1
        if strict_order and idx == -1:
            if first_event:
                break
            continue
        elif idx == 0:
            ts[0] = (t, t)
            first_event = True
        elif strict_dedup and ts[idx] is not None:
            return s
        elif ts[idx - 1] is not None:
            first, prev = ts[idx - 1]
            if t <= first + window and (not strict_increase or prev < t):
                ts[idx] = (first, t)
                if idx + 1 == n_conds:
                    return n_conds
    for lvl in range(n_conds, 0, -1):
        if ts[lvl - 1] is not None:
            return lvl
    return 0


def test_window_funnel_matches_ch_reference(spark):
    """wave-35 pin: the Spark fold equals the CH algorithm replica on a
    deterministic battery of adversarial event sequences x all mode
    combinations."""
    import itertools

    from clickhouse_arrow_spark.operators.funnel import window_funnel

    conds = ["A", "B", "C"]
    alphabet = ["A", "B", "C", "X"]
    # deterministic pseudo-random sequences (affine generator, no RNG)
    cases = []
    for seed in range(24):
        seq, state = [], seed * 2654435761 % 2147483647
        for i in range(7):
            state = (state * 1103515245 + 12345) % 2147483647
            ev = alphabet[state % 4]
            t = float((state >> 8) % 40)
            seq.append((t, ev))
        cases.append(seq)
    cases += [
        [(0.0, "A"), (200.0, "A"), (205.0, "B"), (206.0, "C")],
        [(0.0, "A"), (1.0, "B"), (2.0, "C"), (3.0, "B")],
        [(1.0, "A"), (1.0, "B"), (1.0, "C")],
        [(0.0, "B"), (1.0, "C"), (2.0, "A")],
    ]
    mode_sets = [
        (), ("strict_order",), ("strict_dedup",), ("strict_increase",),
        ("strict_order", "strict_increase"),
        ("strict_dedup", "strict_increase"),
    ]
    rows = []
    for uid, seq in enumerate(cases):
        rows += [(uid, t, ev) for t, ev in seq]
    df = spark.createDataFrame(rows, "u long, t double, e string")
    for modes in mode_sets:
        got = {
            r["u"]: r["funnel_level"]
            for r in window_funnel(
                df, "u", "t", [F.col("e") == c for c in conds], 100,
                modes=modes,
            ).collect()
        }
        for uid, seq in enumerate(cases):
            # replicate the engine's (t, step) tie-sort: one entry per
            # matching cond; step 0 rows only under strict_order
            ev = []
            for t, e in seq:
                matched = [i + 1 for i, c in enumerate(conds) if e == c]
                ev += [(t, s) for s in matched]
                if not matched and "strict_order" in modes:
                    ev.append((t, 0))
            want = _ch_window_funnel_reference(
                ev, len(conds), 100,
                strict_order="strict_order" in modes,
                strict_dedup="strict_dedup" in modes,
                strict_increase="strict_increase" in modes,
            )
            assert got.get(uid, 0) == want, (uid, modes, seq)


def test_png_roundtrip_all_filters():
    """decode_png must invert every spec filter type, applied by the
    independent forward-filter in encode_png."""
    from clickhouse_arrow_spark.operators import multimodal as mm

    rgb = bytes(
        (r * 7 + c * 13 + ch * 29) % 256
        for r in range(9)
        for c in range(7)
        for ch in range(3)
    )
    for ft in range(5):
        w, h, got = mm.decode_png(mm.encode_png(7, 9, rgb, filter_type=ft))
        assert (w, h, got) == (7, 9, rgb), f"filter {ft}"


def test_png_rgba_alpha_drop():
    """color type 6 (RGBA) decodes with the alpha channel dropped."""
    import struct
    import zlib

    from clickhouse_arrow_spark.operators import multimodal as mm

    w0, h0 = 3, 2
    rgba = bytes((i * 17) % 256 for i in range(w0 * h0 * 4))
    lines = b"".join(
        b"\x00" + rgba[r * w0 * 4 : (r + 1) * w0 * 4] for r in range(h0)
    )

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    png = (
        mm._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w0, h0, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(lines))
        + chunk(b"IEND", b"")
    )
    w, h, got = mm.decode_png(png)
    expect = bytes(b for i in range(w0 * h0) for b in rgba[i * 4 : i * 4 + 3])
    assert (w, h, got) == (w0, h0, expect)


def test_png_rejects_unsupported_shapes():
    import pytest as _pytest

    from clickhouse_arrow_spark.operators import multimodal as mm

    with _pytest.raises(ValueError, match="not a PNG"):
        mm.decode_png(b"GIF89a...")
    # 16-bit depth refused loudly, not silently mis-decoded
    import struct
    import zlib

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    png16 = mm._PNG_SIG + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    )
    with _pytest.raises(ValueError, match="unsupported PNG shape"):
        mm.decode_png(png16)


def test_wav_roundtrip_and_features():
    import math

    from clickhouse_arrow_spark.operators import multimodal as mm

    samples = [int(10000 * math.sin(i / 10)) for i in range(1600)]
    wav = mm.encode_wav(samples, 1, 16000)
    n, ch, rate, got = mm.decode_wav(wav)
    assert (n, ch, rate) == (1600, 1, 16000) and got == samples
    frames, channels, feats = mm._wav_feature_decode(wav)
    assert frames == 1600 and channels == 1 and len(feats) == mm.FEATURE_DIM
    # duration feature = frames / rate
    assert feats[4] == 1600 / 16000
    # stereo interleave: frames = len(samples) / 2
    stereo = mm.encode_wav(samples, 2, 8000)
    n2, ch2, _, _ = mm.decode_wav(stereo)
    assert (n2, ch2) == (800, 2)


def test_png_wav_through_decode_features(spark):
    """Real PNG and WAV payloads flow through the generic
    decode_features plan via their DECODERS entries."""
    from clickhouse_arrow_spark.operators import multimodal as mm
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ids = spark.range(6).select(F.col("id").alias("doc_id"))
    png = F.pandas_udf(
        lambda s: s.map(lambda i: mm.encode_png_for_id(int(i))), T.BinaryType()
    )
    wav = F.pandas_udf(
        lambda s: s.map(lambda i: mm.encode_wav_for_id(int(i))), T.BinaryType()
    )
    for mime, payload in ((mm.PNG_MIME, png), (mm.WAV_MIME, wav)):
        df = ids.select(
            "doc_id",
            payload(F.col("doc_id")).alias("payload"),
            F.struct(
                F.lit(mime).alias("mime"),
                F.lit(0).alias("n_bytes"),
                F.lit("x").alias("checksum"),
            ).alias("media"),
        )
        rows = mm.decode_features(df).collect()
        assert len(rows) == 6
        assert all(r["mime"] == mime for r in rows)
        assert all(len(r["features"]) == mm.FEATURE_DIM for r in rows)


def test_any_join_multiplicity_and_determinism(spark, tables):
    from clickhouse_arrow_spark.operators.joins import any_join

    left = spark.table("customer").select("c_custkey", "c_name")
    right = spark.table("orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    ).withColumnRenamed("o_custkey", "c_custkey")
    out = any_join(
        left, right, on="c_custkey", how="left",
        order_by="o_orderkey", keep="first",
    )
    # CH ANY LEFT JOIN: exactly one output row per left row
    assert out.count() == left.count()
    # the surviving right row is the min-orderkey one
    probe = (
        out.where(F.col("o_orderkey").isNotNull())
        .select("c_custkey", "o_orderkey")
        .collect()
    )
    expected = {
        r["c_custkey"]: r["mn"]
        for r in right.groupBy("c_custkey")
        .agg(F.min("o_orderkey").alias("mn"))
        .collect()
    }
    assert all(expected[r["c_custkey"]] == r["o_orderkey"] for r in probe)
    # arbitrary-but-deterministic pick without order_by: two runs agree
    a = any_join(left, right, on="c_custkey").collect()
    b = any_join(left, right, on="c_custkey").collect()
    assert a == b


def test_any_join_inner_and_bad_how(spark, tables):
    import pytest as _pytest

    from clickhouse_arrow_spark.operators.joins import any_join

    left = spark.table("customer").select("c_custkey")
    right = spark.table("orders").withColumnRenamed("o_custkey", "c_custkey")
    inner = any_join(left, right, on="c_custkey", how="inner",
                     order_by="o_orderkey")
    n_matched = right.select("c_custkey").distinct().join(
        left, "c_custkey"
    ).count()
    assert inner.count() == n_matched
    with _pytest.raises(ValueError, match="RIGHT ANY JOIN"):
        any_join(left, right, on="c_custkey", how="right")


def test_lttb_downsampling_properties(spark):
    import math

    from clickhouse_arrow_spark.operators.timeseries import lttb

    rows = [
        (1, float(i), math.sin(i / 10.0) + (5.0 if i == 57 else 0.0))
        for i in range(200)
    ] + [(2, float(i), float(i % 13)) for i in range(100)]
    df = spark.createDataFrame(rows, "k int, x double, y double")
    out = lttb(df, "x", "y", 20, keys=["k"]).collect()
    k1 = sorted((r["x"], r["y"]) for r in out if r["k"] == 1)
    assert len(k1) == 20
    assert k1[0][0] == 0.0 and k1[-1][0] == 199.0  # endpoints kept
    assert any(p[0] == 57.0 for p in k1)  # the spike survives
    orig = {(r[1], r[2]) for r in rows if r[0] == 1}
    assert all(p in orig for p in k1)  # no synthesized points
    # short series pass through untouched
    short = sorted((r["x"], r["y"]) for r in out if r["k"] == 2)
    assert len(short) == 20


def test_lttb_no_keys_and_short_series(spark):
    from clickhouse_arrow_spark.operators.timeseries import lttb

    df = spark.createDataFrame(
        [(float(i), float(i)) for i in range(5)], "x double, y double"
    )
    out = sorted(r["x"] for r in lttb(df, "x", "y", 10).collect())
    assert out == [0.0, 1.0, 2.0, 3.0, 4.0]


def test_sparkbar_render(spark):
    from clickhouse_arrow_spark.operators.timeseries import sparkbar

    df = spark.createDataFrame(
        [(1, float(i), float(i)) for i in range(10)], "k int, x double, y double"
    )
    [r] = sparkbar(df, ["k"], "x", "y", 5).collect()
    assert len(r["sparkbar"]) == 5
    # monotone ramp: glyphs never decrease, last is the full block
    glyphs = "▁▂▃▄▅▆▇█"
    levels = [glyphs.index(c) for c in r["sparkbar"]]
    assert levels == sorted(levels) and r["sparkbar"][-1] == "█"


def test_sparkbar_empty_slot_is_space(spark):
    from clickhouse_arrow_spark.operators.timeseries import sparkbar

    df = spark.createDataFrame(
        [(1, 0.0, 1.0), (1, 9.0, 1.0)], "k int, x double, y double"
    )
    [r] = sparkbar(df, ["k"], "x", "y", 10).collect()
    assert r["sparkbar"][0] != " " and r["sparkbar"][-1] != " "
    assert " " in r["sparkbar"]  # interior empty slots render blank


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def test_concat_chunks_math(spark):
    from clickhouse_arrow_spark.operators.packing import concat_chunks

    # tokens: 3, 4, 5, 10, 2 at budget 8 -> starts 0,3,7,12,22
    df = spark.createDataFrame(
        [(1, 3), (2, 4), (3, 5), (4, 10), (5, 2)], "doc_id long, tokens long"
    )
    rows = {
        r["doc_id"]: r
        for r in concat_chunks(df, budget=8, token_col="tokens").collect()
    }
    assert rows[1]["chunk_id"] == 0 and rows[1]["chunk_offset"] == 0
    assert not rows[1]["straddles"]  # [0,3) inside chunk 0
    assert rows[2]["chunk_id"] == 0 and rows[2]["chunk_offset"] == 3
    assert not rows[2]["straddles"]  # [3,7) inside chunk 0
    assert rows[3]["chunk_id"] == 0 and rows[3]["chunk_offset"] == 7
    assert rows[3]["straddles"]  # [7,12) crosses into chunk 1
    assert rows[4]["chunk_id"] == 1 and rows[4]["chunk_offset"] == 4
    assert rows[4]["straddles"]  # [12,22) crosses chunk 2
    assert rows[5]["chunk_id"] == 2 and rows[5]["chunk_offset"] == 6
    assert not rows[5]["straddles"]  # [22,24) inside chunk 2


def test_concat_chunks_window_is_partitioned(spark):
    from clickhouse_arrow_spark.operators.packing import concat_chunks

    df = spark.range(1000).selectExpr(
        "id AS doc_id", "CAST(id % 7 + 1 AS LONG) AS tokens"
    )
    out = concat_chunks(df, budget=64, token_col="tokens")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the running sum must never collapse to a single global window:
    # every windowspecdefinition carries the range-partition key
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("_part" in s for s in specs)


def test_first_fit_respects_budget(spark):
    from clickhouse_arrow_spark.operators.packing import first_fit

    df = spark.createDataFrame(
        [(i, (i * 37) % 90 + 1) for i in range(200)] + [(900, 512), (901, 700)],
        "doc_id long, tokens long",
    )
    out = first_fit(df, budget=128, token_col="tokens", n_buckets=4).collect()
    assert len(out) == 202  # every doc exactly once
    assert len({r["doc_id"] for r in out}) == 202
    packs = {}
    for r in out:
        packs.setdefault(r["pack_id"], []).append(r)
    for pid, members in packs.items():
        total = sum(r["tokens"] for r in members)
        if total > 128:
            assert len(members) == 1  # oversize doc -> its own pack
        assert sorted(r["pack_seq"] for r in members) == list(range(len(members)))


def test_first_fit_pack_id_stride_overflow_raises(spark):
    # pack_id = bucket * stride + bin; a bucket overflowing the stride
    # must raise loudly, never silently collide across buckets
    import pytest as _pytest

    from clickhouse_arrow_spark.operators.packing import first_fit

    df = spark.createDataFrame(
        [(i, 100) for i in range(40)], "doc_id long, tokens long"
    )
    # budget 100 -> every doc its own bin; 40 docs / 2 buckets = ~20
    # bins per bucket >= the synthetic stride of 4 -> overflow
    with _pytest.raises(Exception, match="pack-id stride"):
        first_fit(df, budget=100, n_buckets=2, _stride=4).collect()
    # comfortably under the stride: same input packs fine
    assert len(first_fit(df, budget=100, n_buckets=2, _stride=64).collect()) == 40


def test_spread_repartitions_only_below_parallelism(spark):
    import re

    sc = spark.sparkContext
    p = sc.defaultParallelism
    if p == 1:
        pytest.skip("one core: every frame already has enough splits")
    one_split = spark.range(0, 64, numPartitions=1)
    full = spark.range(0, 64, numPartitions=p)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    group = "test-spread-guard"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        keyed = _spread(one_split, "id")
        round_robin = _spread(one_split)
        unchanged = _spread(full, "id")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert re.search(rf"hashpartitioning\(id#\d+L?, {p}\)", plan(keyed))
    assert f"RoundRobinPartitioning({p})" in plan(round_robin)
    assert unchanged is full


def test_lsh_signature_persist_spills_to_disk(spark):
    # StorageLevel must be MEMORY_AND_DISK: a memory-only persist
    # silently evicts at scale and brings the recompute storm back
    from clickhouse_arrow_spark.operators.dedup import minhash_candidate_pairs

    df = spark.createDataFrame(
        [(i, f"some shared shingle text body number {i % 7}") for i in range(60)],
        "doc_id long, text string",
    )
    cands = minhash_candidate_pairs(df, "text", "doc_id", num_hashes=16, bands=4)
    cands.count()
    # inspect the storage level of every cached RDD via the JVM
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().values().iterator()
    found_disk = False
    while it.hasNext():
        lvl = it.next().getStorageLevel()
        if lvl.useMemory() and lvl.useDisk():
            found_disk = True
    assert found_disk
    spark.catalog.clearCache()


def test_semantic_dedup_removes_exact_clones(spark):
    from pyspark.sql import functions as F

    from clickhouse_arrow_spark.operators.similarity import semantic_dedup

    # one-hot directions: pairwise cosine 0, so only planted clones
    # (cosine 1) cross the threshold
    base = spark.createDataFrame(
        [
            (i, [float(i + 1) if j == i else 0.0 for j in range(40)])
            for i in range(40)
        ],
        "vec_id long, embedding array<double>",
    )
    clones = base.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    survivors = {
        r["vec_id"]
        for r in semantic_dedup(
            base.unionByName(clones), threshold=0.999, nlist=4
        ).collect()
    }
    assert survivors == set(range(40))  # clones dropped, originals kept


def test_bigram_logprob_known_values(spark):
    import math

    from clickhouse_arrow_spark.operators.text import bigram_logprob

    # corpus: "a b" x2 and "a c" -> P(b|a)=2/3, P(c|a)=1/3
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
    assert 4 not in rows  # single-token doc has no bigrams
    assert rows[1]["n_bigrams"] == 1
    assert abs(rows[1]["mean_logprob"] - math.log(2 / 3)) < 1e-6
    assert abs(rows[3]["mean_logprob"] - math.log(1 / 3)) < 1e-6


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(st.integers(1, 300), min_size=1, max_size=40),
        st.integers(8, 128),
    )
    def test_concat_chunks_matches_sequential(tokens, budget):
        from clickhouse_arrow_spark.operators.packing import concat_chunks
        from clickhouse_arrow_spark.session import get_spark

        spark = get_spark()
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(tokens)], "doc_id long, tokens long"
        )
        got = {
            r["doc_id"]: (r["chunk_id"], r["chunk_offset"], r["straddles"])
            for r in concat_chunks(df, budget=budget).collect()
        }
        cum = 0
        for i, t in enumerate(tokens):
            start, end = cum, cum + t
            cum = end
            assert got[i] == (
                start // budget,
                start % budget,
                start // budget != (end - 1) // budget,
            )

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(st.integers(1, 700), min_size=1, max_size=60),
        st.integers(64, 512),
    )
    def test_first_fit_invariants(tokens, budget):
        from clickhouse_arrow_spark.operators.packing import first_fit
        from clickhouse_arrow_spark.session import get_spark

        spark = get_spark()
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(tokens)], "doc_id long, tokens long"
        )
        out = first_fit(df, budget=budget, n_buckets=3).collect()
        assert sorted(r["doc_id"] for r in out) == list(range(len(tokens)))
        packs = {}
        for r in out:
            packs.setdefault(r["pack_id"], 0)
            packs[r["pack_id"]] += r["tokens"]
        for pid, tot in packs.items():
            members = [r for r in out if r["pack_id"] == pid]
            assert tot <= budget or len(members) == 1

except ImportError:  # pragma: no cover
    pass


def test_span_dedup_keeps_first_occurrence(spark):
    from clickhouse_arrow_spark.operators.text import span_dedup

    boiler = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            (1, boiler + " unique alpha beta gamma delta epsilon zeta eta"),
            (2, boiler + " other words here that differ from doc one text"),
            (3, "completely fresh content with no repeated spans at all"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["span_pos"]): r["kept"]
        for r in span_dedup(df, span_words=8).collect()
    }
    assert rows[(1, 0)] is True  # first occurrence of the boilerplate
    assert rows[(2, 0)] is False  # repeat dropped
    assert rows[(1, 1)] and rows[(2, 1)] and rows[(3, 0)]  # unique spans kept


def test_span_dedup_empty_docs_contribute_no_spans(spark):
    from clickhouse_arrow_spark.operators.text import span_dedup

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a b c")], "doc_id long, text string"
    )
    rows = span_dedup(df, span_words=2).collect()
    assert sorted((r["doc_id"], r["span_pos"]) for r in rows) == [
        (3, 0), (3, 1),
    ]


def test_gopher_filter_rules(spark):
    from clickhouse_arrow_spark.operators.text import gopher_quality_filter

    docs = spark.createDataFrame(
        [
            # passes everything: 60 normal words with stopwords
            (1, " ".join(["the", "cat", "sat", "with", "food"] * 12)),
            # too short
            (2, "tiny doc"),
            # symbol-heavy
            (3, " ".join(["####", "word"] * 40)),
            # bullets
            (4, "\n".join(["- item one two the of"] * 10) + "\n" +
                "\n".join(["- more the of stuff here ok"] * 50)),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in gopher_quality_filter(docs).collect()}
    assert got[1]["keep"] is True
    assert got[2]["wc_ok"] is False and got[2]["keep"] is False
    assert got[3]["symbol_ok"] is False and got[3]["keep"] is False
    assert got[4]["bullet_ok"] is False and got[4]["keep"] is False


def test_epoch_shuffle_deterministic_and_seed_sensitive(spark):
    from clickhouse_arrow_spark.operators.text import epoch_shuffle

    df = spark.range(0, 500).selectExpr("id AS doc_id")
    a = [r["doc_id"] for r in epoch_shuffle(df, seed=1).limit(20).collect()]
    b = [r["doc_id"] for r in epoch_shuffle(df, seed=1).limit(20).collect()]
    c = [r["doc_id"] for r in epoch_shuffle(df, seed=2).limit(20).collect()]
    assert a == b and a != c and a != list(range(20))
    # fast path: same contract, xxhash64 key
    f1 = [r["doc_id"] for r in
          epoch_shuffle(df, seed=1, fast=True).limit(20).collect()]
    f2 = [r["doc_id"] for r in
          epoch_shuffle(df, seed=1, fast=True).limit(20).collect()]
    assert f1 == f2


def test_kcenter_sample_picks_spread_points(spark):
    from clickhouse_arrow_spark.operators.similarity import kcenter_sample

    # three tight clusters far apart: the first 3 picks must hit all 3
    pts = (
        [(i, [0.0 + i * 0.01, 0.0]) for i in range(10)]
        + [(100 + i, [100.0 + i * 0.01, 0.0]) for i in range(10)]
        + [(200 + i, [0.0, 100.0 + i * 0.01]) for i in range(10)]
    )
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    ids = kcenter_sample(df, 3)
    clusters = {i // 100 for i in ids}
    assert clusters == {0, 1, 2}
    assert ids[0] == 0  # deterministic min-id seed
    assert kcenter_sample(df, 0) == []


def test_kcenter_sample_string_ids_and_k_exceeds_points(spark):
    from clickhouse_arrow_spark.operators.similarity import kcenter_sample

    # string ids must tie-break lexicographically (not cast to null);
    # k > distinct points must stop early without duplicate picks
    df = spark.createDataFrame(
        [("a", [0.0, 0.0]), ("b", [10.0, 0.0]), ("c", [10.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    ids = kcenter_sample(df, 5, id_col="vec_id")
    assert ids[0] == "a"
    assert ids[1] == "b"  # dist tie between b and c -> smaller id wins
    assert len(ids) == len(set(ids))  # no duplicates
    assert len(ids) <= 3


# ---------------------------------------------------------------------------
# round 6: token-budget selection + incremental dedup
# ---------------------------------------------------------------------------


def test_select_token_budget_matches_naive_window(spark):
    from pyspark.sql import Window

    from clickhouse_arrow_spark.operators.sampling import select_token_budget

    df = spark.createDataFrame(
        [(i, float((i * 37) % 100) / 100, 10 + (i % 5)) for i in range(1000)],
        "doc_id BIGINT, quality DOUBLE, tokens BIGINT",
    )
    got = {r["doc_id"] for r in select_token_budget(df, 2000).collect()}
    w = Window.orderBy(F.desc("quality"), "doc_id")
    want = {
        r["doc_id"]
        for r in df.withColumn("c", F.sum("tokens").over(w))
        .where(F.col("c") <= 2000)
        .collect()
    }
    assert got == want and len(got) > 0
    # budget is a hard cap
    total = sum(
        r["tokens"] for r in select_token_budget(df, 2000).collect()
    )
    assert total <= 2000


def test_select_token_budget_no_global_single_task_window(spark):
    from clickhouse_arrow_spark.operators.sampling import select_token_budget

    df = spark.createDataFrame(
        [(i, float(i % 7), 5) for i in range(500)],
        "doc_id BIGINT, quality DOUBLE, tokens BIGINT",
    )
    plan = select_token_budget(df, 500)._jdf.queryExecution() \
        .executedPlan().toString()
    # the cumsum window partitions on the range id, never a bare
    # SinglePartition window over the data
    assert "SinglePartition" not in plan


def test_dedup_incremental_batch_vs_store(spark):
    import random

    from clickhouse_arrow_spark.operators.dedup import (
        dedup_incremental,
        minhash_store,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()

    def text(seed):
        rng = random.Random(seed)
        return " ".join(rng.choice(words) for _ in range(40))

    old = spark.createDataFrame(
        [(i, text(i)) for i in range(30)], "doc_id BIGINT, text STRING"
    )
    store = minhash_store(old)
    batch = spark.createDataFrame(
        [(100, text(500)), (101, text(501)), (200, text(5)),
         (300, text(600)), (301, text(600))],
        "doc_id BIGINT, text STRING",
    )
    survivors, new_rows = dedup_incremental(batch, store, threshold=0.9)
    ids = sorted(r["doc_id"] for r in survivors.collect())
    assert ids == [100, 101, 300]  # 200 = store clone, 301 = intra dup
    # appended store rows mirror the survivors exactly
    assert sorted(r["doc_id"] for r in new_rows.select("doc_id").collect()) \
        == ids
    assert set(new_rows.columns) == {"doc_id", "signature", "band_hashes"}


def test_dedup_incremental_store_grows_consistently(spark):
    import random

    from clickhouse_arrow_spark.operators.dedup import (
        dedup_incremental,
        minhash_store,
    )

    words = "red green blue cyan magenta yellow black white".split()

    def text(seed):
        rng = random.Random(seed)
        return " ".join(rng.choice(words) for _ in range(40))

    old = spark.createDataFrame(
        [(i, text(i)) for i in range(20)], "doc_id BIGINT, text STRING"
    )
    store = minhash_store(old)
    b1 = spark.createDataFrame(
        [(100, text(900)), (101, text(901))], "doc_id BIGINT, text STRING"
    )
    s1, rows1 = dedup_incremental(b1, store, threshold=0.9)
    grown = store.unionByName(rows1)
    # a second batch cloning a FIRST-batch doc is caught by the grown
    # store — the incremental contract across ingests
    b2 = spark.createDataFrame(
        [(200, text(900)), (201, text(950))], "doc_id BIGINT, text STRING"
    )
    s2, _ = dedup_incremental(b2, grown, threshold=0.9)
    assert sorted(r["doc_id"] for r in s2.collect()) == [201]


# ---- round 6: perceptual-hash (dHash) image dedup ----------------------


def test_image_dhash_identity_and_nulls(spark):
    from clickhouse_arrow_spark.operators import multimodal as mm

    base = spark.range(0, 20).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).alias("img_key")
    )
    hashes = mm.image_dhash(
        mm.attach_ppm_payload(base, key_col="img_key")
    ).join(base, "doc_id")
    rows = hashes.collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.img_key, set()).add(r.dhash)
    # identical images -> identical hashes; distinct images -> distinct
    assert all(len(v) == 1 for v in by_key.values())
    assert len({next(iter(v)) for v in by_key.values()}) == 4
    # an undecodable mime yields NULL, not a batch failure
    opaque = mm.attach_payload(
        spark.range(100, 103).select(
            F.col("id").alias("doc_id"), F.lit("not an image").alias("text")
        )
    )
    nulls = mm.image_dhash(opaque).collect()
    assert nulls and all(r.dhash is None for r in nulls)


def test_dhash_neardup_perturbation(spark):
    from clickhouse_arrow_spark.operators import multimodal as mm
    from clickhouse_arrow_spark.operators.multimodal import (
        _dhash_from_rgb,
        decode_ppm,
        encode_ppm,
    )

    w, h, rgb = decode_ppm(encode_ppm(7))
    base_hash = _dhash_from_rgb(w, h, rgb)
    # saturate the first pixel row: the top dhash row's comparisons all
    # go flat, flipping a handful of bits — a LOCAL edit, small distance
    mutated = bytearray(rgb)
    for i in range(w * 3):
        mutated[i] = 255
    pert_hash = _dhash_from_rgb(w, h, bytes(mutated))
    dist = bin((base_hash ^ pert_hash) & ((1 << 64) - 1)).count("1")
    assert 0 < dist <= 16

    hashes = spark.createDataFrame(
        [(1, base_hash), (2, pert_hash), (3, base_hash)],
        "doc_id long, dhash long",
    )
    # radius 0 catches only the exact pair; the band join at the
    # perturbation's radius also pairs the mutated image
    exact = mm.dhash_neardup(hashes, max_hamming=0).collect()
    assert {(r.id_a, r.id_b) for r in exact} == {(1, 3)}
    near = mm.dhash_neardup(hashes, max_hamming=dist).collect()
    assert {(r.id_a, r.id_b) for r in near} == {(1, 2), (1, 3), (2, 3)}


def test_dhash_survivors_radius0_and_cc(spark):
    from clickhouse_arrow_spark.operators import multimodal as mm

    # ids 1,3 identical; 2 one bit off 1; 4 far; 5 unhashable (NULL)
    hashes = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 0), (4, 0x0F0F0F0F0F0F0F0F), (5, None)],
        "doc_id long, dhash long",
    )
    # radius 0: components are the equal-hash groups — no join path
    r0 = {r.doc_id for r in mm.dhash_survivors(hashes, 0).collect()}
    assert r0 == {1, 2, 4, 5}
    # radius 1: {1,3} collapses to rep 1 which then pairs with 2 —
    # transitively one component {1,2,3} even though (2,3) never met
    # the band join (identical-collapse star edge supplies the link)
    r1 = {r.doc_id for r in mm.dhash_survivors(hashes, 1).collect()}
    assert r1 == {1, 4, 5}


def test_video_survivors_matches_pairwise_cc(spark):
    from clickhouse_arrow_spark.operators import multimodal as mm
    from clickhouse_arrow_spark.operators.dedup import duplicate_survivors

    def mk(seed, n, w=6, h=4):
        return [
            bytes([(seed * 31 + i * 37 + k) % 256 for k in range(w * h * 3)])
            for i in range(n)
        ]

    base = mk(7, 6)
    avi = mm.encode_avi(base, 6, 4)
    near = mm.encode_avi(base[:4] + mk(9, 2), 6, 4)
    far = mm.encode_avi(mk(5, 6), 6, 4)
    # 6=single-frame video duplicated as 7: shared=1 < min_shared=2, so
    # the identical pair must NOT link (fingerprint collapse honors the
    # threshold)
    one = mm.encode_avi(mk(3, 1), 6, 4)
    df = spark.createDataFrame(
        [(1, avi), (2, avi), (3, near), (4, far), (5, b"junk"),
         (6, one), (7, one)],
        "doc_id BIGINT, video BINARY",
    )
    surv = {r.doc_id for r in
            mm.video_survivors(df, every_n=1, min_shared=2).collect()}
    # cross-check against CC over the full pairwise output
    pairs = mm.video_neardup(df, every_n=1, min_shared=2)
    ref = {r.doc_id for r in duplicate_survivors(
        df.select("doc_id"), pairs, "doc_id", "a_id", "b_id").collect()}
    assert surv == ref == {1, 4, 5, 6, 7}


def test_resize_images_box_mean(spark):
    from clickhouse_arrow_spark.operators import multimodal as mm

    base = spark.range(0, 6).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2).alias("img_key")
    )
    small = mm.resize_images(
        mm.attach_ppm_payload(base, key_col="img_key"), 4, 4
    ).collect()
    assert len(small) == 6
    for r in small:
        assert (r["width"], r["height"]) == (4, 4)
        w, h, rgb = mm.decode_bmp(bytes(r["payload"]))
        assert (w, h) == (4, 4) and len(rgb) == 4 * 4 * 3
    # identical sources resize identically; distinct stay distinct
    by_id = {r["doc_id"]: bytes(r["payload"]) for r in small}
    assert by_id[0] == by_id[2] == by_id[4]
    assert by_id[1] == by_id[3] and by_id[0] != by_id[1]


def test_resize_constant_image_stays_constant(spark):
    from clickhouse_arrow_spark.operators import multimodal as mm

    # 5x3 uniform gray PPM: every output pixel must be exactly (77,77,77)
    rgb = bytes([77] * 5 * 3 * 3)
    ppm = b"P6\n5 3\n255\n" + rgb
    df = spark.createDataFrame(
        [(1, mm.PPM_MIME, ppm)], "doc_id BIGINT, mime STRING, payload BINARY"
    )
    out = mm.resize_images(df, 2, 2).collect()[0]
    _, _, small = mm.decode_bmp(bytes(out["payload"]))
    assert set(small) == {77}
    # upscale past source resolution also works (degenerate boxes widen)
    up = mm.resize_images(df, 9, 7).collect()[0]
    w, h, big = mm.decode_bmp(bytes(up["payload"]))
    assert (w, h) == (9, 7) and set(big) == {77}


def test_resize_skips_undecodable_mimes(spark):
    from clickhouse_arrow_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, "video/mp4", b"\x00\x01")],
        "doc_id BIGINT, mime STRING, payload BINARY",
    )
    r = mm.resize_images(df, 4, 4).collect()[0]
    assert r["payload"] is None and r["width"] is None
    import pytest as _pt

    with _pt.raises(ValueError, match="dims"):
        mm.resize_images(df, 0, 4)


def test_audio_spectral_features_pure_tone(spark):
    import math

    from clickhouse_arrow_spark.operators import multimodal as mm

    def tone(hz, rate=16000, n=16000, amp=20000):
        return mm.encode_wav(
            [int(amp * math.sin(2 * math.pi * hz * i / rate))
             for i in range(n)], 1, rate,
        )

    df = spark.createDataFrame(
        [(1, tone(440)), (2, tone(1200)), (3, b"not a wav")],
        "doc_id BIGINT, wav BINARY",
    )
    rows = {r["doc_id"]: r for r in
            mm.audio_spectral_features(df).collect()}
    assert rows[1]["dominant_hz"] == 440.0
    assert rows[2]["dominant_hz"] == 1200.0
    # pure tones: centroid == dominant; near-zero flatness; real RMS
    assert abs(rows[1]["spectral_centroid_hz"] - 440.0) < 1.0
    assert rows[1]["spectral_flatness"] < 0.01
    assert abs(rows[1]["rms"] - 20000 / 32768 / math.sqrt(2)) < 1e-3
    # undecodable payload -> NULL features, batch survives
    assert rows[3]["dominant_hz"] is None and rows[3]["n_frames"] is None


def test_audio_spectral_flatness_separates_noise(spark):
    from clickhouse_arrow_spark.operators import multimodal as mm

    # deterministic pseudo-noise: near-flat spectrum
    noise = mm.encode_wav(
        [((i * 2654435761) % 40000) - 20000 for i in range(4096)], 1, 16000
    )
    import math

    tone = mm.encode_wav(
        [int(20000 * math.sin(2 * math.pi * 500 * i / 16000))
         for i in range(4096)], 1, 16000,
    )
    df = spark.createDataFrame(
        [(1, tone), (2, noise)], "doc_id BIGINT, wav BINARY"
    )
    rows = {r["doc_id"]: r for r in
            mm.audio_spectral_features(df).collect()}
    assert rows[1]["spectral_flatness"] < 0.05 < rows[2]["spectral_flatness"]


def _avi_frames(seed, n, w=6, h=4):
    return [
        bytes([(seed * 31 + i * 37 + k) % 256 for k in range(w * h * 3)])
        for i in range(n)
    ]


def test_avi_round_trip_and_frame_sample(spark):
    from clickhouse_arrow_spark.operators import multimodal as mm

    frames = _avi_frames(1, 9)
    avi = mm.encode_avi(frames, 6, 4, fps=5)
    w, h, fps, out = mm.decode_avi(avi)
    assert (w, h, fps) == (6, 4, 5) and out == frames

    df = spark.createDataFrame(
        [(1, avi), (2, b"junk")], "doc_id BIGINT, video BINARY"
    )
    rows = mm.frame_sample(df, every_n=3).collect()
    sampled = [r for r in rows if r["doc_id"] == 1]
    assert [r["frame_idx"] for r in sorted(sampled, key=lambda r: r["frame_idx"])] == [0, 3, 6]
    for r in sampled:
        fw, fh, rgb = mm.decode_bmp(bytes(r["payload"]))
        assert (fw, fh) == (6, 4) and rgb == frames[r["frame_idx"]]
        assert r["media"]["mime"] == mm.BMP_MIME
    junk = [r for r in rows if r["doc_id"] == 2]
    assert len(junk) == 1 and junk[0]["payload"] is None


def test_video_neardup_shared_frames(spark):
    from clickhouse_arrow_spark.operators import multimodal as mm

    base = _avi_frames(7, 6)
    a = mm.encode_avi(base, 6, 4)                       # original
    b = mm.encode_avi(base[:4] + _avi_frames(9, 2), 6, 4)  # shares 4
    c = mm.encode_avi(_avi_frames(5, 6), 6, 4)          # distinct
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id BIGINT, video BINARY"
    )
    pairs = mm.video_neardup(df, every_n=1, min_shared=2).collect()
    assert [(r["a_id"], r["b_id"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["shared_frames"] >= 2


def test_semantic_decontaminate_drops_clones(spark):
    from clickhouse_arrow_spark.operators.similarity import (
        semantic_decontaminate,
    )

    import numpy as np

    rng = np.random.RandomState(5)
    vecs = rng.randn(40, 8)
    corpus_rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    # benchmark = exact copies of corpus rows 0..4 plus a scaled copy
    # of row 5 (cosine 1.0 — scale-invariant) and one unrelated vector
    bench_rows = [(100 + i, [float(x) for x in vecs[i]]) for i in range(5)]
    bench_rows.append((105, [float(2.5 * x) for x in vecs[5]]))
    bench_rows.append((106, [float(x) for x in rng.randn(8)]))
    bench = spark.createDataFrame(
        bench_rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    kept = {
        r["vec_id"]
        for r in semantic_decontaminate(
            corpus, bench, threshold=0.9999
        ).collect()
    }
    assert kept.isdisjoint(set(range(6)))      # clones + scaled copy gone
    assert set(range(6, 40)) <= kept           # everything else survives
    # the contaminated-id set joins back; the corpus-side flagging is
    # a shuffle-free mapInPandas stage (BLAS matmul per batch)
    plan = (
        semantic_decontaminate(corpus, bench, threshold=0.9999)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan and "CartesianProduct" not in plan


def test_cap_per_group_and_token_cap(spark):
    from clickhouse_arrow_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 30), (3, "a", 20), (4, "b", 5),
         (5, "b", 5)],
        "doc_id BIGINT, source STRING, tokens BIGINT",
    )
    top2 = sampling.cap_per_group(df, "source", 2, "tokens")
    got = sorted((r.source, r.doc_id) for r in top2.collect())
    # a keeps its two largest (30, 20); ties in b break by id
    assert got == [("a", 2), ("a", 3), ("b", 4), ("b", 5)]

    capped = sampling.token_cap_per_group(df, "source", 35, "tokens")
    kept = sorted((r.source, r.doc_id, r.cum_tokens)
                  for r in capped.collect())
    # a: 10, then 10+30=40 > 35 stops after doc 1; b: 5, 10 both fit
    assert kept == [("a", 1, 10), ("b", 4, 5), ("b", 5, 10)]

    # the window partitions on the GROUP key — never a global
    # single-partition sort
    plan = top2._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


def test_epoch_expand_fractional(spark):
    from clickhouse_arrow_spark.operators import sampling
    from pyspark.sql import functions as F2

    df = spark.range(0, 1000).select(F2.col("id").alias("doc_id"))
    # integer epochs: exactly e copies each
    two = sampling.epoch_expand(df, 2.0)
    assert two.count() == 2000
    assert two.groupBy("doc_id").count().where("count != 2").count() == 0
    # fractional epochs: floor + a ~frac-sized deterministic lottery
    out = sampling.epoch_expand(df, 1.5, seed=3)
    per = {r.doc_id: r["count"]
           for r in out.groupBy("doc_id").count().collect()}
    assert set(per.values()) <= {1, 2}
    n_two = sum(1 for v in per.values() if v == 2)
    assert 400 <= n_two <= 600  # ~50% within modular-spread tolerance
    # deterministic: same seed -> same copy multiset
    again = sampling.epoch_expand(df, 1.5, seed=3)
    assert out.exceptAll(again).count() == 0
    assert again.exceptAll(out).count() == 0
    # e < 1 keeps only the lottery slice, never duplicates
    frac = sampling.epoch_expand(df, 0.25, seed=1)
    n = frac.count()
    assert 150 <= n <= 350
    assert frac.groupBy("doc_id").count().where("count > 1").count() == 0
    # no shuffle, no python stage
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_c4_line_filter_rules(spark):
    from clickhouse_arrow_spark.operators import text as text_ops

    pages = [
        # normal page: 2 good lines survive, short/punctless dropped
        (1, "This is a good sentence.\nshort\n"
            "Another proper sentence here!\nno terminal punct line"),
        # javascript line dropped, rest kept
        (2, "Enable javascript to continue.\nA fine closing thought."),
        # lorem ipsum poisons the page
        (3, "Lorem ipsum dolor sit amet.\nA real sentence follows here."),
        # brace poisons the page (code block tell)
        (4, "function f() {\nreturn 1; }\nA good sentence though."),
        # nothing survives -> page dropped
        (5, "no punct\nalso none"),
        # quote after terminal punctuation still counts
        (6, 'He said "this is fine."\nShe agreed with that remark?'),
    ]
    df = spark.createDataFrame(pages, "doc_id BIGINT, text STRING")
    out = {r.doc_id: r for r in text_ops.c4_line_filter(df).collect()}
    assert out[1].kept_lines == 2 and out[1].page_kept
    assert out[1].clean_text == (
        "This is a good sentence.\nAnother proper sentence here!"
    )
    assert out[2].kept_lines == 1 and out[2].page_kept
    assert "javascript" not in out[2].clean_text
    assert not out[3].page_kept          # lorem ipsum
    assert not out[4].page_kept          # '{'
    assert out[5].kept_lines == 0 and not out[5].page_kept
    assert out[6].kept_lines == 2 and out[6].page_kept
    # one projection: no exchange, no python stage
    plan = text_ops.c4_line_filter(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_unimax_waterfilling(spark):
    from clickhouse_arrow_spark.operators import sampling

    # three "languages": 10, 40, 100 tokens
    rows = (
        [(i, "a", 1) for i in range(10)]
        + [(100 + i, "b", 4) for i in range(10)]
        + [(200 + i, "c", 10) for i in range(10)]
    )
    df = spark.createDataFrame(
        rows, "doc_id BIGINT, lang STRING, tokens BIGINT"
    )
    # budget 60, 1 epoch: a saturates at 10; theta spreads 50 over
    # b and c -> 25 each
    alloc = {
        r.lang: r.allocation
        for r in sampling.unimax_allocate(
            df, "lang", "tokens", 60, max_epochs=1.0
        ).collect()
    }
    assert alloc == {"a": 10.0, "b": 25.0, "c": 25.0}
    # budget above the total capacity: everything at cap
    alloc2 = {
        r.lang: r.allocation
        for r in sampling.unimax_allocate(
            df, "lang", "tokens", 10_000, max_epochs=1.0
        ).collect()
    }
    assert alloc2 == {"a": 10.0, "b": 40.0, "c": 100.0}
    # epoch cap scales capacity
    alloc3 = {
        r.lang: r.allocation
        for r in sampling.unimax_allocate(
            df, "lang", "tokens", 10_000, max_epochs=2.0
        ).collect()
    }
    assert alloc3 == {"a": 20.0, "b": 80.0, "c": 200.0}
    # selection: id-ordered prefix within each group's allocation
    kept = sampling.unimax_select(df, "lang", "tokens", 60, max_epochs=1.0)
    by_lang = {}
    for r in kept.collect():
        by_lang.setdefault(r.lang, []).append(r.doc_id)
    assert sorted(by_lang["a"]) == list(range(10))       # all 10 tokens
    assert sorted(by_lang["b"]) == [100 + i for i in range(6)]  # 24 <= 25
    assert sorted(by_lang["c"]) == [200, 201]            # 20 <= 25


def test_semantic_decontaminate_string_ids(spark):
    # non-numeric ids keep their native type — a long cast would NULL
    # them and silently return the corpus unfiltered
    from clickhouse_arrow_spark.operators.similarity import (
        semantic_decontaminate,
    )

    corpus = spark.createDataFrame(
        [("doc-a", [1.0, 0.0]), ("doc-b", [0.0, 1.0]),
         ("doc-c", [0.7, 0.7])],
        "doc_id STRING, embedding ARRAY<DOUBLE>",
    )
    bench = spark.createDataFrame(
        [("bench-1", [2.0, 0.0])], "doc_id STRING, embedding ARRAY<DOUBLE>"
    )
    kept = {
        r["doc_id"]
        for r in semantic_decontaminate(
            corpus, bench, corpus_id="doc_id", threshold=0.999
        ).collect()
    }
    assert kept == {"doc-b", "doc-c"}


# ---------------------------------------------------------------------------
# substring_dedup (Lee et al. 2021 ExactSubstr, round 8)
# ---------------------------------------------------------------------------


def test_substring_dedup_first_occurrence_survives(spark):
    from clickhouse_arrow_spark.operators.text import substring_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "xx alpha beta gamma delta epsilon zeta yy zz"),
            (3, "totally unique words here nothing shared at all"),
            (4, "alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_removed, r.text_clean)
        for r in substring_dedup(df, min_tokens=6).collect()
    }
    # doc 1 is the global first occurrence of the shared 6-token run:
    # untouched; docs 2 and 4 lose exactly the duplicated region
    assert got[1] == (0, "alpha beta gamma delta epsilon zeta eta theta")
    assert got[2] == (6, "xx yy zz")
    assert got[3][0] == 0
    assert got[4] == (6, "")


def test_substring_dedup_overlapping_runs_merge(spark):
    from clickhouse_arrow_spark.operators.text import substring_dedup

    # doc 2 contains a 7-token duplicated run: its two overlapping
    # 6-token windows must merge into ONE 7-token removal, not 12
    run = "a b c d e f g"
    df = spark.createDataFrame(
        [(1, run + " tail1 tail2"), (2, "head " + run + " end")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_removed, r.text_clean)
        for r in substring_dedup(df, min_tokens=6).collect()
    }
    assert got[1][0] == 0
    assert got[2] == (7, "head end")


def test_substring_dedup_within_doc_repeat(spark):
    from clickhouse_arrow_spark.operators.text import substring_dedup

    # the same run twice INSIDE one doc: second copy removed
    run = "p q r s t u"
    df = spark.createDataFrame(
        [(1, run + " mid " + run)], "doc_id long, text string"
    )
    r = substring_dedup(df, min_tokens=6).collect()[0]
    assert r.n_removed == 6
    assert r.text_clean == run + " mid"


def test_substring_dedup_short_docs_untouched(spark):
    from clickhouse_arrow_spark.operators.text import substring_dedup

    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, "")],
        "doc_id long, text string",
    )
    rows = substring_dedup(df, min_tokens=6).collect()
    assert all(r.n_removed == 0 for r in rows)


def test_substring_dedup_string_id_refused(spark):
    import pytest as _pt

    from clickhouse_arrow_spark.operators.text import substring_dedup

    df = spark.createDataFrame(
        [("a", "x y z")], "doc_id string, text string"
    )
    with _pt.raises(ValueError, match="integral"):
        substring_dedup(df)


def test_substring_dedup_matches_bruteforce(spark):
    """Randomized cross-check: the distributed pipeline (window
    digests -> first-occurrence -> interval merge) must equal a
    direct Python recomputation on small random corpora."""
    import random

    from clickhouse_arrow_spark.operators.text import substring_dedup

    L = 4
    rng = random.Random(8)
    for trial in range(3):
        docs = []
        for doc_id in range(12):
            n = rng.randint(0, 14)
            docs.append(
                (doc_id,
                 " ".join(rng.choice("ab cd ef gh".split())
                          for _ in range(n)))
            )

        # brute force
        def toks(t):
            return [w for w in t.lower().strip().split() if w]

        wins = {}
        for doc_id, t in docs:
            tt = toks(t)
            for pos in range(max(len(tt) - L + 1, 0)):
                key = tuple(tt[pos: pos + L])
                wins.setdefault(key, []).append((doc_id, pos))
        marked = {}
        for occs in wins.values():
            if len(occs) < 2:
                continue
            occs = sorted(occs)
            for doc_id, pos in occs[1:]:
                marked.setdefault(doc_id, set()).update(
                    range(pos, pos + L)
                )
        expected = {
            doc_id: len(positions) for doc_id, positions in marked.items()
        }

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: r.n_removed
            for r in substring_dedup(
                df, min_tokens=L, keep_text=False
            ).collect()
            if r.n_removed > 0
        }
        assert got == expected, f"trial {trial}: {got} != {expected}"
