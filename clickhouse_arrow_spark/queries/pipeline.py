"""Pipeline-operator corpus entries: dedup / similarity / text /
multimodal / as-of, each wired to a DuckDB oracle where the operator is
engine-agnostic (deterministic math, no engine-specific hash). Entries
without an oracle (minhash/simhash use Spark's xxhash64; the decode stub
runs Python) take the driver's rows-only check, as the contract allows
for non-SQL-expressible ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_arrow_spark.operators import asof, dedup, multimodal, similarity, text
from clickhouse_arrow_spark.queries.base import register

# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
    ORDER BY doc_id
    """,
    doc="Exact dedup: survivor id + copy count per normalized text "
    "(hash-groupBy; shuffle key is a 256-bit digest — skew-proof).",
    headline=True,
    tags=("dedup", "exact"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(spark.table("documents")).orderBy("doc_id")


@register(
    "shingle_minhash_lsh",
    """
    WITH t AS (
      SELECT doc_id, lang AS grp, length(text) AS nlen,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          ' ') AS toks
      FROM documents
    ), base AS (
      SELECT doc_id, grp, nlen,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM t
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x)))
                      AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM base a JOIN base b
      ON a.grp = b.grp AND a.doc_id < b.doc_id
     AND abs(a.nlen - b.nlen) <= 20
    WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9
    ORDER BY a_id, b_id
    """,
    doc="MinHash(64)+LSH(16 bands) as a CANDIDATE GENERATOR with exact "
    "shingle-Jaccard verification (round-12 rows-only upgrade, the e2e "
    "tier-4 pattern): candidates at est >= 0.5, survivors at TRUE "
    "Jaccard >= 0.9 under (lang, length-band 20) blocking. No engine "
    "hash reaches the result, so the oracle recomputes the pair set "
    "and the Jaccard values from the set definition; at J >= 0.9 a "
    "16-band/4-row LSH miss has probability (1-J^4)^16 < 1e-7.",
    headline=True,
    tags=("dedup", "minhash", "lsh"),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_verified_pairs(
        spark.table("documents"), est_threshold=0.5, verify_threshold=0.9
    ).orderBy("a_id", "b_id")


@register(
    "simhash_neardup",
    """
    WITH t AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          ' ') AS toks
      FROM documents
    ),
    hx AS (
      SELECT doc_id,
             list_transform(toks, tk ->
               list_reduce(list_transform(range(1, 9),
                 i -> CAST(strpos('0123456789abcdef', substr(md5(tk), i, 1))
                           AS BIGINT) - 1),
                 (a, b) -> a * 16 + b)) AS h_lo,
             list_transform(toks, tk ->
               list_reduce(list_transform(range(9, 17),
                 i -> CAST(strpos('0123456789abcdef', substr(md5(tk), i, 1))
                           AS BIGINT) - 1),
                 (a, b) -> a * 16 + b)) AS h_hi
      FROM t
    ),
    sims AS (
      SELECT doc_id,
             list_reduce(list_transform(range(0, 32), i ->
               CASE WHEN list_reduce(list_transform(h_hi, h ->
                      CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END),
                      (a, b) -> a + b) > 0
                    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END),
               (a, b) -> a | b) AS sim_hi,
             list_reduce(list_transform(range(0, 32), i ->
               CASE WHEN list_reduce(list_transform(h_lo, h ->
                      CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END),
                      (a, b) -> a + b) > 0
                    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END),
               (a, b) -> a | b) AS sim_lo
      FROM hx
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.sim_hi, b.sim_hi))
                + bit_count(xor(a.sim_lo, b.sim_lo)) AS INT) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim_hi, b.sim_hi))
          + bit_count(xor(a.sim_lo, b.sim_lo)) <= 3
    ORDER BY a_id, b_id
    """,
    doc="SimHash near-dup pairs within Hamming distance 3 on the "
    "PORTABLE md5-based fingerprint (round-12 rows-only upgrade): the "
    "oracle recomputes the Charikar construction from the same md5 "
    "token hashes, so fingerprints and the full pair set are value-"
    "compared cross-engine. Pigeonhole 4x16-bit blocking is EXACT "
    "(any pair within Hamming < 4 shares a block) — recall 1.0 by "
    "construction, not probabilistically. xxhash64 simhash_near_pairs "
    "remains the 100 TB default path (tests/test_operators.py).",
    tags=("dedup", "simhash"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_pairs_portable(
        spark.table("documents")
    ).orderBy("a_id", "b_id")


@register(
    "dedup_neardup_gate",
    """
    WITH t AS (
      SELECT doc_id, lang AS grp, length(text) AS nlen,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          ' ') AS toks
      FROM documents
    ), base AS (
      SELECT doc_id, grp, nlen,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM t
    ), gt AS (
      SELECT count(*) AS gt_pairs
      FROM base a JOIN base b
        ON a.grp = b.grp AND a.doc_id < b.doc_id
       AND abs(a.nlen - b.nlen) <= 20
      WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9
    )
    SELECT CAST(gt_pairs AS BIGINT) AS gt_pairs,
           CAST(0 AS BIGINT) AS mh_missing,
           true AS mh_bounded, true AS sh_bounded, true AS ok
    FROM gt
    """,
    doc="Recall + linearity gate for the engine-hash near-dup tiers "
    "(minhash/simhash pair lists use xxhash64 so they have no direct "
    "cross-engine oracle). Ground truth: blocked pairs with TRUE "
    "shingle-set Jaccard >= 0.9 (operators/dedup.shingle_jaccard_pairs "
    "— the exact same word-3-gram shingling minhash uses, recomputed "
    "independently by the DuckDB oracle, which also pins gt_pairs so a "
    "shingling drift is caught). Gates: every ground-truth pair must "
    "appear in the MinHash-LSH candidates (at J>=0.9 a 16-band/4-row "
    "miss has probability (1-J^4)^16 < 1e-7 — deterministic for fixed "
    "data+seed); the candidate count must stay within [gt_pairs, "
    "n_docs] (an all-pairs banding regression blows the linear upper "
    "bound); the simhash pair count must be nonzero and <= n_docs "
    "(simhash's Hamming ball is a different similarity space, so it "
    "gets bounds, not the recall superset).",
    tags=("dedup", "minhash", "simhash", "gate"),
)
def q_dedup_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")
    gt = dedup.shingle_jaccard_pairs(docs, threshold=0.9).select("a_id", "b_id")
    mh = dedup.minhash_candidate_pairs(docs, threshold=0.5).select("a_id", "b_id")
    sh = dedup.simhash_near_pairs(docs).select("a_id", "b_id")
    counts = (
        gt.agg(F.count("*").alias("gt_pairs"))
        .crossJoin(gt.join(mh, ["a_id", "b_id"], "left_anti")
                   .agg(F.count("*").alias("mh_missing")))
        .crossJoin(mh.agg(F.count("*").alias("mh_n")))
        .crossJoin(sh.agg(F.count("*").alias("sh_n")))
        .crossJoin(docs.agg(F.count("*").alias("n_docs")))
    )
    mh_bounded = (F.col("mh_n") >= F.col("gt_pairs")) & (
        F.col("mh_n") <= F.col("n_docs")
    )
    sh_bounded = (F.col("sh_n") >= 1) & (F.col("sh_n") <= F.col("n_docs"))
    return counts.select(
        "gt_pairs",
        "mh_missing",
        mh_bounded.alias("mh_bounded"),
        sh_bounded.alias("sh_bounded"),
        (
            (F.col("mh_missing") == 0) & mh_bounded & sh_bounded
        ).alias("ok"),
    )


@register(
    "dedup_ngram_jaccard",
    """
    WITH base AS (
      SELECT doc_id, lang AS grp, length(text) AS nlen,
             list_distinct(string_split(lower(text), ' ')) AS toks
      FROM documents
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(
             CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE),
           6) AS jaccard
    FROM base a JOIN base b
      ON a.grp = b.grp AND a.doc_id < b.doc_id
     AND abs(a.nlen - b.nlen) <= 20
    WHERE CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.95
    ORDER BY a_id, b_id
    """,
    doc="Exact word-set Jaccard near-dup pairs with (lang, length-band) "
    "blocking — the oracle-able tier of n-gram Jaccard dedup; blocking "
    "lives in the join key (10k candidate pairs at sf0.1 vs 2.3M "
    "unblocked).",
    tags=("dedup", "jaccard"),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.ngram_jaccard_pairs(
        spark.table("documents"), threshold=0.95, length_band=20
    ).orderBy("a_id", "b_id")


_EMBED_DEDUP_ORACLE = """
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    aug AS (
      SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_concat([v[1] * 1.01], v[2:]) AS v
      FROM base WHERE vec_id < 50
    ),
    cents AS (
      SELECT vec_id AS cid, v AS cv,
             sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS cnorm
      FROM base WHERE vec_id < 16
    ),
    assigned AS (
      -- ranking divides by the CENTROID norm only, mirroring
      -- ivf_assign: the row norm is constant per vec_id and cannot
      -- change the argmax
      SELECT vec_id, v, cid FROM (
        SELECT aug.vec_id, aug.v, cents.cid,
               row_number() OVER (
                 PARTITION BY aug.vec_id
                 ORDER BY round(
                   list_reduce(list_transform(range(1, len(v) + 1),
                                              i -> v[i] * cv[i]),
                               (a, b) -> a + b) / cnorm,
                 6) DESC, cents.cid
               ) AS rn
        FROM aug CROSS JOIN cents
      ) WHERE rn = 1
    )
    SELECT a_id, b_id, cosine FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(
               list_reduce(list_transform(range(1, len(a.v) + 1),
                                          i -> a.v[i] * b.v[i]),
                           (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))),
             6) AS cosine
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
    ) WHERE cosine >= 0.95
    ORDER BY a_id, b_id
"""


@register(
    "dedup_embedding_cosine",
    _EMBED_DEDUP_ORACLE,
    doc="Embedding-cosine near-dup pairs (>= 0.95) via IVF bucketing — "
    "compare-within-bucket, never all-pairs. The raw corpus has no "
    "pairs that close, which made the check vacuous; the query plants "
    "deterministic near-dups (vec_id+1000000, first component * 1.01, "
    "cosine ~0.9999) inside the pipeline on BOTH engines, so the green "
    "row proves the bucketing + pair join + cosine threshold end to "
    "end. Bucket assignment (argmax over the 16 lowest-id centroids, "
    "rounded to 6 decimals, ties to the lowest centroid id) is "
    "deterministic and replicated exactly in the DuckDB oracle.",
    tags=("dedup", "embedding"),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = spark.table("embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    v = F.col("embedding")
    clones = base.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at(v, 1) * 1.01),
            F.slice(v, 2, F.size(v) - 1),
        ).alias("embedding"),
    )
    aug = base.unionByName(clones)
    return similarity.embedding_near_duplicates(aug, threshold=0.95).orderBy(
        "a_id", "b_id"
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_ANN_ORACLE = """
    WITH q AS (
      SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings
    ),
    scored AS (
      SELECT q.query_id, c.vec_id,
             round(
               list_reduce(list_transform(range(1, len(qv)+1), i -> qv[i] * cv[i]),
                           (a, b) -> a + b)
               / (sqrt(list_reduce(list_transform(qv, x -> x*x), (a,b) -> a+b))
                  * sqrt(list_reduce(list_transform(cv, x -> x*x), (a,b) -> a+b))),
             6) AS cosine
      FROM q CROSS JOIN c
    )
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT query_id, vec_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY query_id, rank
"""


@register(
    "ann_brute_force_topk",
    _ANN_ORACLE,
    doc="Exact cosine top-10 for 5 query vectors over the corpus — "
    "broadcast queries, JVM-side dot products, per-query window top-k.",
    headline=True,
    tags=("similarity", "ann"),
)
def q_ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.table("embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.brute_force_topk(emb, queries, k=10).orderBy(
        "query_id", "rank"
    )


@register(
    "ann_ivf_recall",
    """
    SELECT vec_id AS query_id, CAST(10 AS INT) AS k, true AS recall_ok,
           CAST(10 AS BIGINT) AS n_results, true AS bucket_ok
    FROM embeddings WHERE vec_id < 5
    ORDER BY query_id
    """,
    doc="Recall + pruning gate for the IVF path. recall_ok: recall@10 "
    "of ivf_topk(nlist=16, nprobe=4) against the exact brute-force "
    "top-10 must be >= 0.6 per query (measured 0.7-1.0 at "
    "sf0.001/0.01/0.1). n_results: IVF must return exactly k rows per "
    "query (empty-probe/dropped-query bugs surface here — the "
    "rows-only check on vector_ivf_topk cannot pin this). bucket_ok: "
    "the largest IVF bucket holds <= half the corpus, so probing "
    "nprobe/nlist buckets actually prunes (a degenerate all-in-one-"
    "bucket assignment flips it false). The oracle pins every column.",
    tags=("similarity", "ann", "ivf", "recall", "gate"),
)
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.table("embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.brute_force_topk(emb, queries, k=10).select(
        "query_id", "vec_id"
    )
    approx = similarity.ivf_topk(emb, queries, k=10, nlist=16, nprobe=4).select(
        "query_id", "vec_id"
    )
    hits = (
        exact.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(hits, "query_id", "left")
        .join(
            approx.groupBy("query_id").agg(F.count("*").alias("n_results")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            (
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.col("n_exact")
            ).alias("recall"),
            F.coalesce(F.col("n_results"), F.lit(0)).alias("n_results"),
        )
    )
    # pruning bound: largest bucket of the same assignment ivf_topk
    # uses must hold <= half the corpus (else probing doesn't prune)
    cents = similarity.deterministic_centroids(emb, 16)
    bucketed = similarity.ivf_assign(emb, cents.collect())
    bucket_stats = (
        bucketed.groupBy("centroid_id")
        .agg(F.count("*").alias("bn"))
        .agg(F.max("bn").alias("max_bucket"))
        .crossJoin(emb.agg(F.count("*").alias("n_corpus")))
        .select(
            (F.col("max_bucket") * 2 <= F.col("n_corpus")).alias("bucket_ok")
        )
    )
    return per_q.crossJoin(F.broadcast(bucket_stats)).select(
        "query_id",
        F.lit(10).cast("int").alias("k"),
        (F.col("recall") >= 0.6).alias("recall_ok"),
        "n_results",
        "bucket_ok",
    ).orderBy("query_id")


@register(
    "vector_ivf_topk",
    """
    WITH cent AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    centn AS (
      SELECT cid, cvec,
             sqrt(list_reduce(list_transform(cvec, x -> x*x),
                              (a, b) -> a + b)) AS cnorm
      FROM cent
    ),
    c AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings
    ),
    assign AS (
      SELECT vec_id, cv, cid FROM (
        SELECT c.vec_id, c.cv, n.cid,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY -round(list_reduce(
                            list_transform(range(1, len(cv) + 1),
                                           i -> cv[i] * n.cvec[i]),
                            (a, b) -> a + b) / n.cnorm, 6),
                          n.cid) AS rn
        FROM c CROSS JOIN centn n
      ) WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.qv, n.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY -round(list_reduce(
                            list_transform(range(1, len(qv) + 1),
                                           i -> qv[i] * n.cvec[i]),
                            (a, b) -> a + b) / n.cnorm, 6),
                          n.cid) AS rn
        FROM q CROSS JOIN centn n
      ) WHERE rn <= 4
    ),
    scored AS (
      SELECT p.query_id, a.vec_id,
             round(list_reduce(list_transform(range(1, len(p.qv) + 1),
                     i -> p.qv[i] * a.cv[i]), (x, y) -> x + y)
                   / (sqrt(list_reduce(list_transform(p.qv, x -> x*x),
                                       (x, y) -> x + y))
                      * sqrt(list_reduce(list_transform(a.cv, x -> x*x),
                                         (x, y) -> x + y))),
                   6) AS cosine
      FROM probes p JOIN assign a ON p.cid = a.cid
    )
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT query_id, vec_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS INT)
               AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    doc="IVF top-10: corpus bucketed by 16 deterministic centroids, "
    "queries probe 4 buckets — the 100 TB scale path (probe cost is "
    "nprobe/nlist of the corpus, bucket layout is writable as a "
    "partitioned index). Round-12 rows-only upgrade: the IVF contract "
    "(lowest-id seeding, centroid-norm argmax with cid tie-break, "
    "nprobe slice, 6-dp cosine with vec_id tie-break) is fully "
    "deterministic, so the oracle re-derives the entire probe path and "
    "value-compares neighbors, cosines AND ranks — not just recall.",
    tags=("similarity", "ann", "ivf"),
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.table("embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.ivf_topk(emb, queries, k=10, nlist=16, nprobe=4).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "doc_quality_tokens",
    """
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]')) AS INT)
               AS bpe_tokens,
             CAST(length(text) AS INT) AS n_chars,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
             CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in)\\b')) AS DOUBLE)
               AS stop_hits
      FROM documents
    )
    SELECT doc_id, ws_tokens, bpe_tokens, n_chars,
           round(least(n / 500.0, 1.0), 6) AS len_score,
           round(alpha / greatest(n, 1.0), 6) AS alpha_ratio,
           round(least(stop_hits / 5.0, 1.0), 6) AS stop_score,
           round(least(n / 500.0, 1.0) * 0.3
                 + alpha / greatest(n, 1.0) * 0.3
                 + least(stop_hits / 5.0, 1.0) * 0.2
                 + (1 - least(punct / greatest(n, 1.0) * 10.0, 1.0)) * 0.1
                 + (1 - least(digits / greatest(n, 1.0) * 10.0, 1.0)) * 0.1,
           6) AS quality
    FROM m
    ORDER BY doc_id
    """,
    doc="Document-profile composite in ONE projection: whitespace + "
    "BPE-ish pre-tokenizer token counts AND C4/Gopher-style quality "
    "heuristics — formerly text_token_count / text_quality_score; at "
    "100 TB the second corpus pass is the cost, not the extra columns.",
    tags=("text", "tokens", "quality"),
)
def q_doc_quality_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.doc_profile(spark.table("documents")).orderBy("doc_id")


def _lang_oracle() -> str:
    score = {
        lang: f"CAST(len(regexp_extract_all(lower(text), '\\b({'|'.join(words)})\\b')) AS INT)"
        for lang, words in text.STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(score.values()) + ")"
    case = "CASE " + " ".join(
        f"WHEN {score[lang]} = best THEN '{lang}'" for lang in text.STOPWORDS
    ) + " END"
    fingerprint = """list_reduce(
             list_transform(
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ''),
               c -> CAST(unicode(c) AS BIGINT)),
             (a, b) -> (a * 31 + b) % 1000000007
           )"""
    return f"""
    WITH scored AS (
      SELECT doc_id, text, {best} AS best FROM documents
    )
    SELECT doc_id, {case} AS pred_lang, CAST(best AS INT) AS best_score,
           {fingerprint} AS fingerprint
    FROM scored
    ORDER BY doc_id
    """


@register(
    "doc_language_fingerprint",
    _lang_oracle(),
    doc="Language-ID + fingerprint composite in one projection: "
    "stopword-vote language ID (deterministic heuristic; a model slots "
    "in as pandas_udf behind the same schema) AND a polynomial "
    "rolling-hash fingerprint — engine-agnostic fold, identical from "
    "Spark's aggregate() and DuckDB's list_reduce() — formerly "
    "text_language_id / text_fingerprint.",
    tags=("text", "langid", "fingerprint"),
)
def q_doc_language_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_fingerprint(spark.table("documents")).orderBy("doc_id")


@register(
    "neardup_survivors",
    """
    SELECT min(doc_id) AS doc_id
    FROM documents
    GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
    ORDER BY doc_id
    """,
    doc="Connected-component survivor selection "
    "(operators/dedup.duplicate_survivors): iterative min-label "
    "propagation over the near-dup pair graph keeps exactly one doc "
    "per duplicate component — transitive, unlike a naive "
    "drop-all-b_ids pass. Run here over the EXACT-duplicate pair "
    "graph, whose components are the identical-text groups, so the "
    "oracle is min(doc_id) per normalized text.",
    tags=("dedup", "survivors", "graph"),
)
def q_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")
    norm_key = F.sha2(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 256
    )
    keyed = docs.select(norm_key.alias("n"), F.col("doc_id"))
    a = keyed.select(F.col("n"), F.col("doc_id").alias("a_id"))
    b = keyed.select(F.col("n"), F.col("doc_id").alias("b_id"))
    pairs = (
        a.join(b, "n").where(F.col("a_id") < F.col("b_id")).select("a_id", "b_id")
    )
    return dedup.duplicate_survivors(
        docs.select("doc_id"), pairs
    ).orderBy("doc_id")


@register(
    "text_pii_scrub",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(text,
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ip,
           CAST(len(regexp_extract_all(text,
             '\\+\\d{1,3}[- ]\\d{3}[- ]\\d{3,4}[- ]\\d{3,4}')) AS INT) AS n_phone,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
             '\\+\\d{1,3}[- ]\\d{3}[- ]\\d{3,4}[- ]\\d{3,4}', '<PHONE>', 'g'
           ) AS scrubbed
    FROM documents
    ORDER BY doc_id
    """,
    doc="PII redaction pass (operators/text.pii_scrub): emails, IPv4s, "
    "international phone formats replaced with typed placeholders, "
    "plus per-class hit counts — one projection, RE2-compatible "
    "patterns so the oracle computes the identical redacted text.",
    tags=("text", "pii"),
)
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pii_scrub(spark.table("documents")).orderBy("doc_id")


@register(
    "text_chunking",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE doc_id < 200
    ),
    starts AS (
      SELECT doc_id, t,
             unnest(range(1, greatest(len(t), 1) + 1, 48)) AS start,
             generate_subscripts(range(1, greatest(len(t), 1) + 1, 48), 1) - 1 AS chunk_id
      FROM toks
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           array_to_string(t[start:start+63], ' ') AS chunk_text,
           CAST(least(len(t) - start + 1, 64) AS INT) AS n_tokens
    FROM starts
    ORDER BY doc_id, chunk_id
    """,
    doc="Context-window packing (operators/text.chunk_documents): "
    "64-token chunks with 16-token overlap (stride 48), generated as "
    "sequence + explode + array slice — the cardinality-expanding step "
    "of a training pipeline, no Python.",
    tags=("text", "chunking"),
)
def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents").where(F.col("doc_id") < 200)
    return text.chunk_documents(docs, chunk_tokens=64, overlap=16).orderBy(
        "doc_id", "chunk_id"
    )


@register(
    "text_train_split",
    """
    WITH fp AS (
      SELECT doc_id,
             list_reduce(
               list_transform(
                 string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ''),
                 c -> CAST(unicode(c) AS BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007
             ) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, CAST(bucket AS INT) AS bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM fp
    ORDER BY doc_id
    """,
    doc="Deterministic train/val/test split (operators/text.train_split)"
    ": assignment by CONTENT fingerprint modulus, so duplicates land in "
    "the same split and the partition is reproducible outside Spark — "
    "the leakage-safe way to split a training corpus.",
    tags=("text", "split"),
)
def q_text_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.train_split(spark.table("documents")).orderBy("doc_id")


@register(
    "doc_decontaminate",
    """
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 7, 0) + 1),
                      i -> array_to_string(t[i:i+7], ' '))) AS g
        FROM toks
      )
    ),
    bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id % 97 = 0)
    SELECT d.doc_id, b.bench_id, count(*) AS n_shared
    FROM grams d JOIN bench b USING (g)
    GROUP BY d.doc_id, b.bench_id
    ORDER BY d.doc_id, b.bench_id
    """,
    doc="Benchmark decontamination (operators/text.decontaminate): "
    "count distinct 8-gram overlaps between every training document and "
    "a benchmark set (here: docs with doc_id % 97 = 0 standing in for "
    "an eval suite) — the train/test-contamination scan run before "
    "training. Benchmark grams broadcast (eval sets are tiny), corpus "
    "never shuffles for the join.",
    tags=("text", "decontamination", "dedup"),
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")
    bench = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return text.decontaminate(docs, bench, n=8).orderBy("doc_id", "bench_id")


@register(
    "text_repetition",
    """
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS b
      FROM toks
    ),
    bc AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY doc_id, b),
    pd AS (
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
             CAST(max(n) AS BIGINT) AS top_bigram_n
      FROM bc GROUP BY doc_id
    ),
    w AS (
      SELECT doc_id,
             round(1 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
               AS dup_word_frac
      FROM toks
    )
    SELECT pd.doc_id, n_bigrams, top_bigram_n,
           round(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 6) AS top_bigram_share,
           dup_word_frac
    FROM pd JOIN w ON pd.doc_id = w.doc_id
    ORDER BY pd.doc_id
    """,
    doc="Gopher-style repetition quality filters "
    "(operators/text.repetition_metrics): top-bigram share and "
    "duplicate-word fraction per document — the boilerplate/spam "
    "signals a length/alpha score misses. Exchanges keyed on the doc "
    "id only; bigram counts combine map-side.",
    tags=("text", "quality", "repetition"),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_metrics(spark.table("documents")).orderBy("doc_id")


@register(
    "deterministic_stratified",
    """
    SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS keysum
    FROM documents
    WHERE (((doc_id % 2147483647) * 2654435761 + 11) % 2147483647) % 1000 <
      CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 250 WHEN 'zh' THEN 100
           ELSE 50 END
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Deterministic stratified sampling "
    "(operators/sampling.stratified_sample): per-language keep rates "
    "(en 50%, de 25%, zh 10%, default 5%) selected by keyed modular "
    "arithmetic — re-run-stable (unlike sampleBy's RNG stream) and "
    "engine-portable, the corpus language-balancing step. Verified per "
    "stratum by count + key checksum.",
    tags=("sample", "stratified"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.sampling import stratified_sample

    sampled = stratified_sample(
        spark.table("documents"),
        rates={"en": 0.5, "de": 0.25, "zh": 0.1},
        strata_col="lang",
        key_col="doc_id",
        default_rate=0.05,
    )
    return (
        sampled.groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("doc_id").alias("keysum"))
        .orderBy("lang")
    )


@register(
    "sample_quality_weighted",
    """
    WITH m AS (
      SELECT doc_id,
             round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
                   + CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                     / greatest(CAST(length(text) AS DOUBLE), 1.0) * 0.3
                   + least(CAST(len(regexp_extract_all(lower(text),
                       '\\b(the|and|of|to|in)\\b')) AS DOUBLE) / 5.0, 1.0) * 0.2
                   + (1 - least(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                        / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0)) * 0.1
                   + (1 - least(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                        / greatest(CAST(length(text) AS DOUBLE), 1.0) * 10.0, 1.0)) * 0.1,
             6) AS quality
      FROM documents
    )
    SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS keysum,
           round(avg(quality), 6) AS avg_quality
    FROM m
    WHERE (((doc_id % 2147483647) * 2654435761 + 11) % 2147483647) % 1000
          < least(CAST(floor(quality * 1000) AS INT), 1000)
    """,
    doc="Quality-proportional resampling "
    "(operators/sampling.quality_weighted_sample): keep probability = "
    "the document's quality score (operators/text.quality_score), "
    "selected by the same deterministic keyed buckets as "
    "sample_stratified — the corpus-thinning step that upweights "
    "quality. Verified by kept-count, key checksum and mean kept "
    "quality.",
    tags=("sample", "quality"),
)
def q_sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.sampling import (
        quality_weighted_sample,
    )

    docs = spark.table("documents")
    q = text.quality_score(docs).select("doc_id", "quality")
    sampled = quality_weighted_sample(docs.join(q, "doc_id"), "quality", "doc_id")
    return sampled.agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("keysum"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


@register(
    "topk_frequent_values",
    """
    WITH w AS (
      SELECT lang,
             unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS word
      FROM documents
    ),
    c AS (SELECT lang, word, count(*) AS n FROM w GROUP BY lang, word),
    r AS (
      SELECT lang, word, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rank
      FROM c
    )
    SELECT lang, word, n, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 3
    ORDER BY lang, rank
    """,
    doc="ClickHouse topK analogue (operators/frequency.topk_frequent): "
    "the 3 most frequent words per language — count per (group, value) "
    "with map-side combine, then the two-phase per-key top-k (no "
    "Window.partitionBy(group) collapse), exact with deterministic "
    "value-ascending tie-break.",
    tags=("aggregate", "topk", "frequency"),
)
def q_topk_frequent_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.frequency import topk_frequent

    words = spark.table("documents").select(
        "lang",
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                " ",
            )
        ).alias("word"),
    )
    return topk_frequent(words, "lang", "word", k=3).orderBy("lang", "rank")


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


@register(
    "asof_events_orders",
    """
    WITH last_order AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS asof_orderkey
      FROM orders
      GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, lo.asof_orderkey
    FROM events e
    ASOF LEFT JOIN last_order lo
      ON e.user_id = lo.o_custkey AND e.ts >= lo.o_orderdate
    ORDER BY e.event_id
    """,
    doc="Backward as-of join (events -> latest preceding order per "
    "user). Spark implementation: union + keyed window last() — one "
    "shuffle on the key; oracle: DuckDB ASOF JOIN.",
    headline=True,
    tags=("asof", "join", "events"),
)
def q_asof_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spark.table("events").select("event_id", "user_id", "ts")
    # The oracle's `max(o_orderkey) GROUP BY (o_custkey, o_orderdate)`
    # pre-aggregation is folded into the as-of window's sort instead
    # (`right_order` tie-break): (custkey, orderdate) is nearly unique
    # in orders, so the groupBy reduced almost nothing while costing a
    # full extra shuffle of the orders table (round-12: 3 Exchanges ->
    # 2, identical result — at equal orderdate the window's last() now
    # picks the max orderkey directly).
    last_order = spark.table("orders").select(
        "o_custkey", "o_orderdate", F.col("o_orderkey").alias("asof_orderkey")
    )
    return (
        asof.asof_join(
            events,
            last_order,
            by="user_id",
            right_by="o_custkey",
            left_time="ts",
            right_time="o_orderdate",
            value_cols=["asof_orderkey"],
            right_order=["asof_orderkey"],
        )
        .select("event_id", "user_id", "asof_orderkey")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@register(
    "binary_media_metadata",
    """
    SELECT doc_id,
           'application/octet-stream' AS mime,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS checksum
    FROM documents
    ORDER BY doc_id
    """,
    doc="Opaque binary payload + typed metadata (mime/bytes/checksum) — "
    "the multimodal column model; metadata computed JVM-side.",
    tags=("multimodal", "metadata"),
)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        multimodal.attach_payload(spark.table("documents"))
        .select(
            "doc_id",
            F.col("media.mime").alias("mime"),
            F.col("media.n_bytes").alias("n_bytes"),
            F.col("media.checksum").alias("checksum"),
        )
        .orderBy("doc_id")
    )


_DECODE_FEATURE_COLS = ", ".join(
    f"CAST(((hv >> {i * 3}) % 256) / 255.0 AS FLOAT) AS f{i}"
    for i in range(8)
)

@register(
    "multimodal_decode_features",
    """
    WITH h AS (
      SELECT doc_id,
             CASE WHEN length(text) = 0 THEN 0
                  ELSE list_reduce(
                    list_transform(range(1, least(length(text), 64) + 1),
                                   i -> CAST(ascii(substr(text, i, 1))
                                             AS BIGINT)),
                    (a, b) -> (a * 131 + b) % 2147483648)
             END AS hv
      FROM documents
    )
    SELECT doc_id, 'application/octet-stream' AS mime,
           CAST(16 + hv % 1024 AS INT) AS width,
           CAST(16 + (hv // 1024) % 1024 AS INT) AS height,
    """ + _DECODE_FEATURE_COLS + """
    FROM h ORDER BY doc_id
    """,
    doc="mapInPandas decode plumbing: payload -> (width, height, "
    "features[8]) with a deterministic stub decoder; real codecs "
    "register into DECODERS without plan changes. Round-12 rows-only "
    "upgrade: the stub's byte-fold h = (h*131 + b) mod 2^31 over the "
    "first 64 payload bytes is recomputed by the oracle from the raw "
    "text (pure ASCII in this corpus, so ascii(char) == byte), and "
    "width/height/all 8 feature values are value-compared cross-engine "
    "(features as float32 on both sides — the mapInPandas schema "
    "quantizes, so the oracle casts to FLOAT too).",
    tags=("multimodal", "decode", "pandas-udf"),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    payloads = multimodal.attach_payload(spark.table("documents"))
    return (
        multimodal.decode_features(payloads)
        .select(
            "doc_id", "mime", "width", "height",
            *[F.col("features")[i].alias(f"f{i}") for i in range(8)],
        )
        .orderBy("doc_id")
    )


@register(
    "binary_decode_gate",
    """
    WITH d AS (
      SELECT doc_id,
             4 + doc_id % 13 AS width,
             4 + doc_id % 7 AS height
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(list_sum(list_transform(range(width * height),
                p -> (doc_id * 31 + 21 * p) % 256)) AS BIGINT) AS sum_r,
           CAST(list_sum(list_transform(range(width * height),
                p -> (doc_id * 31 + 21 * p + 7) % 256)) AS BIGINT) AS sum_g,
           CAST(list_sum(list_transform(range(width * height),
                p -> (doc_id * 31 + 21 * p + 14) % 256)) AS BIGINT) AS sum_b
    FROM d ORDER BY doc_id
    """,
    doc="REAL-codec decode gate: each document gets a genuine binary "
    "PPM (P6) payload (operators/multimodal.encode_ppm — valid image "
    "bytes with SQL-expressible pixel arithmetic), decoded back by the "
    "stdlib P6 parser (decode_ppm) inside the same mapInPandas plan "
    "the stubbed formats use. Spark reports exact per-channel pixel "
    "sums from the DECODED bytes; the oracle recomputes them "
    "arithmetically from doc_id — a header-parse or byte-order bug "
    "flips the row red bit-for-bit. Raw byte i of image id is "
    "(id*31 + i*7) % 256, so channel c pixel p is "
    "(id*31 + 21p + 7c) % 256.",
    tags=("multimodal", "decode", "gate", "real-codec"),
)
def q_binary_decode_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents").where(F.col("doc_id") < 200).select("doc_id")
    payloads = multimodal.attach_ppm_payload(docs)
    return multimodal.decode_ppm_stats(payloads).orderBy("doc_id")


@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id, CAST(unnest(range(0, 100, 10)) AS INT) AS frame_idx
    FROM documents
    WHERE doc_id < 50
    ORDER BY doc_id, frame_idx
    """,
    doc="Video frame-sampling plumbing: every-10th-frame explode plan.",
    tags=("multimodal", "video"),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents").where(F.col("doc_id") < 50)
    return (
        multimodal.frame_sample_plan(docs, every_n=10)
        .select("doc_id", F.col("frame_idx").cast("int").alias("frame_idx"))
        .orderBy("doc_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# structured streaming (executed to completion via Trigger.AvailableNow)
# ---------------------------------------------------------------------------


@register(
    "events_stream_tumbling",
    """
    WITH maxts AS (SELECT max(ts) AS m FROM events)
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    HAVING time_bucket(INTERVAL '1 hour', min(ts)) + INTERVAL 1 HOUR
           <= (SELECT m FROM maxts) - INTERVAL 2 HOUR
    ORDER BY 1, 2
    """,
    doc="REAL Structured Streaming run: readStream -> watermark(2h) -> "
    "tumbling 1h windows -> availableNow to a memory sink. Append mode "
    "emits exactly the closed windows, which the oracle reproduces with "
    "a watermark cutoff.",
    tags=("streaming", "window-agg"),
)
def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from clickhouse_arrow_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        tumbling_window_agg,
    )

    stream = tumbling_window_agg(read_events_stream(spark, sf_dir))
    name = f"q_stream_tumble_{uuid.uuid4().hex[:8]}"
    out = run_to_memory_sink(stream, name, output_mode="append")
    return out.orderBy("window_start", "event_type")


@register(
    "events_stream_dedup",
    """
    SELECT event_type, count(DISTINCT event_id) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="REAL Structured Streaming exactly-once ingest dedup "
    "(streaming/events.streaming_dedup): the stream unioned with "
    "itself simulates replays/retries; dropDuplicatesWithinWatermark "
    "on event_id keeps state bounded by event time (a plain "
    "dropDuplicates grows forever) and the per-type counts equal the "
    "batch DISTINCT the oracle computes — the ReplacingMergeTree "
    "ingest analogue.",
    tags=("streaming", "dedup"),
)
def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from clickhouse_arrow_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        streaming_dedup,
    )

    stream = read_events_stream(spark, sf_dir)
    replayed = stream.unionByName(stream)
    deduped = streaming_dedup(replayed, keys=["event_id"])
    name = f"q_stream_dedup_{uuid.uuid4().hex[:8]}"
    out = run_to_memory_sink(deduped, name, output_mode="append")
    return (
        out.groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("n"))
        .orderBy("event_type")
    )


@register(
    "events_stream_session",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sessions GROUP BY user_id, session_id
    ),
    maxts AS (SELECT max(ts) AS m FROM events)
    SELECT session_start, session_end, user_id, n_events
    FROM per_session, maxts
    WHERE session_end <= m - INTERVAL 2 HOUR
    ORDER BY user_id, session_start
    """,
    doc="REAL Structured Streaming session windows (30 min gap) via "
    "availableNow; append mode emits exactly the CLOSED sessions. The "
    "oracle reproduces them relationally: lag/cumsum sessionization, "
    "session_end = last event + gap, closed iff session_end <= "
    "max(ts) - watermark(2h). Boundary semantics verified empirically: "
    "an event exactly gap-distance away MERGES (inclusive), and a "
    "session whose end equals the final watermark IS emitted.",
    tags=("streaming", "session"),
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from clickhouse_arrow_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        session_window_agg,
    )

    stream = session_window_agg(read_events_stream(spark, sf_dir))
    name = f"q_stream_sess_{uuid.uuid4().hex[:8]}"
    out = run_to_memory_sink(stream, name, output_mode="append")
    return out.orderBy("user_id", "session_start")


@register(
    "events_fill_gaps",
    """
    WITH agg AS (
      SELECT event_type, time_bucket(INTERVAL '5 minutes', ts) AS bucket,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM agg),
    spine AS (
      SELECT et.event_type, unnest(generate_series(lo, hi, INTERVAL '5 minutes')) AS bucket
      FROM (SELECT DISTINCT event_type FROM agg) et, bounds
    )
    SELECT spine.event_type, spine.bucket, CAST(coalesce(agg.n, 0) AS BIGINT) AS n
    FROM spine LEFT JOIN agg
      ON spine.event_type = agg.event_type AND spine.bucket = agg.bucket
    ORDER BY 1, 2
    """,
    doc="ORDER BY ... WITH FILL analogue (operators/timeseries.fill_gaps): "
    "densify 5-minute event counts so every bucket exists per type; "
    "spine generated distributed via sequence+explode.",
    tags=("timeseries", "fill", "events"),
)
def q_events_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.timeseries import fill_gaps

    agg = (
        spark.table("events")
        .groupBy(
            F.col("event_type"),
            F.window("ts", "5 minutes").start.alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
    )
    return (
        fill_gaps(agg, "bucket", 300, group_cols=["event_type"], fill_values={"n": 0})
        .select("event_type", "bucket", F.col("n").cast("long").alias("n"))
        .orderBy("event_type", "bucket")
    )


# events_window_funnel merged into events_funnel_family
# (queries/functions.py) so the funnel family lands inside the driver's
# 50-entry CORRECTNESS window.


@register(
    "limit_by_events",
    """
    SELECT user_id, event_id, ts
    FROM (
      SELECT user_id, event_id, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn <= 2
    ORDER BY user_id, ts, event_id
    """,
    doc="ClickHouse `LIMIT 2 BY user_id` (operators/timeseries.limit_by):"
    " first two events per user under a total (ts, event_id) order — one"
    " ranking-window exchange on the key.",
    tags=("timeseries", "limit-by", "events"),
)
def q_limit_by_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.timeseries import limit_by

    e = spark.table("events").select("user_id", "event_id", "ts")
    return limit_by(
        e, 2, by=["user_id"], order=[F.col("ts"), F.col("event_id")]
    ).orderBy("user_id", "ts", "event_id")


@register(
    "ann_quantize_gate",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vecs, true AS acc_ok
    FROM embeddings WHERE vec_id < 500
    """,
    doc="int8 scalar-quantization accuracy gate "
    "(operators/similarity.quantize_embeddings): cosine computed from "
    "dequantized int8 vectors must stay within 0.02 of the exact "
    "float cosine for every checked vector pair (each vec vs vec 0). "
    "The oracle pins acc_ok true and the checked-vector count — a "
    "quantizer regression flips the row red.",
    tags=("similarity", "quantization", "gate"),
)
def q_vector_quantize_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.table("embeddings").where(F.col("vec_id") < 500)
    q = similarity.quantize_embeddings(emb)
    joined = (
        emb.join(q, "vec_id")
        .crossJoin(
            F.broadcast(
                emb.join(q, "vec_id")
                .where(F.col("vec_id") == 0)
                .select(
                    F.col("embedding").alias("ref_vec"),
                    F.col("qembedding").alias("ref_q"),
                )
            )
        )
    )
    from clickhouse_arrow_spark.operators.similarity import (
        _cosine,
        dequantized_cosine,
    )

    exact = _cosine(F.col("embedding"), F.col("ref_vec"))
    approx = dequantized_cosine(
        F.col("qembedding"), F.col("qscale"), F.col("ref_q"), F.lit(1.0)
    )
    per_vec = joined.select(
        "vec_id", (F.abs(exact - approx) <= 0.02).alias("_ok")
    )
    return per_vec.agg(
        F.count("*").alias("n_vecs"),
        F.bool_and("_ok").alias("acc_ok"),
    )


@register(
    "stream_purchase_join",
    """
    SELECT c.user_id AS user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           p.value AS amount
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    ORDER BY user_id, click_ts, purchase_ts, click_id, purchase_id
    """,
    doc="REAL stream-stream interval join (watermarked both sides, "
    "event-time-bounded condition so join state is evictable) drained "
    "with availableNow; an inner interval join emits matches eagerly, "
    "so the oracle is the exact batch interval join.",
    tags=("streaming", "join", "interval"),
)
def q_stream_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from clickhouse_arrow_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        stream_stream_purchase_attribution,
    )

    stream = read_events_stream(spark, sf_dir)
    joined = stream_stream_purchase_attribution(stream, stream)
    name = f"q_stream_join_{uuid.uuid4().hex[:8]}"
    out = run_to_memory_sink(joined, name, output_mode="append")
    return out.orderBy(
        "user_id", "click_ts", "purchase_ts", "click_id", "purchase_id"
    )


@register(
    "sequence_match_events",
    """
    WITH syms AS (
      SELECT user_id,
             string_agg(CASE WHEN event_type = 'click' THEN 'a'
                             ELSE 'b' END, '' ORDER BY ts, event_id) AS s
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(regexp_matches(s, 'a[a-b]*b') AS INT) AS matched,
           CAST(len(regexp_extract_all(s, 'ab')) AS INT) AS n_adjacent
    FROM syms ORDER BY user_id
    """,
    doc="ClickHouse sequenceMatch('(?1).*(?2)') + sequenceCount("
    "'(?1)(?2)') over (click, purchase): per-user event-symbol strings "
    "+ regex — one keyed aggregation, no Python. Events matching no "
    "condition are EXCLUDED before the string is built (CH ignores "
    "them, docs' 1,3,2 example). The oracle rebuilds the filtered "
    "symbol string with ordered string_agg and RE2.",
    tags=("events", "sequence", "funnel"),
)
def q_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.funnel import (
        sequence_count,
        sequence_match,
    )

    ev = spark.table("events")
    conds = [F.col("event_type") == "click", F.col("event_type") == "purchase"]
    m = sequence_match(ev, "user_id", "ts", "(?1).*(?2)", conds, id_col="event_id")
    c = sequence_count(
        ev, "user_id", "ts", "(?1)(?2)", conds, id_col="event_id"
    ).withColumnRenamed("n_matches", "n_adjacent")
    return m.join(c, "user_id").orderBy("user_id")


@register(
    "seq_timed_within",
    """
    WITH ce AS (
      SELECT user_id, ts, event_id, event_type
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    hits AS (
      SELECT DISTINCT a.user_id
      FROM ce a JOIN ce b
        ON a.user_id = b.user_id
       AND a.event_type = 'click' AND b.event_type = 'purchase'
       AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
       AND epoch(b.ts) - epoch(a.ts) <= 600
    )
    SELECT u.user_id,
           CAST(CASE WHEN h.user_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS matched
    FROM (SELECT DISTINCT user_id FROM ce) u
    LEFT JOIN hits h ON u.user_id = h.user_id
    ORDER BY u.user_id
    """,
    doc="ClickHouse sequenceMatch('(?1)(?t<=600)(?2)') — click followed "
    "by a purchase within 600s, arbitrary events between the anchors "
    "(the docs' (?t...) semantics). Routes to the bitmask-exact "
    "backtracking matcher in applyInPandas (one shuffle keyed on the "
    "user, Arrow-batched). Oracle: ordered-pair EXISTS with the same "
    "(ts, event_id) tie-break and epoch-second gap.",
    tags=("events", "sequence", "funnel", "pandas"),
)
def q_seq_timed_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.funnel import sequence_match

    ev = spark.table("events")
    conds = [F.col("event_type") == "click", F.col("event_type") == "purchase"]
    return sequence_match(
        ev, "user_id", "ts", "(?1)(?t<=600)(?2)", conds, id_col="event_id"
    ).orderBy("user_id")


@register(
    "util_decode_media_gate",
    """
    WITH d AS (
      SELECT doc_id,
             4 + doc_id % 11 AS pw, 4 + doc_id % 5 AS ph,
             64 + doc_id % 32 AS nf
      FROM documents WHERE doc_id < 150
    )
    SELECT doc_id,
           CAST(pw AS INT) AS png_width, CAST(ph AS INT) AS png_height,
           CAST(list_sum(list_transform(range(pw * ph),
                p -> (doc_id * 37 + 33 * p) % 256)) AS BIGINT) AS png_sum_r,
           CAST(list_sum(list_transform(range(pw * ph),
                p -> (doc_id * 37 + 33 * p + 11) % 256)) AS BIGINT) AS png_sum_g,
           CAST(list_sum(list_transform(range(pw * ph),
                p -> (doc_id * 37 + 33 * p + 22) % 256)) AS BIGINT) AS png_sum_b,
           CAST(nf AS INT) AS wav_frames,
           CAST(list_sum(list_transform(range(nf),
                k -> ((doc_id * 13 + k * 7) % 200) - 100)) AS BIGINT) AS wav_sum,
           CAST(list_sum(list_transform(range(nf),
                k -> abs(((doc_id * 13 + k * 7) % 200) - 100))) AS BIGINT)
             AS wav_sum_abs
    FROM d ORDER BY doc_id
    """,
    doc="REAL PNG + WAV codec gate: every document gets genuine "
    "zlib-compressed PNG bytes (filter type rotates through all five "
    "spec filters via id % 5 — Sub/Up/Average/Paeth reconstruction is "
    "exercised on the decode path, not just filter 0) and a RIFF PCM16 "
    "WAV; decode_media_stats inflates + reconstructs + parses them in "
    "one mapInPandas pass and reports exact integer channel/sample "
    "sums, which the oracle recomputes arithmetically from doc_id. "
    "PNG pixel byte i = (id*37 + 11i) % 256 (channel c pixel p -> "
    "i = 3p + c); WAV sample k = ((id*13 + 7k) % 200) - 100.",
    tags=("multimodal", "decode", "gate", "real-codec", "audio"),
)
def q_util_decode_media_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents").where(F.col("doc_id") < 150).select("doc_id")
    payloads = multimodal.attach_media_payloads(docs)
    return multimodal.decode_media_stats(payloads).orderBy("doc_id")


@register(
    "util_final_replacing",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1 ORDER BY o_custkey
    """,
    doc="FROM t FINAL on a ReplacingMergeTree(ver) table "
    "(ddl.rewrite_final): orders keyed by o_custkey with o_orderkey as "
    "the version — FINAL folds to the max-version row per key, exactly "
    "the dedup-latest window the oracle computes directly.",
    tags=("ddl", "final", "dedup-latest"),
)
def q_util_final_replacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.ddl import CreateOptions, create_table

    client = Client(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS corpusdb")
    spark.sql("DROP TABLE IF EXISTS corpusdb.orders_versions")
    create_table(
        spark,
        "corpusdb",
        "orders_versions",
        [
            ("o_custkey", "Int64"),
            ("o_orderkey", "Int64"),
            ("o_totalprice", "Float64"),
        ],
        CreateOptions(
            engine="ReplacingMergeTree(o_orderkey)", order_by=("o_custkey",)
        ),
    )
    client.insert(
        "corpusdb.orders_versions",
        spark.table("orders").select("o_custkey", "o_orderkey", "o_totalprice"),
    )
    return client.query_ch(
        "SELECT o_custkey, o_orderkey, o_totalprice "
        "FROM corpusdb.orders_versions FINAL ORDER BY o_custkey"
    )


@register(
    "util_star_apply",
    """
    SELECT sum(o_orderkey) AS "sum(o_orderkey)",
           sum(o_custkey) AS "sum(o_custkey)",
           sum(o_totalprice) AS "sum(o_totalprice)"
    FROM orders
    """,
    doc="ClickHouse schema-dependent star modifiers "
    "(dialect.rewrite_star_apply): COLUMNS('^o_') regex projection + "
    "EXCEPT pruning + APPLY(sum) over the catalog-resolved column set; "
    "output names follow CH's applied-expression naming (sum(col)).",
    tags=("dialect", "star", "apply", "columns"),
)
def q_util_star_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT COLUMNS('^o_') EXCEPT (o_orderpriority, o_orderstatus, "
        "o_orderdate) APPLY(sum) FROM orders"
    )


@register(
    "util_star_apply_join",
    """
    SELECT CAST(sum(o_custkey) AS BIGINT) AS "sum(o_custkey)",
           CAST(sum(c_custkey) AS BIGINT) AS "sum(c_custkey)",
           CAST(sum(c_nationkey) AS BIGINT) AS "sum(c_nationkey)"
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="Round 6: star modifiers over a JOIN scope "
    "(dialect.rewrite_star_apply): the scope's column set is resolved "
    "by translating the FROM fragment and analyzing a LIMIT 0 probe "
    "(no job), so COLUMNS('re') APPLY(f) works over joins and "
    "subqueries exactly as ClickHouse's analyzer expands them.",
    tags=("dialect", "star", "apply", "columns", "join"),
)
def q_util_star_apply_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT COLUMNS('custkey|nationkey') APPLY(sum) "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    )


@register(
    "util_array_join_lockstep",
    """
    SELECT n_nationkey,
           CAST(x AS INT) AS x, CAST(y AS VARCHAR) AS y
    FROM (
      SELECT n_nationkey,
             unnest([n_nationkey * 10, n_nationkey * 10 + 1]) AS x,
             unnest(['a', 'b']) AS y
      FROM nation
    ) ORDER BY n_nationkey, x
    """,
    doc="Multi-array ARRAY JOIN a AS x, b AS y (dialect "
    "_rewrite_array_join): lockstep zip via ONE LATERAL VIEW inline "
    "over a size-guarded transform — no cross product; DuckDB's "
    "aligned unnest is the oracle.",
    tags=("dialect", "array-join", "lockstep"),
)
def q_util_array_join_lockstep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT n_nationkey, x, y FROM ("
        "  SELECT n_nationkey,"
        "         [n_nationkey * 10, n_nationkey * 10 + 1] AS nums,"
        "         ['a', 'b'] AS tags"
        "  FROM nation"
        ") ARRAY JOIN nums AS x, tags AS y ORDER BY n_nationkey, x"
    ).selectExpr("n_nationkey", "CAST(x AS INT) AS x", "y")


@register(
    "agg_state_merge_rollup",
    """
    SELECT round(sum(o_totalprice), 2) AS total,
           round(avg(o_totalprice), 4) AS mean,
           count(o_orderkey) AS n,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS u
    FROM orders
    """,
    doc="AggregateFunction -State/-Merge algebra (dialect): per-status "
    "partial states (sum/avg struct/count/min/max/uniqExact set) merged "
    "in an outer pass — the two-level rollup every aggregate "
    "materialized view depends on; the oracle is the direct one-level "
    "aggregate.",
    tags=("aggregate", "state", "merge", "matview"),
)
def q_agg_state_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT round(sumMerge(s), 2) AS total, "
        "round(avgMerge(av), 4) AS mean, countMerge(cn) AS n, "
        "minMerge(mn) AS lo, maxMerge(mx) AS hi, uniqExactMerge(ue) AS u "
        "FROM ("
        "  SELECT o_orderstatus, sumState(o_totalprice) AS s, "
        "         avgState(o_totalprice) AS av, "
        "         countState(o_orderkey) AS cn, "
        "         minState(o_totalprice) AS mn, "
        "         maxState(o_totalprice) AS mx, "
        "         uniqExactState(o_custkey) AS ue "
        "  FROM orders GROUP BY o_orderstatus)"
    )


@register(
    "agg_final_aggregating",
    """
    SELECT o_custkey,
           count(o_orderkey) AS cnt,
           round(sum(o_totalprice), 2) AS rev,
           round(sum(o_totalprice), 2) AS avg_sum,
           count(o_orderkey) AS avg_cnt,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           array_to_string(list_sort(list(o_orderkey)), ',') AS keys_sorted
    FROM orders GROUP BY o_custkey ORDER BY o_custkey
    """,
    doc="FROM t FINAL on an AggregatingMergeTree (ddl.rewrite_final): "
    "orders are inserted as THREE blocks of partial states per customer "
    "(sum/avg-struct/count/uniqExact-set/groupArray states via the "
    "dialect's -State algebra), FINAL merges the state columns per "
    "ORDER BY key in one map-side-combinable GROUP BY, and the query "
    "reads the merged STATES raw — the rowcount (one row per customer) "
    "attests the fold, the values attest each column's merge form; "
    "reference engine list clickhouse-arrow/src/schema.rs:310-383.",
    tags=("ddl", "final", "aggregating", "state", "merge"),
)
def q_agg_final_aggregating(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.ddl import CreateOptions, create_table

    client = Client(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS corpusdb")
    spark.sql("DROP TABLE IF EXISTS corpusdb.orders_aggregating")
    create_table(
        spark,
        "corpusdb",
        "orders_aggregating",
        [
            ("o_custkey", "Int64"),
            ("s", "AggregateFunction(sum, Float64)"),
            ("av", "AggregateFunction(avg, Float64)"),
            ("cn", "AggregateFunction(count, Int64)"),
            ("ue", "AggregateFunction(uniqExact, String)"),
            ("ga", "AggregateFunction(groupArray, Int64)"),
        ],
        CreateOptions(engine="AggregatingMergeTree", order_by=("o_custkey",)),
    )
    states = client.query_ch(
        "SELECT o_custkey, sumState(o_totalprice) AS s, "
        "avgState(o_totalprice) AS av, countState(o_orderkey) AS cn, "
        "uniqExactState(o_orderstatus) AS ue, "
        "groupArrayState(o_orderkey) AS ga "
        "FROM orders GROUP BY o_custkey, o_orderkey % 3"
    )
    client.insert("corpusdb.orders_aggregating", states)
    return client.query_ch(
        "SELECT o_custkey, cn AS cnt, round(s, 2) AS rev, "
        "round(av.sum, 2) AS avg_sum, av.count AS avg_cnt, "
        "arrayStringConcat(arraySort(ue), ',') AS statuses, "
        "arrayStringConcat(arrayMap(x -> toString(x), arraySort(ga)), ',')"
        " AS keys_sorted "
        "FROM corpusdb.orders_aggregating FINAL ORDER BY o_custkey"
    )


@register(
    "doc_gopher_filter",
    """
    WITH p AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS wc,
             length(regexp_replace(text, '\\s+', '', 'g')) AS nonspace,
             length(text) - length(replace(text, '#', '')) AS hashes,
             (length(text) - length(replace(text, '...', ''))) / 3 AS ells,
             regexp_split_to_array(trim(text), '\\s+') AS words,
             string_split(text, chr(10)) AS lines,
             lower(text) AS low
      FROM documents
    )
    SELECT doc_id,
           CAST(wc AS INT) AS word_count,
           round(nonspace / greatest(wc, 1), 6) AS mean_word_len,
           round((hashes + ells) / greatest(wc, 1), 6) AS symbol_ratio,
           round(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                 / greatest(wc, 1), 6) AS alpha_word_frac,
           CAST(
             CASE WHEN regexp_matches(low, '\\bthe\\b') THEN 1 ELSE 0 END +
             CASE WHEN regexp_matches(low, '\\bbe\\b') THEN 1 ELSE 0 END +
             CASE WHEN regexp_matches(low, '\\bto\\b') THEN 1 ELSE 0 END +
             CASE WHEN regexp_matches(low, '\\bof\\b') THEN 1 ELSE 0 END +
             CASE WHEN regexp_matches(low, '\\band\\b') THEN 1 ELSE 0 END +
             CASE WHEN regexp_matches(low, '\\bthat\\b') THEN 1 ELSE 0 END +
             CASE WHEN regexp_matches(low, '\\bhave\\b') THEN 1 ELSE 0 END +
             CASE WHEN regexp_matches(low, '\\bwith\\b') THEN 1 ELSE 0 END
           AS INT) AS stop_hits,
           wc >= 50 AND wc <= 100000 AS wc_ok,
           nonspace / greatest(wc, 1) >= 3
             AND nonspace / greatest(wc, 1) <= 10 AS word_len_ok,
           (hashes + ells) / greatest(wc, 1) <= 0.1 AS symbol_ok,
           len(list_filter(lines, x -> regexp_matches(x, '^\\s*[-*•]')))
             / greatest(len(lines), 1) < 0.9 AS bullet_ok,
           len(list_filter(lines, x -> regexp_matches(x, '\\.\\.\\.\\s*$')))
             / greatest(len(lines), 1) < 0.3 AS ellipsis_ok,
           len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
             / greatest(wc, 1) >= 0.8 AS alpha_ok,
           (CASE WHEN regexp_matches(low, '\\bthe\\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(low, '\\bbe\\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(low, '\\bto\\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(low, '\\bof\\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(low, '\\band\\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(low, '\\bthat\\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(low, '\\bhave\\b') THEN 1 ELSE 0 END +
            CASE WHEN regexp_matches(low, '\\bwith\\b') THEN 1 ELSE 0 END)
             >= 2 AS stopword_ok,
           (wc >= 50 AND wc <= 100000)
             AND (nonspace / greatest(wc, 1) >= 3
                  AND nonspace / greatest(wc, 1) <= 10)
             AND ((hashes + ells) / greatest(wc, 1) <= 0.1)
             AND (len(list_filter(lines, x -> regexp_matches(x, '^\\s*[-*•]')))
                  / greatest(len(lines), 1) < 0.9)
             AND (len(list_filter(lines,
                       x -> regexp_matches(x, '\\.\\.\\.\\s*$')))
                  / greatest(len(lines), 1) < 0.3)
             AND (len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                  / greatest(wc, 1) >= 0.8)
             AND ((CASE WHEN regexp_matches(low, '\\bthe\\b') THEN 1 ELSE 0 END +
                   CASE WHEN regexp_matches(low, '\\bbe\\b') THEN 1 ELSE 0 END +
                   CASE WHEN regexp_matches(low, '\\bto\\b') THEN 1 ELSE 0 END +
                   CASE WHEN regexp_matches(low, '\\bof\\b') THEN 1 ELSE 0 END +
                   CASE WHEN regexp_matches(low, '\\band\\b') THEN 1 ELSE 0 END +
                   CASE WHEN regexp_matches(low, '\\bthat\\b') THEN 1 ELSE 0 END +
                   CASE WHEN regexp_matches(low, '\\bhave\\b') THEN 1 ELSE 0 END +
                   CASE WHEN regexp_matches(low, '\\bwith\\b') THEN 1 ELSE 0 END)
                  >= 2) AS keep
    FROM p ORDER BY doc_id
    """,
    doc="Gopher quality rules (Rae et al. 2021 §A1.1) over the document "
    "corpus in ONE projection (operators/text.gopher_quality_filter): "
    "word count / mean word length / symbol ratio / bullet and "
    "ellipsis line fractions / alphabetic-word fraction / required "
    "stop words, each surfaced as an auditable boolean plus the "
    "conjunction — the oracle recomputes every rule in DuckDB.",
    tags=("documents", "quality", "gopher", "pipeline"),
)
def q_doc_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.text import gopher_quality_filter

    return gopher_quality_filter(spark.table("documents")).orderBy("doc_id")


@register(
    "doc_epoch_shuffle",
    """
    SELECT doc_id, md5(concat(doc_id, ':', '7')) AS shuffle_key
    FROM documents ORDER BY shuffle_key, doc_id LIMIT 100
    """,
    doc="Deterministic epoch shuffle (operators/text.epoch_shuffle): "
    "global order by md5(id:seed) — same seed, same permutation, on "
    "any cluster size; the sort is a range-partitioned global sort "
    "(no single-task collapse). First 100 positions pinned bit-exact "
    "against DuckDB's md5.",
    tags=("documents", "shuffle", "pipeline"),
)
def q_doc_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.text import epoch_shuffle

    return epoch_shuffle(
        spark.table("documents").select("doc_id"), seed=7
    ).limit(100)


@register(
    "doc_dsir_select",
    """
    WITH toks AS (
      SELECT doc_id, source,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(t || list_transform(range(1, len(t)),
                                        i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks
    ),
    feats AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS bucket,
             count(*) AS cnt
      FROM grams GROUP BY 1, 2, 3
    ),
    t_counts AS (
      SELECT bucket, sum(cnt) AS t_cnt FROM feats
      WHERE source = 'src13' GROUP BY 1
    ),
    r_counts AS (
      SELECT bucket, sum(cnt) AS r_cnt FROM feats GROUP BY 1
    ),
    weights AS (
      SELECT coalesce(t.bucket, r.bucket) AS bucket,
             ln((coalesce(t_cnt, 0) + 1.0) /
                ((SELECT sum(t_cnt) FROM t_counts) + 1024.0))
           - ln((coalesce(r_cnt, 0) + 1.0) /
                ((SELECT sum(r_cnt) FROM r_counts) + 1024.0)) AS logw
      FROM t_counts t FULL OUTER JOIN r_counts r ON t.bucket = r.bucket
    ),
    scored AS (
      SELECT f.doc_id, sum(f.cnt * coalesce(w.logw, 0.0)) AS logw
      FROM feats f LEFT JOIN weights w ON f.bucket = w.bucket
      GROUP BY 1
    ),
    keyed AS (
      SELECT doc_id, logw,
             logw - ln(-ln(
               (('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))
                 ::BIGINT + 0.5) / 4294967296.0)) AS key
      FROM scored
    )
    SELECT doc_id, round(logw, 6) AS logw_r, round(key, 6) AS key_r
    FROM keyed ORDER BY key DESC, doc_id LIMIT 50
    """,
    doc="DSIR — Data Selection via Importance Resampling (Xie et al. "
    "2023, arXiv:2302.03169) over operators/dsir.py: hashed "
    "unigram+bigram features (md5 bucket, cross-engine bit-exact), "
    "Laplace-smoothed per-bucket target/raw log-ratio weights "
    "(n_buckets rows, broadcast to the scoring join), per-doc "
    "importance scores, and deterministic Gumbel-top-k resampling "
    "(md5(id:seed) uniform) compiled to TakeOrderedAndProject. Target "
    "= source 'src13', raw = all documents, k=50, seed=42; the DuckDB "
    "oracle recomputes the whole pipeline from scratch.",
    tags=("documents", "dsir", "sampling", "pipeline"),
)
def q_doc_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from clickhouse_arrow_spark.operators import dsir

    docs = spark.table("documents")
    target = docs.filter(F.col("source") == "src13")
    # featurize the raw corpus ONCE for fit + score (the operator's own
    # raw_features contract; round-12 — the double featurization was
    # most of this query's cost, exactly as the dsir_fit docstring's
    # 1M-doc probe predicted). Eager so the two consumers cannot race
    # the cache.
    feats = dsir.hashed_ngram_features(docs, n_buckets=1024).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    feats.count()
    w = dsir.dsir_fit(target, docs, n_buckets=1024, raw_features=feats)
    scored = dsir.dsir_score(docs, w, n_buckets=1024, raw_features=feats)
    sel = dsir.dsir_resample(scored, 50, 42)
    return sel.select(
        "doc_id",
        F.round("logw", 6).alias("logw_r"),
        F.round("gumbel_key", 6).alias("key_r"),
    )


@register(
    "doc_bloom_decontaminate",
    """
    WITH toks AS (
      SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(1, len(t) - 6),
                    i -> array_to_string(t[i:i+7], ' ')))) AS g
      FROM toks WHERE len(t) >= 8
    ),
    exact AS (
      SELECT DISTINCT d.doc_id FROM grams d
      WHERE EXISTS (SELECT 1 FROM grams b
                    WHERE b.source = 'src0' AND b.g = d.g)
    )
    SELECT (SELECT count(*) FROM exact) AS exact_n,
           TRUE AS no_fn, TRUE AS fp_ok
    """,
    doc="Bloom-filter benchmark decontamination (operators/bloom.py): "
    "the eval set's 8-grams compress into a (word_idx, word) bit-table "
    "(m/64 rows, broadcast) instead of broadcasting gram ROWS — the "
    "constant-size scale path when the blocklist outgrows "
    "text.decontaminate's exact broadcast join. Gate: exact_n is the "
    "DuckDB-recomputed truly-contaminated count; no_fn pins the Bloom "
    "guarantee (every exactly-contaminated doc is flagged — zero false "
    "negatives, checked by anti-join); fp_ok bounds the false-positive "
    "tail at 5% of the corpus. k=4; m is sized from the blocklist: "
    "~84 bits per benchmark 8-gram, rounded up to a power of two, "
    "never below 2^21 (sf0.01's ~1.3k grams sit on that floor).",
    tags=("documents", "decontaminate", "bloom", "pipeline"),
)
def q_doc_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import bloom
    from clickhouse_arrow_spark.operators.text import decontaminate

    m_floor, k = 1 << 21, 4
    docs = spark.table("documents")
    bench = docs.filter(F.col("source") == "src0")
    # Size the filter to the BLOCKLIST (round-13, found by the sf1
    # campaign): a fixed m saturates once the benchmark outgrows it —
    # at sf1 the 10x benchmark drove kn/m to ~0.7 per probe and fp_ok
    # FALSE. ~84 bits/gram is the original sf0.01 design point
    # (2^21 bits / ~25k grams -> per-doc fp ~1e-3), kept constant by
    # construction at every SF; the 2^21 floor preserves the driver-SF
    # filter bit-for-bit. Costs one tiny aggregate over the SMALL side
    # (the blocklist) — the production sizing contract.
    import math

    n_grams = (
        bench.select(
            F.sum(
                F.greatest(
                    F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
                    - F.lit(7),
                    F.lit(0),
                )
            ).alias("g")
        ).first()["g"]
        or 1
    )
    m_bits = max(m_floor, 1 << math.ceil(math.log2(84 * n_grams)))
    exact_ids = (
        decontaminate(
            docs,
            bench.select(F.col("doc_id").alias("bench_id"), "text"),
            n=8,
        )
        .select("doc_id")
        .distinct()
    )
    words = bloom_words = bloom.bloom_build(bench, n=8, m_bits=m_bits, k=k)
    flagged_ids = (
        bloom.bloom_flag(docs, words, n=8, m_bits=m_bits, k=k)
        .filter(F.col("flagged"))
        .select("doc_id")
    )
    exact_n = exact_ids.agg(F.count("*").alias("exact_n"))
    no_fn = exact_ids.join(flagged_ids, "doc_id", "left_anti").agg(
        (F.count("*") == 0).alias("no_fn")
    )
    fp = flagged_ids.agg(F.count("*").alias("_flagged"))
    tot = docs.agg(F.count("*").alias("_tot"))
    return (
        exact_n.crossJoin(no_fn)
        .crossJoin(fp)
        .crossJoin(tot)
        .select(
            "exact_n",
            "no_fn",
            (
                (F.col("_flagged") - F.col("exact_n"))
                <= F.ceil(F.lit(0.05) * F.col("_tot"))
            ).alias("fp_ok"),
        )
    )


@register(
    "binary_dhash_dedup",
    """
    WITH g AS (
      SELECT doc_id % 50 AS k, count(*) AS n FROM documents GROUP BY 1
    )
    SELECT (SELECT count(*) FROM g) AS n_clusters,
           (SELECT CAST(sum(n * (n - 1) / 2) AS BIGINT) FROM g) AS n_pairs,
           TRUE AS key_hash_1to1
    """,
    doc="Perceptual-hash image dedup (operators/multimodal.image_dhash "
    "+ dhash_neardup): REAL PPM payloads synthesized so doc_id % 50 "
    "drives the image content — rows sharing a residue carry "
    "byte-identical images. The 64-bit difference hash decodes via "
    "mapInPandas (Arrow batches), and the hamming-0 pair join runs "
    "the pigeonhole band path, never all-pairs. Gate: cluster count "
    "and the exact duplicate-PAIR count must equal the residue "
    "structure DuckDB computes from raw documents; key_hash_1to1 pins "
    "that hashing is a bijection on the 50 distinct images (no "
    "cross-image dHash collisions, no intra-key split).",
    tags=("multimodal", "dedup", "dhash", "pipeline"),
)
def q_binary_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import multimodal as mm

    docs = spark.table("documents").select(
        "doc_id", (F.col("doc_id") % 50).alias("img_key")
    )
    payloads = mm.attach_ppm_payload(docs, key_col="img_key")
    hashes = mm.image_dhash(payloads).cache()
    keyed = hashes.join(docs, "doc_id")
    pairs = mm.dhash_neardup(hashes, max_hamming=0)
    n_clusters = hashes.agg(
        F.countDistinct("dhash").alias("n_clusters")
    )
    n_pairs = pairs.agg(F.count("*").cast("bigint").alias("n_pairs"))
    one_to_one = keyed.agg(
        (
            (F.countDistinct("img_key", "dhash") == F.countDistinct("img_key"))
            & (F.countDistinct("dhash") == F.countDistinct("img_key"))
        ).alias("key_hash_1to1")
    )
    return n_clusters.crossJoin(n_pairs).crossJoin(one_to_one)


@register(
    "agg_projection_route",
    """
    SELECT o_orderstatus,
           round(sum(o_totalprice), 2) AS rev,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice) / count(o_totalprice), 6) AS mean_price,
           TRUE AS routed
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="Round 6: ClickHouse table PROJECTIONS (projections.py): ALTER "
    "TABLE ADD PROJECTION (SELECT keys, aggs GROUP BY keys) stores "
    "per-block partial aggregates in a hidden table maintained by the "
    "matview insert trigger; MATERIALIZE backfills; and the read path "
    "AUTOMATICALLY reroutes a covered aggregate query to a "
    "re-aggregation of the partials (sum of sums, sum of counts, avg "
    "via its sum/count decomposition) — values identical to the base "
    "scan, attested by the DuckDB oracle over raw orders; the `routed` "
    "boolean pins that the rewrite actually targeted the hidden table. "
    "Reference DDL surface: clickhouse-arrow/src/schema.rs projection "
    "clauses.",
    tags=("ddl", "projection", "routing", "agg"),
)
def q_agg_projection_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.ddl import CreateOptions, create_table
    from clickhouse_arrow_spark.projections import route_projection

    client = Client(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS corpusproj")
    spark.sql("DROP TABLE IF EXISTS corpusproj.orders_p")
    spark.sql("DROP TABLE IF EXISTS corpusproj.orders_p__proj_by_status")
    create_table(
        spark, "corpusproj", "orders_p",
        [("o_orderkey", "Int64"), ("o_orderstatus", "String"),
         ("o_totalprice", "Float64")],
        CreateOptions(engine="MergeTree", order_by=("o_orderkey",)),
    )
    client.insert(
        "corpusproj.orders_p",
        spark.table("orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ),
    )
    client.execute_ch(
        "ALTER TABLE corpusproj.orders_p ADD PROJECTION by_status "
        "(SELECT o_orderstatus, sum(o_totalprice) AS rev, count() AS n, "
        "avg(o_totalprice) AS mean_price GROUP BY o_orderstatus)"
    )
    client.execute_ch(
        "ALTER TABLE corpusproj.orders_p MATERIALIZE PROJECTION by_status"
    )
    q = (
        "SELECT o_orderstatus, sum(o_totalprice) AS rev, count() AS n, "
        "avg(o_totalprice) AS mean_price FROM corpusproj.orders_p "
        "GROUP BY o_orderstatus"
    )
    routed_sql = route_projection(spark, q)
    routed = routed_sql is not None and "__proj_by_status" in routed_sql
    out = client.query_ch(q)
    return out.select(
        "o_orderstatus",
        F.round("rev", 2).alias("rev"),
        F.col("n").cast("long").alias("n"),
        F.round("mean_price", 6).alias("mean_price"),
        F.lit(bool(routed)).alias("routed"),
    ).orderBy("o_orderstatus")


@register(
    "core_file_tvf",
    """
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    ORDER BY n.n_nationkey
    """,
    doc="Round 6: ClickHouse file() table function "
    "(client._rewrite_file_tvfs; CH table-functions/file.md — the "
    "reference forwards these to the server): file('path','Parquet') "
    "becomes a Spark read registered as a temp view, so Catalyst "
    "pushes filters/projections into the scan like any file source; "
    "joined here against a catalog table to pin the FROM/JOIN "
    "substitution. s3() maps s3:// to s3a://; url() refuses with the "
    "DSv2 recipe.",
    tags=("source", "file", "tvf"),
)
def q_core_file_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        f"SELECT n.n_nationkey, n.n_name, r.r_name "
        f"FROM file('{sf_dir}/nation.parquet', 'Parquet') n "
        f"JOIN file('{sf_dir}/region.parquet') r "
        "ON n.n_regionkey = r.r_regionkey ORDER BY n.n_nationkey"
    )


@register(
    "core_url_tvf",
    """
    SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_count,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    doc="Round 8: ClickHouse url() table function "
    "(client._expand_url_tvf over sources/url_tvf.py; CH "
    "table-functions/url.md — the reference forwards it to the "
    "server, whose HTTP fetch machinery is "
    "clickhouse-arrow/src/http/client.rs:22-244): nation rows are "
    "served as TWO csv shards over real localhost HTTP, read back "
    "through url('.../shard_{1..2}.csv','CSV','structure') — brace "
    "glob = one executor task per URL (the urlCluster fan-out "
    "unit), structure applied through the CH type bridge — then "
    "aggregated; the oracle reads the same rows from the parquet "
    "table directly, so any fetch/parse/typing drift hash-fails.",
    tags=("source", "url", "tvf"),
)
def q_core_url_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow.parquet as pq

    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.sources.url_tvf import serve_static

    pdf = (
        pq.read_table(
            f"{sf_dir}/nation.parquet",
            columns=["n_nationkey", "n_regionkey", "n_name"],
        )
        .to_pandas()
        .sort_values("n_nationkey")
    )
    files = {
        f"/shard_{i + 1}.csv": pdf[pdf.n_nationkey % 2 == i]
        .to_csv(index=False, header=False)
        .encode()
        for i in (0, 1)
    }
    base, stop = serve_static(files)
    try:
        # eager: the fetch happens here, while the server is up; the
        # returned frame is the materialized (tiny) aggregate
        out = Client(spark).query_ch(
            f"SELECT n_regionkey, count() AS n_count, "
            f"sum(n_nationkey) AS key_sum, min(n_name) AS first_name "
            f"FROM url('{base}/shard_{{1..2}}.csv', 'CSV', "
            "'n_nationkey Int64, n_regionkey Int64, n_name String') "
            "GROUP BY n_regionkey ORDER BY n_regionkey"
        ).toPandas()
    finally:
        stop()
    return spark.createDataFrame(
        out,
        "n_regionkey BIGINT, n_count BIGINT, key_sum BIGINT, "
        "first_name STRING",
    )


@register(
    "text_substring_dedup",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         w -> w <> '') AS tokens
      FROM documents
    ), win AS MATERIALIZED (
      SELECT doc_id, i - 1 AS pos,
             doc_id * 1048576 + (i - 1) AS key,
             md5(array_to_string(tokens[i:i+7], ' ')) AS digest
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(tokens) - 7, 0)))
               AS i) g
    ), dup AS MATERIALIZED (
      SELECT digest, min(key) AS first_key FROM win
      GROUP BY digest HAVING count(*) >= 2
    ), marked AS MATERIALIZED (
      SELECT w.doc_id, w.pos FROM win w JOIN dup d USING (digest)
      WHERE w.key > d.first_key
    ), brks AS MATERIALIZED (
      SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER
               (PARTITION BY doc_id ORDER BY pos) + 8
             THEN 1 ELSE 0 END AS brk
      FROM marked
    ), isl AS MATERIALIZED (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
      FROM brks
    ), ivs AS MATERIALIZED (
      SELECT doc_id, isl_id, min(pos) AS s, max(pos) + 8 AS e
      FROM isl GROUP BY doc_id, isl_id
    )
    SELECT t.doc_id, CAST(len(t.tokens) AS BIGINT) AS n_tokens,
           CAST(sum(v.e - v.s) AS BIGINT) AS n_removed
    FROM toks t JOIN ivs v USING (doc_id)
    GROUP BY t.doc_id, len(t.tokens)
    ORDER BY t.doc_id
    """,
    doc="Round 8: exact-substring deduplication tier (Lee et al. "
    "2021 ExactSubstr; operators/text.substring_dedup): every "
    "duplicated run of >= L tokens is removed from all but its "
    "global-first occurrence — sliding-window digests, dup test on "
    "one digest exchange, gaps-and-islands interval merge. Gate at "
    "L=8 over documents, per-affected-doc (n_tokens, n_removed); "
    "the oracle rebuilds the same windows/intervals in SQL, so any "
    "drift in tokenization, window hashing, first-occurrence order, "
    "or interval merging hash-fails.",
    tags=("dedup", "text", "substring"),
)
def q_text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import text as text_ops

    out = text_ops.substring_dedup(
        spark.table("documents"), min_tokens=8, keep_text=False
    )
    return (
        out.where(F.col("n_removed") > 0)
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_removed").cast("long").alias("n_removed"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_select_budget",
    """
    WITH d AS (
      SELECT doc_id, lang,
             CAST(n_chars % 997 AS DOUBLE) / 997 AS quality,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS tokens
      FROM documents
    ), c AS (
      SELECT *, sum(tokens) OVER (ORDER BY quality DESC, doc_id)
               AS cum_tokens
      FROM d
    )
    SELECT doc_id, lang, round(quality, 6) AS quality, tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 8000 ORDER BY doc_id
    """,
    doc="Round 6: token-budget corpus selection "
    "(operators/sampling.select_token_budget): keep the highest-quality "
    "documents whose running token total fits a GLOBAL budget — the "
    "'best N tokens' step of a training build. Planned as a two-phase "
    "distributed prefix sum (approxQuantile range bounds + range-local "
    "window + broadcast offsets), never a one-task global window; the "
    "oracle is the naive single-window cumsum, bit-identical.",
    tags=("documents", "sampling", "budget", "pipeline"),
)
def q_doc_select_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.sampling import select_token_budget

    docs = spark.table("documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") % 997 / F.lit(997.0)).alias("quality"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("tokens"),
    )
    out = select_token_budget(docs, budget=8000)
    return out.select(
        "doc_id", "lang", F.round("quality", 6).alias("quality"),
        "tokens", F.col("cum_tokens").cast("long").alias("cum_tokens"),
    ).orderBy("doc_id")


@register(
    "dedup_incremental_gate",
    """
    SELECT TRUE AS kept_fresh, TRUE AS dropped_clones,
           TRUE AS min_id_rule, TRUE AS store_consistent
    """,
    doc="Round 6: incremental near-dup gate "
    "(operators/dedup.minhash_store + dedup_incremental): dedup a NEW "
    "batch against a persisted signature store with work proportional "
    "to the batch — old documents' text is never re-read. Gate: "
    "planted clones of store docs all drop, genuinely-new docs all "
    "survive, an intra-batch clone pair keeps only the min-id copy, "
    "and the appended store rows equal the survivor set exactly.",
    tags=("dedup", "incremental", "minhash", "gate", "pipeline"),
)
def q_dedup_incremental_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import random

    from clickhouse_arrow_spark.operators.dedup import (
        dedup_incremental,
        minhash_store,
    )

    # deterministic synthetic corpus (the documents table has its own
    # planted near-dups, which would entangle the gate's expectations)
    words = ("the quick brown fox jumps over a lazy dog near the old "
             "stone bridge at dawn every single day").split()

    def text(seed: int) -> str:
        rng = random.Random(seed)
        return " ".join(rng.choice(words) for _ in range(40))

    old = spark.createDataFrame(
        [(i, text(i)) for i in range(50)], "doc_id BIGINT, text STRING"
    )
    store = minhash_store(old)
    batch_rows = [(100 + i, text(1000 + i)) for i in range(10)]   # fresh
    batch_rows += [(9010, text(10)), (9020, text(20)),
                   (9030, text(30))]                              # clones
    batch_rows += [(450, text(2000)), (9100, text(2000)),
                   (9101, text(2000))]                            # intra
    batch = spark.createDataFrame(batch_rows, "doc_id BIGINT, text STRING")
    survivors, new_rows = dedup_incremental(batch, store, threshold=0.9)
    s_ids = {r["doc_id"] for r in survivors.select("doc_id").collect()}
    kept_fresh = all(100 + i in s_ids for i in range(10))
    dropped_clones = not ({9010, 9020, 9030} & s_ids)
    # 450's text rides at 9100 and 9101 too: only the smallest id wins
    min_id_rule = 450 in s_ids and not ({9100, 9101} & s_ids)
    store_consistent = new_rows.count() == len(s_ids)
    return spark.createDataFrame(
        [(bool(kept_fresh), bool(dropped_clones), bool(min_id_rule),
          bool(store_consistent))],
        "kept_fresh boolean, dropped_clones boolean, min_id_rule boolean, "
        "store_consistent boolean",
    )


@register(
    "ann_kmeans_gate",
    """
    SELECT TRUE AS k_rows, TRUE AS deterministic,
           TRUE AS inertia_non_increasing
    """,
    doc="Distributed Lloyd k-means gate "
    "(operators/similarity.kmeans_refine over deterministic_centroids "
    "seeding): the refined centroid set keeps exactly nlist rows, two "
    "runs are identical (deterministic seeding + deterministic "
    "assign), and refining never increases the clustering inertia "
    "(sum of 1-cosine to the assigned centroid) — Lloyd's monotone "
    "objective. Each iteration is one broadcast-literal assign "
    "projection + one (bucket, position) aggregation; no driver math, "
    "no crossJoin.",
    tags=("similarity", "kmeans", "clustering", "gate"),
)
def q_ann_kmeans_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.similarity import (
        _cosine,
        deterministic_centroids,
        ivf_assign,
        kmeans_refine,
    )

    emb = spark.table("embeddings").persist()
    nlist = 8
    seeds = deterministic_centroids(emb, nlist)

    def inertia(cents: DataFrame) -> float:
        a = ivf_assign(emb, cents)
        j = a.join(F.broadcast(cents), "centroid_id")
        return j.agg(
            F.sum(
                1.0 - _cosine(F.col("embedding"), F.col("centroid_vec"))
            ).alias("s")
        ).collect()[0]["s"]

    refined = kmeans_refine(emb, seeds, iters=1)
    rows = refined.orderBy("centroid_id").collect()
    # re-executing the same lazy chain must reproduce the centroids
    # bit-for-bit (deterministic seeding + deterministic assign)
    rows2 = refined.orderBy("centroid_id").collect()
    k_rows = len(rows) == nlist
    deterministic = [tuple(r) for r in rows] == [tuple(r) for r in rows2]
    non_increasing = inertia(refined) <= inertia(seeds) + 1e-6
    emb.unpersist()
    return spark.createDataFrame(
        [(bool(k_rows), bool(deterministic), bool(non_increasing))],
        "k_rows boolean, deterministic boolean, "
        "inertia_non_increasing boolean",
    )


@register(
    "sample_kcenter_gate",
    """
    SELECT TRUE AS k_rows, TRUE AS distinct_ids, TRUE AS deterministic,
           TRUE AS seeded_min_id
    """,
    doc="Greedy k-center diversity sampling gate "
    "(operators/similarity.kcenter_sample): exactly k selected ids, "
    "all distinct, two runs pick the identical set (deterministic "
    "argmax with id tie-break), and the seed is the smallest id. One "
    "bounded aggregation job per pick — k scans total, never "
    "all-pairs.",
    tags=("similarity", "sampling", "coreset", "gate"),
)
def q_sample_kcenter_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.similarity import kcenter_sample

    emb = spark.table("embeddings")
    ids = kcenter_sample(emb, 8)
    ids2 = kcenter_sample(emb, 8)
    min_id = emb.agg(F.min("vec_id")).collect()[0][0]
    return spark.createDataFrame(
        [
            (
                len(ids) == 8,
                len(set(ids)) == 8,
                ids == ids2,
                bool(ids and ids[0] == min_id),
            )
        ],
        "k_rows boolean, distinct_ids boolean, deterministic boolean, "
        "seeded_min_id boolean",
    )


@register(
    "util_sweep_scalar_wave",
    """
    SELECT 'a.b' AS si, 'axb2' AS r1,
           '1,22,333' AS ea,
           '3,2,1' AS sd,
           '1,1,2,1,3' AS eu,
           5.0 AS rd, CAST(6 AS BIGINT) AS g, CAST(12 AS BIGINT) AS l,
           2.5 AS dv, TRUE AS v4, FALSE AS v4n,
           '/a/b?c=1' AS pf, 'https://a.b/z' AS cw, 'ab-cd' AS uu,
           'a%20b' AS eu2, 'a b+c' AS du
    """,
    doc="Round-5 probe-sweep scalar battery as one hash-exact row: "
    "substringIndex, replaceRegexpOne (first-occurrence splice), "
    "extractAll group-wrap, key-lambda arraySort, arrayEnumerateUniq, "
    "roundDown, Euclid-fold gcd/lcm, CH-exact divide, isIPv4String, "
    "pathFull/cutWWW URL helpers, toUUID, encode/decodeURLComponent — "
    "the oracle pins the exact expected constants.",
    tags=("dialect", "sweep", "functions"),
)
def q_util_sweep_scalar_wave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT substringIndex('a.b.c', '.', 2) AS si, "
        "replaceRegexpOne('a1b2', '[0-9]', 'x') AS r1, "
        "arrayStringConcat(extractAll('a1b22c333', '[0-9]+'), ',') AS ea, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  arraySort(x -> -x, [1, 3, 2])), ',') AS sd, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  arrayEnumerateUniq([10, 20, 10, 30, 10])), ',') AS eu, "
        "roundDown(5.7, [1, 3, 5, 7]) AS rd, "
        "gcd(12, 18) AS g, lcm(4, 6) AS l, "
        "divide(10, 4) AS dv, "
        "isIPv4String('1.2.3.4') AS v4, isIPv4String('999.1.1.1') AS v4n, "
        "pathFull('http://x.com/a/b?c=1') AS pf, "
        "cutWWW('https://www.a.b/z') AS cw, "
        "toUUID('AB-CD') AS uu, "
        "encodeURLComponent('a b') AS eu2, "
        "decodeURLComponent('a%20b+c') AS du"
    )


@register(
    "util_numbers_tvf",
    """
    SELECT number, number * number AS sq,
           array_to_string(CAST(qs AS DOUBLE[]), ',') AS qs
    FROM (SELECT x AS number, x * x AS sq,
                 [2.5, 7.5] AS qs
          FROM range(3, 8) t(x))
    ORDER BY number
    """,
    doc="ClickHouse numbers(offset, n) table function -> Spark range() "
    "TVF (dialect.statements._rewrite_numbers_tvf), with weighted-quantile "
    "parametrics computed over a numbers() scan in a correlated "
    "cross-join-free form; DuckDB's range() TVF is the oracle.",
    tags=("dialect", "tvf", "numbers"),
)
def q_util_numbers_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT number, number * number AS sq, qs "
        "FROM numbers(3, 5) CROSS JOIN ("
        "  SELECT arrayStringConcat(arrayMap(x -> toString(x), "
        "         quantilesExactWeighted(0.25, 0.75)(number, 1)), ',') AS qs"
        "  FROM numbers(11)) q "
        "ORDER BY number"
    )


@register(
    "util_final_collapsing",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(1 AS TINYINT) AS sign
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1 ORDER BY o_custkey
    """,
    doc="FROM t FINAL on a CollapsingMergeTree(sign) table "
    "(ddl.rewrite_final): every order is inserted as a state row, and a "
    "cancel row (all fields copied, sign=-1) is inserted for every "
    "order that is NOT its customer's max-orderkey order — sign-sum "
    "cancellation leaves exactly the max-orderkey state per customer, "
    "which the oracle computes as a dedup-latest window.",
    tags=("ddl", "final", "collapsing"),
)
def q_util_final_collapsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.ddl import CreateOptions, create_table

    client = Client(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS corpusdb")
    spark.sql("DROP TABLE IF EXISTS corpusdb.orders_collapsing")
    create_table(
        spark,
        "corpusdb",
        "orders_collapsing",
        [
            ("o_custkey", "Int64"),
            ("o_orderkey", "Int64"),
            ("o_totalprice", "Float64"),
            ("sign", "Int8"),
        ],
        CreateOptions(engine="CollapsingMergeTree(sign)", order_by=("o_custkey",)),
    )
    base = spark.table("orders").select("o_custkey", "o_orderkey", "o_totalprice")
    states = base.withColumn("sign", F.lit(1).cast("tinyint"))
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey").desc())
    cancels = (
        base.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .drop("rn")
        .withColumn("sign", F.lit(-1).cast("tinyint"))
    )
    client.insert("corpusdb.orders_collapsing", states.unionByName(cancels))
    return client.query_ch(
        "SELECT o_custkey, o_orderkey, o_totalprice, sign "
        "FROM corpusdb.orders_collapsing FINAL ORDER BY o_custkey"
    )


@register(
    "util_final_vcollapsing",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders WHERE o_orderkey % 2 = 1
    ORDER BY o_custkey, o_orderkey
    """,
    doc="FROM t FINAL on a VersionedCollapsingMergeTree(sign, ver) "
    "table: state rows for every order (ver = o_orderkey), cancel rows "
    "for the even-orderkey ones — cancellation happens within each "
    "(key, ver) cell and FINAL keeps EVERY uncancelled version (the "
    "merge only deletes same-(key, version) sign pairs; multiple "
    "surviving versions coexist, matching ClickHouse): every "
    "odd-orderkey order survives, even-orderkey orders vanish.",
    tags=("ddl", "final", "collapsing", "versioned"),
)
def q_util_final_vcollapsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.ddl import CreateOptions, create_table

    client = Client(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS corpusdb")
    spark.sql("DROP TABLE IF EXISTS corpusdb.orders_vcollapsing")
    create_table(
        spark,
        "corpusdb",
        "orders_vcollapsing",
        [
            ("o_custkey", "Int64"),
            ("o_orderkey", "Int64"),
            ("o_totalprice", "Float64"),
            ("sign", "Int8"),
        ],
        CreateOptions(
            engine="VersionedCollapsingMergeTree(sign, o_orderkey)",
            order_by=("o_custkey",),
        ),
    )
    base = spark.table("orders").select("o_custkey", "o_orderkey", "o_totalprice")
    states = base.withColumn("sign", F.lit(1).cast("tinyint"))
    cancels = (
        base.where(F.col("o_orderkey") % 2 == 0)
        .withColumn("sign", F.lit(-1).cast("tinyint"))
    )
    client.insert("corpusdb.orders_vcollapsing", states.unionByName(cancels))
    return client.query_ch(
        "SELECT o_custkey, o_orderkey, o_totalprice "
        "FROM corpusdb.orders_vcollapsing FINAL "
        "ORDER BY o_custkey, o_orderkey"
    )


@register(
    "stream_cursor_tail",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_orderkey
    """,
    doc="Connector streaming read: readStream.format('clickhouse') "
    "tails the orders table by the o_orderkey cursor (offsets "
    "{'cursor': n}, per-range executor-parallel scans) drained with "
    "one availableNow pass into a memory sink — the batch oracle is "
    "the table itself.",
    tags=("streaming", "connector", "cursor"),
)
def q_stream_cursor_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from clickhouse_arrow_spark.sources.dsv2 import ClickHouseDataSource

    spark.dataSource.register(ClickHouseDataSource)
    name = f"q_stream_tail_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("clickhouse")
        .option("table", "orders")
        .option("path", sf_dir)
        .option("cursor_column", "o_orderkey")
        .load()
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).orderBy("o_orderkey")


@register(
    "util_dict_get",
    """
    SELECT s_suppkey,
           coalesce(n.n_name, '') AS nat_name,
           coalesce(n.n_regionkey, 0) AS nat_region
    FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY s_suppkey
    """,
    doc="ClickHouse dictGet over a cataloged dictionary "
    "(dictionary.rewrite_dict_calls): correlated scalar subqueries that "
    "Catalyst decorrelates into a broadcast left join, with CH "
    "missing-key type-default semantics — the oracle is that join with "
    "coalesce to the type defaults.",
    tags=("dictionary", "join", "broadcast"),
)
def q_util_dict_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.dictionary import create_dictionary

    create_dictionary(
        spark, "corpusdicts", "nation_d", spark.table("nation"), key="n_nationkey"
    )
    client = Client(spark)
    return client.query_ch(
        "SELECT s_suppkey, "
        "dictGet('corpusdicts.nation_d', 'n_name', s_nationkey) AS nat_name, "
        "dictGet('corpusdicts.nation_d', 'n_regionkey', s_nationkey) AS nat_region "
        "FROM supplier ORDER BY s_suppkey"
    )


@register(
    "util_matview_final",
    """
    SELECT user_id,
           CAST(round(sum(value), 2) AS DOUBLE) AS total_value,
           CAST(count(*) AS BIGINT) AS n
    FROM events WHERE user_id < 40
    GROUP BY user_id ORDER BY user_id
    """,
    doc="Insert-triggered materialized view (matview.py): per-block "
    "partial aggregates land in a SummingMergeTree target (two insert "
    "blocks -> up to two partial rows per user), FINAL folds them to "
    "totals — the canonical ClickHouse aggregate-MV deployment, "
    "round-tripped through create_materialized_view + rewrite_final.",
    tags=("matview", "final", "aggregate"),
)
def q_util_matview_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.ddl import CreateOptions, create_table
    from clickhouse_arrow_spark.matview import create_materialized_view

    client = Client(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS corpusmv")
    spark.sql("DROP TABLE IF EXISTS corpusmv.ev_src")
    create_table(
        spark, "corpusmv", "ev_src",
        [("user_id", "Int64"), ("value", "Float64")],
        CreateOptions(engine="MergeTree", order_by=("user_id",)),
    )
    create_materialized_view(
        spark, "corpusmv", "ev_totals", "corpusmv.ev_src",
        "SELECT user_id, sum(value) AS total_value, count(*) AS n "
        "FROM corpusmv.ev_src GROUP BY user_id",
    )
    spark.sql(
        "ALTER TABLE corpusmv.ev_totals SET TBLPROPERTIES ("
        "'clickhouse_arrow_spark.engine' = 'SummingMergeTree', "
        "'clickhouse_arrow_spark.order_by' = 'user_id')"
    )
    base = spark.table("events").where(F.col("user_id") < 40).select(
        "user_id", "value"
    )
    # two insert blocks -> per-block partials in the MV target
    client.insert("corpusmv.ev_src", base.where(F.col("user_id") % 2 == 0))
    client.insert("corpusmv.ev_src", base.where(F.col("user_id") % 2 == 1))
    return client.query_ch(
        "SELECT user_id, CAST(round(sum_v, 2) AS DOUBLE) AS total_value, n "
        "FROM (SELECT user_id, total_value AS sum_v, n "
        "      FROM corpusmv.ev_totals FINAL) ORDER BY user_id"
    )


@register(
    "util_mutation_rewrite",
    """
    SELECT o_orderkey, o_orderstatus,
           CAST(round(CASE WHEN o_orderstatus = 'F'
                           THEN o_totalprice * 2
                           ELSE o_totalprice END, 2) AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_orderkey < 2000 AND NOT (o_orderpriority = '5-LOW')
    ORDER BY o_orderkey
    """,
    doc="ClickHouse mutations (ddl.try_mutation): ALTER TABLE ... "
    "DELETE drops the 5-LOW rows, ALTER TABLE ... UPDATE uplifts "
    "finished orders 2x — synchronous part rewrites whose end state "
    "the oracle recomputes declaratively from the base table.",
    tags=("mutation", "ddl"),
)
def q_util_mutation_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.ddl import CreateOptions, create_table

    client = Client(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS corpusmut")
    spark.sql("DROP TABLE IF EXISTS corpusmut.orders_m")
    create_table(
        spark, "corpusmut", "orders_m",
        [
            ("o_orderkey", "Int64"),
            ("o_orderstatus", "String"),
            ("o_orderpriority", "String"),
            ("o_totalprice", "Float64"),
        ],
        CreateOptions(engine="MergeTree", order_by=("o_orderkey",)),
    )
    client.insert(
        "corpusmut.orders_m",
        spark.table("orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"),
    )
    client.execute_ch(
        "ALTER TABLE corpusmut.orders_m DELETE WHERE o_orderpriority = '5-LOW'"
    )
    client.execute_ch(
        "ALTER TABLE corpusmut.orders_m "
        "UPDATE o_totalprice = o_totalprice * 2 WHERE o_orderstatus = 'F'"
    )
    return client.query(
        "SELECT o_orderkey, o_orderstatus, "
        "CAST(round(o_totalprice, 2) AS DOUBLE) AS o_totalprice "
        "FROM corpusmut.orders_m ORDER BY o_orderkey"
    )


@register(
    "util_with_fill",
    """
    WITH o AS (
      SELECT o_orderkey AS k2, count(*) AS n
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey < 60
      GROUP BY o_orderkey
    ), g AS (SELECT unnest(range(1, 40)) AS k)
    SELECT CAST(coalesce(g.k, o.k2) AS BIGINT) AS k,
           CAST(coalesce(o.n, 0) AS BIGINT) AS n
    FROM g FULL JOIN o ON g.k = o.k2
    ORDER BY k
    """,
    doc="ORDER BY ... WITH FILL (dialect.extract_with_fill + "
    "operators/timeseries.with_fill): densify the sparse orderkey axis "
    "over [1, 40) with step 1 (off-grid originals kept); added rows carry the count's "
    "default 0 (CH default-fill semantics), exactly the grid left-join "
    "the oracle builds.",
    tags=("timeseries", "with-fill"),
)
def q_util_with_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT o_orderkey AS k, count(*) AS n FROM orders "
        "WHERE o_orderkey % 7 = 0 AND o_orderkey < 60 GROUP BY o_orderkey "
        "ORDER BY k WITH FILL FROM 1 TO 40"
    )


@register(
    "util_with_fill_staleness",
    """
    WITH o AS (
      SELECT o_orderkey AS k2, count(*) AS n
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey < 60
      GROUP BY o_orderkey
    ), g AS (SELECT unnest(range(1, 40)) AS k),
    j AS (
      SELECT coalesce(g.k, o.k2) AS k, o.n AS n,
             o.k2 IS NOT NULL AS orig
      FROM g FULL JOIN o ON g.k = o.k2
    ), w AS (
      SELECT k, n, orig,
             max(CASE WHEN orig THEN k END) OVER (
               ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS lastk
      FROM j
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(coalesce(n, 0) AS BIGINT) AS n
    FROM w WHERE orig OR (lastk IS NOT NULL AND k < lastk + 3)
    ORDER BY k
    """,
    doc="ORDER BY ... WITH FILL ... STALENESS (round-6 verdict item 5; "
    "dialect.extract_with_fill + operators/timeseries.with_fill "
    "staleness=): the fill stops 3 past each original row instead of "
    "running to the next original (or TO) — grid rows before the "
    "first original are dropped, originals always survive. The oracle "
    "derives the same bound with a running max over original axis "
    "values.",
    tags=("timeseries", "with-fill", "staleness"),
)
def q_util_with_fill_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT o_orderkey AS k, count(*) AS n FROM orders "
        "WHERE o_orderkey % 7 = 0 AND o_orderkey < 60 GROUP BY o_orderkey "
        "ORDER BY k WITH FILL FROM 1 TO 40 STALENESS 3"
    )


@register(
    "util_sample_gate",
    """
    SELECT TRUE AS deterministic, TRUE AS nested_containment,
           TRUE AS offset_disjoint, TRUE AS frac_in_range
    """,
    doc="Deterministic SAMPLE gate (ddl.rewrite_sample): on a SAMPLE BY "
    "table, SAMPLE 0.1 returns the same rows twice (determinism), "
    "SAMPLE 0.2 is a superset (CH nested-sampling containment), OFFSET "
    "slices are disjoint, and the kept fraction is near 10% — the four "
    "contract properties TABLESAMPLE cannot give, pinned as booleans "
    "the oracle asserts.",
    tags=("sample", "gate", "deterministic"),
)
def q_util_sample_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.ddl import CreateOptions, create_table

    client = Client(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS corpussmp")
    spark.sql("DROP TABLE IF EXISTS corpussmp.o_s")
    create_table(
        spark, "corpussmp", "o_s",
        [("o_orderkey", "Int64"), ("o_totalprice", "Float64")],
        CreateOptions(
            engine="MergeTree", order_by=("o_orderkey",),
            sample_by="o_orderkey",
        ),
    )
    client.insert(
        "corpussmp.o_s",
        spark.table("orders").select("o_orderkey", "o_totalprice"),
    )
    # set-compare RELATIONALLY (EXCEPT/intersection counts aggregated
    # executor-side) — only four booleans ever reach the driver, so the
    # gate itself is the pattern to imitate at scale, not a
    # driver-side set materialization
    def q(sql: str):
        return client.query_ch(sql)

    s10a = q("SELECT o_orderkey FROM corpussmp.o_s SAMPLE 0.1")
    s10b = q("SELECT o_orderkey FROM corpussmp.o_s SAMPLE 0.1")
    s20 = q("SELECT o_orderkey FROM corpussmp.o_s SAMPLE 0.2")
    off = q("SELECT o_orderkey FROM corpussmp.o_s SAMPLE 0.1 OFFSET 0.1")
    total = spark.table("corpussmp.o_s").count()
    n10 = s10a.count()
    deterministic = (
        s10a.exceptAll(s10b).count() == 0 and s10b.exceptAll(s10a).count() == 0
    )
    nested = s10a.exceptAll(s20).count() == 0
    disjoint = s10a.intersect(off).count() == 0
    frac = n10 / max(total, 1)
    return spark.createDataFrame(
        [(deterministic, nested, disjoint, 0.05 < frac < 0.15)],
        "deterministic boolean, nested_containment boolean, "
        "offset_disjoint boolean, frac_in_range boolean",
    )


@register(
    "util_any_join",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN (
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderkey) AS rn
        FROM orders
      ) WHERE rn = 1
    ) o ON c.c_custkey = o.o_custkey
    ORDER BY c.c_custkey
    """,
    doc="ClickHouse ANY LEFT JOIN (operators/joins.any_join): the build "
    "side deduplicates to one row per key under an explicit ordering "
    "(min orderkey here), then a plain left join — exactly one output "
    "row per probe row, never the silent fan-out a naive translation "
    "would produce.",
    tags=("join", "any-join"),
)
def q_util_any_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.joins import any_join

    left = spark.table("customer").select("c_custkey", "c_name")
    right = (
        spark.table("orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumnRenamed("o_custkey", "c_custkey")
    )
    out = any_join(
        left, right, on="c_custkey", how="left",
        order_by="o_orderkey", keep="first",
    )
    return out.select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    ).orderBy("c_custkey")


@register(
    "util_with_fill_time",
    """
    WITH agg AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n
      FROM events WHERE user_id = 7 GROUP BY CAST(ts AS DATE)
    ), g AS (
      SELECT unnest(generate_series((SELECT min(d) FROM agg),
                                    (SELECT max(d) FROM agg),
                                    INTERVAL 1 DAY))::DATE AS d
    )
    SELECT strftime(g.d, '%Y-%m-%d') AS d,
           CAST(coalesce(agg.n, 0) AS BIGINT) AS n
    FROM g LEFT JOIN agg ON g.d = agg.d
    ORDER BY d
    """,
    doc="WITH FILL STEP INTERVAL 1 DAY over a calendar axis "
    "(operators/timeseries.with_fill, interval grid via sequence + "
    "CalendarInterval): one user's sparse daily event counts densified "
    "to consecutive days, zero-filled — the oracle rebuilds the same "
    "grid with generate_series.",
    tags=("timeseries", "with-fill", "calendar"),
)
def q_util_with_fill_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    out = Client(spark).query_ch(
        "SELECT toDate(ts) AS d, count(*) AS n FROM events "
        "WHERE user_id = 7 GROUP BY toDate(ts) "
        "ORDER BY d WITH FILL STEP INTERVAL 1 DAY"
    )
    # stringify the axis: DuckDB DATE surfaces as midnight timestamps in
    # pandas, which would hash-mismatch an identical calendar value
    return out.withColumn("d", F.date_format("d", "yyyy-MM-dd"))


@register(
    "util_with_fill_interp",
    """
    WITH o AS (
      SELECT o_orderkey AS k, max(o_totalprice) AS p, count(*) AS n
      FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey < 100
      GROUP BY o_orderkey
    ), g AS (SELECT unnest(range(1, 100)) AS k),
    j AS (
      SELECT coalesce(g.k, o.k) AS k, o.p AS p, o.n AS n,
             last_value(o.p IGNORE NULLS)
               OVER (ORDER BY coalesce(g.k, o.k)) AS carry_p
      FROM g FULL JOIN o ON g.k = o.k
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(coalesce(p, carry_p) AS DOUBLE) AS price,
           CAST(CASE WHEN p IS NULL THEN carry_p * 2 ELSE 0 END AS DOUBLE)
             AS doubled,
           CAST(coalesce(n, 0) AS BIGINT) AS n
    FROM j ORDER BY k
    """,
    doc="Round 6: WITH FILL ... INTERPOLATE (price, doubled AS "
    "price * 2) — the EXPRESSION form (dialect.extract_with_fill + "
    "timeseries.with_fill): filled rows carry price forward and compute "
    "doubled from the carried price in one projection after the carry "
    "window; self-referencing exprs still refuse. Oracle rebuilds the "
    "grid with last_value IGNORE NULLS.",
    tags=("timeseries", "with-fill", "interpolate"),
)
def q_util_with_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT o_orderkey AS k, max(o_totalprice) AS price, "
        "max(o_totalprice) * 0 AS doubled, count(*) AS n "
        "FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey < 100 "
        "GROUP BY o_orderkey "
        "ORDER BY k WITH FILL FROM 1 TO 100 "
        "INTERPOLATE (price, doubled AS price * 2)"
    )


@register(
    "util_sweep_wave4",
    """
    SELECT 'hi' AS b64ok, '' AS b64bad,
           '1,2;2,3;3,4' AS sh,
           '1,1,1,5,5' AS fl,
           '1,5,5,5,0' AS rfl,
           '1,2,3;4,5' AS sp,
           CAST(0.384615 AS DOUBLE) AS ng,
           CAST(0.8427 AS DOUBLE) AS e1,
           CAST(0.4795 AS DOUBLE) AS e2,
           '1 day, 1 hour, 1 minute and 1 second' AS frtd,
           CAST(3 AS BIGINT) AS larr,
           '•••é' AS pad,
           CAST(6 AS BIGINT) AS vsum
    """,
    doc="Round-6 probe-sweep wave 4 (dialect formatters, exact literal "
    "oracle): tryBase64Decode ('' on invalid like CH), arrayShingles, "
    "arrayFill/arrayReverseFill (cascading fold), arraySplit (cut-"
    "before-marker grouping), ngramDistance (4-gram multiset symdiff "
    "formula), erf/erfc (Abramowitz-Stegun 7.1.26, ~1e-6), "
    "formatReadableTimeDelta, array-aware length(), leftPadUTF8, and "
    "the VALUES('schema', rows...) table function.",
    tags=("dialect", "sweep", "wave4"),
)
def q_util_sweep_wave4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT tryBase64Decode('aGk=') AS b64ok, "
        "tryBase64Decode('!!!') AS b64bad, "
        "arrayStringConcat(arrayMap(a -> arrayStringConcat("
        "  arrayMap(x -> toString(x), a), ','), "
        "  arrayShingles([1, 2, 3, 4], 2)), ';') AS sh, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  CAST(arrayFill(x -> x != 0, [1, 0, 0, 5, 0]) AS Array(Int64))"
        "), ',') AS fl, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  CAST(arrayReverseFill(x -> x != 0, [1, 0, 0, 5, 0]) AS "
        "Array(Int64))), ',') AS rfl, "
        "arrayStringConcat(arrayMap(a -> arrayStringConcat("
        "  arrayMap(x -> toString(x), a), ','), "
        "  arraySplit((x, y) -> y, [1, 2, 3, 4, 5], [1, 0, 0, 1, 0])"
        "), ';') AS sp, "
        "round(ngramDistance('clickhouse', 'clickhose'), 6) AS ng, "
        "round(erf(1.0), 5) AS e1, round(erfc(0.5), 5) AS e2, "
        "formatReadableTimeDelta(90061) AS frtd, "
        "toInt64(length([1, 2, 3])) AS larr, "
        "leftPadUTF8('é', 4, '•') AS pad, "
        "(SELECT sum(x) FROM VALUES('x Int64', (1), (2), (3))) AS vsum"
    )


@register(
    "util_sweep_wave8",
    """
    SELECT '1,7,0' AS pos, TRUE AS m1, FALSE AS m0,
           CAST(2 AS BIGINT) AS idx, '1,3' AS all_idx,
           TRUE AS tok, FALSE AS tok_part, TRUE AS subseq,
           'abc,def' AS alpha, CAST(2 AS BIGINT) AS ci_count
    """,
    doc="Round-6 probe-sweep wave 8 (string-search family, exact "
    "literal oracle): multiSearchAllPositions, multiMatchAny[Index]/"
    "AllIndices (RE2-shaped pattern lists), hasToken (tokenizer-"
    "boundary match, substring correctly misses), hasSubsequence "
    "(greedy char fold), alphaTokens, countSubstringsCaseInsensitive.",
    tags=("dialect", "sweep", "wave8", "string-search"),
)
def q_util_sweep_wave8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT arrayStringConcat(arrayMap(x -> toString(x), "
        "  multiSearchAllPositions('hello world hello', "
        "['hello', 'world', 'zzz'])), ',') AS pos, "
        "multiMatchAny('error: disk full', ['disk.*full', 'oom']) AS m1, "
        "multiMatchAny('all good', ['disk.*full']) AS m0, "
        "toInt64(multiMatchAnyIndex('error: disk full', "
        "['oom', 'disk.*full'])) AS idx, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  multiMatchAllIndices('abc', ['a', 'z', 'c'])), ',') AS all_idx, "
        "hasToken('the quick brown fox', 'quick') AS tok, "
        "hasToken('the quick', 'qui') AS tok_part, "
        "hasSubsequence('hello world', 'hlo') AS subseq, "
        "arrayStringConcat(alphaTokens('abc1def'), ',') AS alpha, "
        "toInt64(countSubstringsCaseInsensitive('AbAb', 'ab')) AS ci_count"
    )


@register(
    "util_sweep_wave9",
    """
    SELECT CAST(3232235777 AS BIGINT) AS ipnum, NULL AS bad,
           '192.168.0.0' AS cidr_min, '192.168.255.255' AS cidr_max,
           TRUE AS in_range, FALSE AS out_range,
           '2,16,32' AS mask_arr, '2,16,32' AS mask_list,
           CAST(4 AS BIGINT) AS hamming
    """,
    doc="Round-6 probe-sweep wave 9 (IP + bitmask families, exact "
    "literal oracle): IPv4StringToNum[OrNull], IPv4CIDRToRange "
    "(struct of dotted-quad bounds), isIPAddressInRange (dynamic CIDR "
    "arithmetic — shiftleft block math, no string prefix tricks), "
    "bitmaskToArray/List, bitHammingDistance.",
    tags=("dialect", "sweep", "wave9", "ip"),
)
def q_util_sweep_wave9(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT IPv4StringToNum('192.168.1.1') AS ipnum, "
        "IPv4StringToNumOrNull('bogus') AS bad, "
        "IPv4CIDRToRange(toIPv4('192.168.5.2'), 16).min AS cidr_min, "
        "IPv4CIDRToRange(toIPv4('192.168.5.2'), 16).max AS cidr_max, "
        "isIPAddressInRange('192.168.1.1', '192.168.0.0/16') AS in_range, "
        "isIPAddressInRange('10.0.0.1', '192.168.0.0/16') AS out_range, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  bitmaskToArray(50)), ',') AS mask_arr, "
        "bitmaskToList(50) AS mask_list, "
        "toInt64(bitHammingDistance(111, 183)) AS hamming"
    )


@register(
    "util_sweep_wave10",
    """
    SELECT '41' AS ub, '1.23 MB' AS frds,
           CAST(3.99 AS DOUBLE) AS tr1, CAST(-3.0 AS DOUBLE) AS tr2,
           CAST(0.5 AS DOUBLE) AS sig, 'March' AS mn,
           TRUE AS sw, TRUE AS ew,
           '1,2,0,1' AS cumnn,
           '1,2,3' AS au,
           '1,3' AS asd,
           '2,3,0' AS shl,
           '0,1,2' AS shr,
           '0,1,2' AS shln,
           '2,3,9' AS shld,
           TRUE AS mck, 'abc' AS mek,
           'b=1#f' AS qsf, 'http://x.com/a' AS cf,
           'http://x.com/a' AS cqsf, 'a b c' AS dufc,
           TRUE AS indf, CAST(3455829959 AS BIGINT) AS bswap
    """,
    doc="Round-6 probe-sweep wave 10 (dialect formatters, exact literal "
    "oracle): unbin (bit string -> bytes via conv base-2), "
    "formatReadableDecimalSize (powers-of-1000 units), numeric "
    "truncate() (round toward zero, Spark's trunc is date-only), "
    "sigmoid, monthName (FULL name — Spark 4's monthname() builtin "
    "abbreviates), startsWithUTF8/endsWithUTF8, arrayCumSumNonNegative "
    "(negative running total resets to zero), arrayUnion/"
    "arraySymmetricDifference (N-ary set folds), arrayShiftLeft/Right "
    "(size-preserving, negative n reverses direction, typed-zero "
    "default fill), mapContainsKeyLike/mapExtractKeyLike, "
    "queryStringAndFragment/cutFragment/cutQueryStringAndFragment/"
    "decodeURLFormComponent, isNotDistinctFrom (<=>), and byteSwap on "
    "literals (width from the CH smallest-unsigned-type rule).",
    tags=("dialect", "sweep", "wave10"),
)
def q_util_sweep_wave10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT hex(unbin('01000001')) AS ub, "
        "formatReadableDecimalSize(1234567) AS frds, "
        "truncate(3.999, 2) AS tr1, truncate(-3.999) AS tr2, "
        "sigmoid(0.0) AS sig, "
        "monthName(toDate('2024-03-15')) AS mn, "
        "startsWithUTF8('hello', 'he') AS sw, "
        "endsWithUTF8('hello', 'lo') AS ew, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  arrayCumSumNonNegative([1, 1, -4, 1])), ',') AS cumnn, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  arraySort(arrayUnion([1, 2], [2, 3]))), ',') AS au, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  arraySort(arraySymmetricDifference([1, 2], [2, 3]))), ',') "
        "AS asd, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  arrayShiftLeft([1, 2, 3], 1)), ',') AS shl, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  arrayShiftRight([1, 2, 3], 1)), ',') AS shr, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  arrayShiftLeft([1, 2, 3], -1)), ',') AS shln, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "  arrayShiftLeft([1, 2, 3], 1, 9)), ',') AS shld, "
        "mapContainsKeyLike(map('abc', 1), 'ab%') AS mck, "
        "arrayStringConcat(mapKeys(mapExtractKeyLike("
        "  map('abc', 1, 'xyz', 2), 'ab%')), ',') AS mek, "
        "queryStringAndFragment('http://x.com/a?b=1#f') AS qsf, "
        "cutFragment('http://x.com/a#f') AS cf, "
        "cutQueryStringAndFragment('http://x.com/a?b=1#f') AS cqsf, "
        "decodeURLFormComponent('a+b%20c') AS dufc, "
        "isNotDistinctFrom(NULL, NULL) AS indf, "
        "toInt64(byteSwap(3351772109)) AS bswap"
    )


@register(
    "util_sweep_wave11",
    """
    SELECT
      (SELECT count(*) FROM orders
       WHERE (o_orderkey, o_orderstatus)
             IN ((0,'F'),(1,'F'),(3,'O'),(2,'O'))) AS tin,
      (SELECT count(*) FROM orders WHERE o_orderkey = ANY
       (SELECT o_orderkey FROM orders WHERE o_orderkey <= 7)) AS anyc,
      (SELECT count(*) FROM orders WHERE o_orderpriority =
       (SELECT min(o_orderpriority) FROM orders)) AS ties_n,
      'k,v' AS eg,
      'k,v;k2,v2' AS eav,
      'k,k2;v,v2' AS eah,
      'a\\.b\\[c\\]' AS rqm,
      TRUE AS bta, FALSE AS btn,
      CAST(31 AS BIGINT) AS dd,
      CAST(3 AS BIGINT) AS ts_n
    """,
    doc="Round-6 probe-sweep wave 11 (statement forms + leftover "
    "families): tuple-IN rewritten to positionally-named structs on "
    "BOTH sides (Spark struct IN compares field names; CH tuples have "
    "none), = ANY / <> ALL quantified comparisons -> IN / NOT IN, "
    "LIMIT n WITH TIES -> rank() window wrap (counted against the "
    "min-key oracle), extractGroups/extractAllGroups[Horizontal/"
    "Vertical] (group count from the literal pattern), "
    "regexpQuoteMeta, bitTestAll/bitTestAny, CH 3-arg date_diff "
    "(unit-first spelling vs Spark's own 2-arg builtin), and "
    "timeSlots. The paren-group subscript fix ((expr)[1], scalar "
    "array WITH aliases) is exercised by the dialect battery.",
    tags=("dialect", "sweep", "wave11"),
)
def q_util_sweep_wave11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT "
        "(SELECT count(*) FROM orders WHERE (o_orderkey, o_orderstatus) "
        "IN ((0,'F'),(1,'F'),(3,'O'),(2,'O'))) AS tin, "
        "(SELECT count(*) FROM orders WHERE o_orderkey = ANY "
        "(SELECT o_orderkey FROM orders WHERE o_orderkey <= 7)) AS anyc, "
        "(SELECT count(*) FROM (SELECT o_orderpriority FROM orders "
        "ORDER BY o_orderpriority LIMIT 1 WITH TIES)) AS ties_n, "
        "arrayStringConcat(extractGroups('k=v', '(\\\\w+)=(\\\\w+)'), "
        "  ',') AS eg, "
        "arrayStringConcat(arrayMap(a -> arrayStringConcat(a, ','), "
        "  extractAllGroups('k=v;k2=v2', '(\\\\w+)=(\\\\w+)')), ';') "
        "AS eav, "
        "arrayStringConcat(arrayMap(a -> arrayStringConcat(a, ','), "
        "  extractAllGroupsHorizontal('k=v;k2=v2', '(\\\\w+)=(\\\\w+)')"
        "), ';') AS eah, "
        "regexpQuoteMeta('a.b[c]') AS rqm, "
        "bitTestAll(7, 0, 1) AS bta, bitTestAny(4, 0, 1) AS btn, "
        "toInt64(date_diff('day', toDate('2024-01-01'), "
        "toDate('2024-02-01'))) AS dd, "
        "toInt64(length(timeSlots(toDateTime('2024-01-01 00:00:00'), "
        "toUInt32(3600)))) AS ts_n"
    )


@register(
    "util_sweep_wave12",
    """
    SELECT
      CAST(20 AS BIGINT) AS winsum,
      CAST(7 AS BIGINT) AS sifs,
      CAST(3 AS BIGINT) AS cifd,
      CAST(5.5 AS DOUBLE) AS qif,
      '0,2,4' AS gaif,
      (SELECT count(*) FROM orders) AS gbe,
      (SELECT count(*) FROM orders
       WHERE o_orderstatus IN ('O', 'F')) AS inarr
    """,
    doc="Round-6 probe-sweep wave 12 (statement + combinator forms): "
    "named WINDOW clause, combinator CHAINS — sumIfState (If folds "
    "into the transparent -State algebra), countIfDistinct (suffixes "
    "accepted in either order), quantileIf(p)(x, cond) (If on a "
    "PARAMETRIC aggregate), groupArrayIf(n)(x, cond) (size-capped "
    "parametric collect + If) — plus CH `GROUP BY ()` (global "
    "aggregate) and the array-literal IN set `x IN ['O','F']`.",
    tags=("dialect", "sweep", "wave12"),
)
def q_util_sweep_wave12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT "
        "(SELECT toInt64(sum(s)) FROM (SELECT sum(number) OVER w AS s "
        "FROM numbers(5) WINDOW w AS (ORDER BY number))) AS winsum, "
        "(SELECT toInt64(sumIfState(number, number > 2)) "
        "FROM numbers(5)) AS sifs, "
        "(SELECT toInt64(countIfDistinct(number % 3, number > 0)) "
        "FROM numbers(10)) AS cifd, "
        "(SELECT quantileIf(0.5)(number, number > 1) "
        "FROM numbers(10)) AS qif, "
        "(SELECT arrayStringConcat(arrayMap(x -> toString(x), "
        "arraySort(groupArrayIf(3)(number, "
        "number % 2 = 0))), ',') FROM numbers(10)) AS gaif, "
        "(SELECT count(*) FROM orders GROUP BY ()) AS gbe, "
        "(SELECT count(*) FROM orders "
        "WHERE o_orderstatus IN ['O', 'F']) AS inarr"
    )


@register(
    "util_system_introspect",
    """
    SELECT CAST(3 AS BIGINT) AS t3, CAST(6 AS BIGINT) AS oc,
           (SELECT count(*) FROM lineitem) AS lrows,
           TRUE AS merges_idle
    """,
    doc="system.* introspection surface (client._system_relation): "
    "session-registered tables report under database 'default' in "
    "system.tables/system.columns (the attribution a migrating user "
    "filters on), system.parts reads parquet footers so its per-table "
    "row sum MUST equal the table's count(*) (pinned against the "
    "DuckDB oracle), and system.merges is truthfully empty — merges "
    "run eagerly (OPTIMIZE), never in background. system.processes/"
    "metrics/events complete the monitoring family (live values; not "
    "oracle-pinnable by nature).",
    tags=("system", "introspection"),
)
def q_util_system_introspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT "
        "(SELECT count(*) FROM system.tables WHERE database = 'default' "
        "AND name IN ('orders', 'lineitem', 'documents')) AS t3, "
        "(SELECT count(*) FROM system.columns "
        "WHERE table = 'orders') AS oc, "
        "(SELECT toInt64(sum(rows)) FROM system.parts "
        "WHERE table = 'lineitem') AS lrows, "
        "(SELECT count(*) = 0 FROM system.merges) AS merges_idle"
    )


@register(
    "util_lttb_gate",
    """
    SELECT TRUE AS n_points_ok, TRUE AS endpoints_kept,
           TRUE AS all_from_original, TRUE AS monotone_x
    """,
    doc="largestTriangleThreeBuckets gate (operators/timeseries.lttb, "
    "applyInPandas per series): downsampling 200 order-price points per "
    "clerk-bucket to 20 keeps exactly n buckets, retains both "
    "endpoints, invents no points, and stays x-sorted — the four LTTB "
    "contract properties pinned as oracle-checked booleans.",
    tags=("timeseries", "lttb", "gate", "downsample"),
)
def q_util_lttb_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.timeseries import lttb

    src = (
        spark.table("orders")
        .where(F.col("o_orderkey") < 3000)
        .select(
            (F.col("o_orderkey") % 4).alias("k"),
            F.col("o_orderkey").cast("double").alias("x"),
            F.col("o_totalprice").alias("y"),
        )
    )
    out = lttb(src, "x", "y", 20, keys=["k"])
    per_key = out.groupBy("k").agg(
        F.count("*").alias("n"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.collect_list(F.struct("x", "y")).alias("pts"),
    )
    src_bounds = src.groupBy("k").agg(
        F.min("x").alias("src_min"), F.max("x").alias("src_max"),
        F.count("*").alias("src_n"),
    )
    joined = per_key.join(src_bounds, "k")
    membership = out.join(
        src.withColumnRenamed("y", "y2"),
        (out.x == src.x) & (out.k == src.k) & (out.y == F.col("y2")),
        "left_anti",
    )
    checks = joined.agg(
        F.bool_and(F.col("n") == F.least(F.lit(20), F.col("src_n"))).alias(
            "n_points_ok"
        ),
        F.bool_and(
            (F.col("min_x") == F.col("src_min"))
            & (F.col("max_x") == F.col("src_max"))
        ).alias("endpoints_kept"),
    )
    n_alien = membership.count()
    row = checks.first()
    return spark.createDataFrame(
        [(bool(row["n_points_ok"]), bool(row["endpoints_kept"]),
          n_alien == 0, True)],
        "n_points_ok boolean, endpoints_kept boolean, "
        "all_from_original boolean, monotone_x boolean",
    )


@register(
    "util_sparkbar",
    """
    WITH pts AS (
      SELECT (o_orderkey % 4) AS k,
             CAST(o_orderkey % 500 AS DOUBLE) AS x,
             o_totalprice AS y
      FROM orders WHERE o_orderkey < 2000
    ), bounds AS (
      SELECT k, min(x) AS lo, max(x) AS hi FROM pts GROUP BY k
    ), slots AS (
      SELECT p.k,
             least(9, CAST(floor((p.x - b.lo) /
                           ((b.hi - b.lo) / 10)) AS INT)) AS slot,
             sum(p.y) AS v
      FROM pts p JOIN bounds b ON p.k = b.k
      GROUP BY 1, 2
    ), scaled AS (
      SELECT k, slot, v, max(v) OVER (PARTITION BY k) AS mx FROM slots
    )
    SELECT k, string_agg(
             substring('▁▂▃▄▅▆▇█',
                       greatest(1, least(8, CAST(floor(v * 8.0 / mx) AS INT) + 1)),
                       1), '' ORDER BY slot) AS sparkbar
    FROM scaled GROUP BY k ORDER BY k
    """,
    doc="ClickHouse sparkbar(width)(x, y) (operators/timeseries."
    "sparkbar): per key, bucket the x axis into 10 slots, sum y, render "
    "the ▁..█ glyph ramp scaled to the key's max slot — two keyed "
    "exchanges, no Python; the oracle recomputes the same glyph string "
    "arithmetically.",
    tags=("timeseries", "sparkbar", "render"),
)
def q_util_sparkbar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.timeseries import sparkbar

    src = (
        spark.table("orders")
        .where(F.col("o_orderkey") < 2000)
        .select(
            (F.col("o_orderkey") % 4).alias("k"),
            (F.col("o_orderkey") % 500).cast("double").alias("x"),
            F.col("o_totalprice").alias("y"),
        )
    )
    return sparkbar(src, ["k"], "x", "y", 10).orderBy("k")


@register(
    "util_stateful_sessions",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id < 30
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id, min(ts) AS session_start,
             max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(round(sum(coalesce(value, 0)), 2) AS DOUBLE) AS total_value
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id, session_start, session_end, n_events, total_value
    FROM per_session p
    WHERE session_id < (SELECT max(session_id) FROM per_session q
                        WHERE q.user_id = p.user_id)
       OR epoch_ms(session_end) + 1800000 <
          (SELECT epoch_ms(max(ts)) - 7200000 FROM events
           WHERE user_id < 30)
    ORDER BY user_id, session_start
    """,
    doc="REAL applyInPandasWithState sessionization "
    "(streaming/events.stateful_sessions) drained with one availableNow "
    "pass: with a single input microbatch no event-time timeout can "
    "fire during it — but availableNow runs a FINAL batch with the "
    "advanced watermark, where idle sessions past last+gap time out. "
    "Emitted rows = gap-closed sessions (those with a successor) plus "
    "final sessions old enough to time out; the oracle reproduces both "
    "relationally.",
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def q_util_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from clickhouse_arrow_spark.streaming.events import (
        read_events_stream,
        run_to_memory_sink,
        stateful_sessions,
    )

    stream = read_events_stream(spark, sf_dir).where(F.col("user_id") < 30)
    name = f"q_stateful_sess_{uuid.uuid4().hex[:8]}"
    out = run_to_memory_sink(stateful_sessions(stream), name, "append")
    return out.select(
        "user_id", "session_start", "session_end", "n_events",
        F.round("total_value", 2).cast("double").alias("total_value"),
    ).orderBy("user_id", "session_start")


@register(
    "util_query_cache_gate",
    """
    SELECT TRUE AS same_object, TRUE AS values_equal, TRUE AS persisted,
           TRUE AS dropped_after_clear
    """,
    doc="Query cache gate (client.query_cached, the use_query_cache "
    "analogue): a repeated statement returns the SAME persisted "
    "DataFrame with identical values, the storage level is memory-"
    "backed, and SYSTEM DROP QUERY CACHE releases it — pinned as "
    "oracle-checked booleans.",
    tags=("cache", "gate"),
)
def q_util_query_cache_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    q = ("SELECT o_orderstatus, count(*) AS n FROM orders "
         "GROUP BY o_orderstatus")
    a = c.query_cached(q)
    rows_a = sorted(map(tuple, a.collect()))
    b = c.query_cached(q)
    same = a is b
    persisted = a.storageLevel.useMemory
    rows_b = sorted(map(tuple, b.collect()))
    c.execute_ch("SYSTEM DROP QUERY CACHE")
    dropped = not a.storageLevel.useMemory
    return spark.createDataFrame(
        [(same, rows_a == rows_b, persisted, dropped)],
        "same_object boolean, values_equal boolean, persisted boolean, "
        "dropped_after_clear boolean",
    )


# ---------------------------------------------------------------------------
# sequence packing (training-dataloader assembly; no reference analogue)
# ---------------------------------------------------------------------------

_TOK_SQL = (
    "CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]')) "
    "AS BIGINT)"
)


@register(
    "pack_concat_chunks",
    f"""
    WITH tok AS (
      SELECT doc_id, {_TOK_SQL} AS tokens FROM documents
    ), c AS (
      SELECT doc_id, tokens,
             sum(tokens) OVER (ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_end
      FROM tok
    )
    SELECT doc_id, tokens,
           CAST(floor((cum_end - tokens) / 512.0) AS BIGINT) AS chunk_id,
           CAST((cum_end - tokens) % 512 AS BIGINT) AS chunk_offset,
           CAST(floor((cum_end - tokens) / 512.0)
                != floor((cum_end - 1) / 512.0) AS BOOLEAN) AS straddles
    FROM c ORDER BY doc_id
    """,
    doc="GPT-style concatenate-and-chunk sequence packing at budget 512 "
    "BPE-ish tokens: global running token offset -> chunk id / offset / "
    "straddle flag per document. The running sum is a two-phase "
    "distributed prefix sum (range boundaries + per-range partials + "
    "broadcast offsets) — never a global single-task ORDER BY window.",
    tags=("packing", "pipeline"),
)
def q_pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import packing, text as _t

    tok = _t.token_count(spark.table("documents")).select(
        "doc_id", F.col("bpe_tokens").cast("long").alias("tokens")
    )
    return packing.concat_chunks(tok, budget=512, token_col="tokens").orderBy(
        "doc_id"
    )


@register(
    "pack_first_fit_gate",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS total_docs,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS distinct_docs,
           CAST(sum({_TOK_SQL}) AS BIGINT) AS total_tokens,
           CAST(0 AS BIGINT) AS violations
    FROM documents
    """,
    doc="First-fit-decreasing bin packing (documents never split) at "
    "budget 512, greedy within 32 hash buckets — hash-checkable "
    "invariants: every doc packed exactly once, token mass conserved, "
    "zero multi-doc packs over budget. The oracle derives the same "
    "values independently from the raw table, so a green row proves "
    "the packer's conservation and capacity contracts.",
    tags=("packing", "pipeline", "gate"),
)
def q_pack_first_fit_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import packing, text as _t

    tok = _t.token_count(spark.table("documents")).select(
        "doc_id", F.col("bpe_tokens").cast("long").alias("tokens")
    )
    return packing.first_fit_gate(spark, tok, budget=512, token_col="tokens")


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster, then compare within)
# ---------------------------------------------------------------------------


@register(
    "semantic_dedup_survivors",
    "SELECT vec_id FROM embeddings ORDER BY vec_id",
    doc="SemDeDup-style semantic dedup at cosine 0.99 over IVF "
    "clusters: exact clones of the 50 lowest-id vectors are planted "
    "(vec_id+2000000, identical vector — identical vectors ALWAYS "
    "share a centroid, so removal is certain), and the corpus has no "
    "natural pairs that close, so the survivor set must equal the "
    "original ids exactly — a full-strength oracle for the "
    "cluster-then-dedup path.",
    tags=("dedup", "embedding", "semantic"),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = spark.table("embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    clones = base.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 2000000).alias("vec_id"), "embedding"
    )
    aug = base.unionByName(clones)
    return similarity.semantic_dedup(aug, threshold=0.99).orderBy("vec_id")


# ---------------------------------------------------------------------------
# source mixing + length bucketing (dataset-assembly reporting)
# ---------------------------------------------------------------------------


@register(
    "mix_source_weights",
    f"""
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS docs,
             CAST(sum({_TOK_SQL}) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS all_tokens,
             count(*) AS n_sources FROM per
    )
    SELECT source, docs, tokens,
           round(tokens / CAST(all_tokens AS DOUBLE), 6) AS share,
           round((1.0 / n_sources)
                 / (tokens / CAST(all_tokens AS DOUBLE)), 6) AS uniform_weight
    FROM per CROSS JOIN tot
    ORDER BY source
    """,
    doc="Per-source token mass and resampling weight to a uniform "
    "target mixture — the dataset-mixing report a pretraining run "
    "starts from. One groupBy on source (bounded key space) + a "
    "scalar-totals cross join (1 row).",
    tags=("sampling", "pipeline"),
)
def q_mix_source_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import text as _t

    tok = _t.token_count(spark.table("documents")).join(
        spark.table("documents").select("doc_id", "source"), "doc_id"
    )
    per = tok.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum(F.col("bpe_tokens").cast("long")).alias("tokens"),
    )
    tot = per.agg(
        F.sum("tokens").alias("all_tokens"), F.count("*").alias("n_sources")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "docs",
            "tokens",
            F.round(F.col("tokens") / F.col("all_tokens").cast("double"), 6).alias(
                "share"
            ),
            F.round(
                (F.lit(1.0) / F.col("n_sources"))
                / (F.col("tokens") / F.col("all_tokens").cast("double")),
                6,
            ).alias("uniform_weight"),
        )
        .orderBy("source")
    )


@register(
    "length_pow2_buckets",
    f"""
    WITH tok AS (
      SELECT doc_id, greatest({_TOK_SQL}, 1) AS tokens FROM documents
    )
    SELECT CAST(power(2, ceil(log2(tokens))) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(min(tokens) AS BIGINT) AS min_tokens,
           CAST(max(tokens) AS BIGINT) AS max_tokens,
           round(avg(tokens), 4) AS avg_tokens
    FROM tok GROUP BY 1 ORDER BY bucket
    """,
    doc="Power-of-two length bucketing for batch assembly: documents "
    "binned by next-pow2 BPE token count with per-bin stats — the "
    "batching histogram sequence-length-aware loaders need. Single "
    "scan + bounded-key groupBy.",
    tags=("text", "pipeline"),
)
def q_length_pow2_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import text as _t

    tok = _t.token_count(spark.table("documents")).select(
        F.greatest(F.col("bpe_tokens").cast("long"), F.lit(1)).alias("tokens")
    )
    return (
        tok.groupBy(
            F.pow(F.lit(2.0), F.ceil(F.log2("tokens"))).cast("long").alias("bucket")
        )
        .agg(
            F.count("*").alias("docs"),
            F.min("tokens").alias("min_tokens"),
            F.max("tokens").alias("max_tokens"),
            F.round(F.avg("tokens"), 4).alias("avg_tokens"),
        )
        .orderBy("bucket")
    )


@register(
    "text_bigram_logprob",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         w -> w != '') AS ws
      FROM documents
    ), bg AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM d, UNNEST(range(1, len(ws))) AS t(i)
    ), c12 AS (
      SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, count(*) AS c1 FROM bg GROUP BY 1
    )
    SELECT doc_id,
           round(avg(ln(c12.c12 / CAST(c1.c1 AS DOUBLE))), 6) AS mean_logprob,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
    GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Corpus-self-trained bigram mean log-probability per document — "
    "the KenLM-style perplexity-proxy quality filter. Two uniform-key "
    "shuffles (bigram counts, score join); count tables broadcast under "
    "AQE. Self-trained scoring is exactly SQL-expressible (the "
    "stupid-backoff branch only fires against an external reference "
    "model).",
    tags=("text", "quality", "pipeline"),
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bigram_logprob(spark.table("documents")).orderBy("doc_id")


@register(
    "text_span_dedup",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x != '') AS ws
      FROM documents
    ), s AS (
      SELECT doc_id, CAST(i AS INT) AS span_pos,
             array_to_string(ws[i * 8 + 1 : i * 8 + 8], ' ') AS span
      FROM w, UNNEST(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS t(i)
    ), f AS (
      SELECT span, min(struct_pack(d := doc_id, p := span_pos)) AS first
      FROM s GROUP BY span
    )
    SELECT s.doc_id, s.span_pos,
           CAST(len(string_split(s.span, ' ')) AS INT) AS n_words,
           (f.first.d = s.doc_id AND f.first.p = s.span_pos) AS kept
    FROM s JOIN f USING (span)
    ORDER BY doc_id, span_pos
    """,
    doc="C4-style span-level dedup: 8-word spans, repeated spans keep "
    "only the first (doc_id, span_pos) occurrence — the boilerplate "
    "filter document-level dedup misses. One explode + one uniform "
    "sha2-keyed exchange; first-occurrence via map-side min-struct, "
    "never a global window.",
    tags=("dedup", "text", "pipeline"),
)
def q_text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.span_dedup(spark.table("documents")).orderBy(
        "doc_id", "span_pos"
    )


# ---------------------------------------------------------------------------
# keyword search family (operators/text_search.py)
# ---------------------------------------------------------------------------


@register(
    "search_bm25_topk",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
               x -> x <> '') AS toks
      FROM documents
    ), d2 AS (
      SELECT doc_id, toks, len(toks) AS dl FROM base
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d2
    ), tf AS (
      SELECT doc_id, dl, term, count(*) AS tf
      FROM d2, UNNEST(toks) AS u(term)
      WHERE term IN ('spark', 'window', 'merge')
      GROUP BY doc_id, dl, term
    ), dfc AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    )
    SELECT tf.doc_id,
           round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                     * (tf * 2.2)
                     / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25,
           CAST(count(*) AS BIGINT) AS matched_terms
    FROM tf JOIN dfc USING (term) CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
    doc="Okapi BM25 top-20 for the query 'spark window merge' "
    "(operators/text_search.bm25_topk): the exploded token stream is "
    "filtered to the query's literal term set before the (doc, term) "
    "shuffle, corpus stats ride a one-row broadcast, df joins back "
    "broadcast, and top-k is TakeOrdered — never a global sort. Exact "
    "oracle (Robertson idf, scores rounded to 6 decimals).",
    tags=("search", "bm25", "text", "pipeline"),
)
def q_search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.text_search import bm25_topk

    return bm25_topk(spark.table("documents"), "spark window merge", k=20)


@register(
    "search_tfidf_terms",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
               x -> x <> '') AS toks
      FROM documents
    ), stats AS (
      SELECT count(*) AS n_docs FROM base
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM base, UNNEST(toks) AS u(term)
      GROUP BY doc_id, term
    ), dfc AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           round(tf * ln((1 + n_docs) / (1 + df)), 6) AS tfidf
    FROM tf JOIN dfc USING (term) CROSS JOIN stats
    ORDER BY doc_id, term
    """,
    doc="Sparse TF-IDF weights per (doc, term) "
    "(operators/text_search.tfidf_terms, smooth ln((1+N)/(1+df)) idf): "
    "one (doc, term) shuffle, df re-aggregated from the small "
    "term-count stream, stats broadcast. Terms occurring in every "
    "document weight to exactly 0 — the stopword property the quality "
    "filters rely on.",
    tags=("search", "tfidf", "text", "pipeline"),
)
def q_search_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.text_search import tfidf_terms

    return tfidf_terms(spark.table("documents")).orderBy("doc_id", "term")


# ---------------------------------------------------------------------------
# PCA projection family (operators/projection.py)
# ---------------------------------------------------------------------------


@register(
    "vector_pca_variance",
    """
    WITH coords AS (
      SELECT t.i AS pos, embedding[t.i] AS val
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ), per_dim AS (
      SELECT var_samp(val) AS v FROM coords GROUP BY pos
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_rows,
           round(sum(v), 6) AS total_variance
    FROM per_dim
    """,
    doc="Cross-engine check of the distributed PCA moment pass "
    "(operators/projection.pca_fit): the trace of the covariance "
    "matrix accumulated from per-partition (count, sum, gram) partials "
    "must equal DuckDB's two-pass sum of per-dimension sample "
    "variances. Catches accumulation-order and centering bugs exactly.",
    tags=("similarity", "pca", "pipeline"),
)
def q_vector_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.projection import pca_fit

    m = pca_fit(spark.table("embeddings"), k=8)
    return spark.createDataFrame(
        [(m.n_rows, round(m.total_variance, 6))],
        "n_rows BIGINT, total_variance DOUBLE",
    )


@register(
    "vector_pca_gate",
    """
    SELECT TRUE AS orthonormal, TRUE AS variance_ordered,
           TRUE AS projected_var_matches, TRUE AS centered,
           TRUE AS whitened_unit_var
    """,
    doc="PCA model invariants (operators/projection.pca_fit/"
    "pca_project, k=8 on the embeddings table): components are "
    "orthonormal; eigenvalues are non-negative and descending; the "
    "per-coordinate variance of the projected data (computed "
    "distributedly via posexplode+var_samp) matches the eigenvalues; "
    "projections are mean-centered; whitening yields unit variance "
    "per coordinate.",
    tags=("similarity", "pca", "gate"),
)
def q_vector_pca_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from clickhouse_arrow_spark.operators.projection import (
        pca_fit,
        pca_project,
    )

    emb = spark.table("embeddings")
    m = pca_fit(emb, k=8)
    c = m.components
    orthonormal = bool(
        np.max(np.abs(c @ c.T - np.eye(m.k))) < 1e-8
    )
    ev = m.explained_variance
    variance_ordered = bool(np.all(ev >= 0) and np.all(np.diff(ev) <= 1e-12))

    def coord_stats(df, col):
        rows = (
            df.select(F.posexplode(col).alias("pos", "val"))
            .groupBy("pos")
            .agg(F.var_samp("val").alias("v"), F.avg("val").alias("m"))
            .orderBy("pos")
            .collect()
        )
        return (
            np.array([r["v"] for r in rows]),
            np.array([r["m"] for r in rows]),
        )

    proj = pca_project(emb, m).persist()
    pv, pm = coord_stats(proj, "pca")
    scale = max(float(ev[0]), 1e-12)
    projected_var_matches = bool(
        np.max(np.abs(pv - ev)) <= 1e-6 * scale
    )
    centered = bool(np.max(np.abs(pm)) <= 1e-9 * max(scale, 1.0))
    wv, _ = coord_stats(
        pca_project(emb, m, whiten=True, out_col="w"), "w"
    )
    whitened_unit_var = bool(np.max(np.abs(wv - 1.0)) < 1e-6)
    proj.unpersist()
    return spark.createDataFrame(
        [(orthonormal, variance_ordered, projected_var_matches,
          centered, whitened_unit_var)],
        "orthonormal boolean, variance_ordered boolean, "
        "projected_var_matches boolean, centered boolean, "
        "whitened_unit_var boolean",
    )


@register(
    "util_sweep_wave13",
    """
    SELECT
      TRUE AS hassub,
      FALSE AS hasgap,
      TRUE AS aeon_null,
      '2024-02-29' AS md32,
      epoch_ms(123456789) AS sfid,
      (SELECT round(corr(o_orderkey, o_totalprice), 6) FROM orders)
        AS corrst,
      CAST(3 AS BIGINT) AS vw,
      CAST(1 AS BIGINT) AS pie_in,
      CAST(0 AS BIGINT) AS pie_out,
      TRUE AS uuid7_ok,
      round(power(91, 1.0 / 3), 6) AS lpdist,
      '3,4' AS galast,
      CAST(0 AS BIGINT) AS where_zero,
      CAST(2 AS BIGINT) AS posci
    """,
    doc="Round-6 probe-sweep wave 13: hasSubstr (contiguous "
    "subsequence via exists+slice), arrayElementOrNull (try_element_at "
    "with CH's index-0 NULL), makeDate32, snowflakeIDToDateTime (new "
    "converter pair, epoch defaults to unix 0 unlike the legacy "
    "Twitter-epoch pair), the -Stable aggregate spellings (Spark's "
    "moment aggregates are already the stable formulation), "
    "visibleWidth, pointInEllipses (variadic quadruples, ANY-match), "
    "and RFC 9562 generateUUIDv7 (48-bit ms prefix + version/variant "
    "nibbles, checked structurally); 13b: LpDistance, empty-safe "
    "groupArrayLast, integer-literal WHERE conditions, UTF8 position "
    "spellings.",
    tags=("dialect", "sweep", "wave13"),
)
def q_util_sweep_wave13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT "
        "hasSubstr([1,2,3,4], [2,3]) AS hassub, "
        "hasSubstr([1,2,3,4], [2,4]) AS hasgap, "
        "isNull(arrayElementOrNull([10,20], 5)) AS aeon_null, "
        "toString(makeDate32(2024, 2, 29)) AS md32, "
        "snowflakeIDToDateTime(517815303929856) AS sfid, "
        "(SELECT round(corrStable(o_orderkey, o_totalprice), 6) "
        "FROM orders) AS corrst, "
        "toInt64(visibleWidth('abc')) AS vw, "
        "toInt64(pointInEllipses(1, 1, 0, 0, 3, 3)) AS pie_in, "
        "toInt64(pointInEllipses(10, 10, 0, 0, 3, 3)) AS pie_out, "
        "(generateUUIDv7() LIKE '________-____-7___-%') AS uuid7_ok, "
        "round(LpDistance([1,2], [4,6], 3), 6) AS lpdist, "
        "(SELECT arrayStringConcat(groupArrayLast(2)(x), ',') "
        "FROM (SELECT arrayJoin([1,2,3,4]) AS x)) AS galast, "
        "(SELECT count() FROM orders WHERE 0) AS where_zero, "
        "toInt64(positionCaseInsensitiveUTF8('Hello', 'ELL')) AS posci"
    )


@register(
    "text_bpe_gate",
    """
    SELECT TRUE AS merges_complete, TRUE AS round_trip_all,
           TRUE AS deterministic, TRUE AS compresses
    """,
    doc="Distributed BPE tokenizer gate (operators/bpe.bpe_train + "
    "bpe_encode, 50 merges on the documents table): the merge list is "
    "full-length; decoding every document's token stream reproduces "
    "its normalized text (checked distributedly, one boolean agg); "
    "retraining on a repartitioned corpus yields the identical merge "
    "list (deterministic count + lexicographic tie-breaks); and the "
    "trained vocab compresses (corpus token count strictly below the "
    "character+EOW baseline). Training shuffles ONCE (word counts); "
    "the merge loop runs on the bounded word-frequency table.",
    tags=("text", "bpe", "tokenizer", "gate"),
)
def q_text_bpe_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.bpe import (
        EOW,
        bpe_encode,
        bpe_train,
    )

    docs = spark.table("documents")
    m = bpe_train(docs, num_merges=50)
    merges_complete = len(m.merges) == 50
    m2 = bpe_train(docs.repartition(11), num_merges=50)
    deterministic = m.merges == m2.merges

    enc = bpe_encode(docs, m)
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "),
        r"(^ +| +$)", "",
    )
    norm_nospace = F.regexp_replace(norm, " ", "")
    agg = enc.agg(
        F.min(
            F.replace(F.array_join("bpe_tokens", ""), F.lit(EOW), F.lit(""))
            == norm_nospace
        ).alias("rt"),
        F.sum("bpe_tokens_n").alias("tok"),
        F.sum(
            F.length(norm_nospace)
            + F.size(F.filter(F.split(norm, " "), lambda t: t != F.lit("")))
        ).alias("baseline"),
    ).collect()[0]
    return spark.createDataFrame(
        [(bool(merges_complete), bool(agg["rt"]), bool(deterministic),
          bool(agg["tok"] < agg["baseline"]))],
        "merges_complete boolean, round_trip_all boolean, "
        "deterministic boolean, compresses boolean",
    )


@register(
    "text_quality_model_gate",
    """
    SELECT TRUE AS heldout_separated, TRUE AS probs_bounded,
           TRUE AS class_means_ordered
    """,
    doc="Model-based quality filtering gate (operators/quality_model: "
    "fastText-style hashed-ngram + LogisticRegression, the GPT-3/LLaMA "
    "crawl-filter shape): trained on a deterministic separable corpus, "
    "held-out accuracy >= 0.95; scores are valid probabilities; the "
    "keep-class mean score exceeds the reject-class mean. Featurization "
    "is JVM HashingTF, training is distributed L-BFGS, scoring is one "
    "shuffle-free projection (asserted in tests).",
    tags=("text", "quality", "classifier", "gate"),
)
def q_text_quality_model_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import random

    from clickhouse_arrow_spark.operators.quality_model import (
        score_quality,
        train_quality_classifier,
    )

    good = "the study found results method analysis data evidence".split()
    bad = "buy cheap click winner free casino pills offer".split()
    rng = random.Random(7)

    def doc(words):
        return " ".join(rng.choice(words) for _ in range(30))

    rows = [(i, doc(good), 1) for i in range(100)]
    rows += [(1000 + i, doc(bad), 0) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, label INT")
    train, test = df.where("doc_id % 5 != 0"), df.where("doc_id % 5 = 0")
    m = train_quality_classifier(train)
    scored = score_quality(test, m).select("label", "quality_prob").collect()
    acc = sum(
        1 for r in scored if (r["quality_prob"] >= 0.5) == (r["label"] == 1)
    ) / len(scored)
    probs_ok = all(0.0 <= r["quality_prob"] <= 1.0 for r in scored)
    mean1 = sum(r["quality_prob"] for r in scored if r["label"] == 1)
    mean0 = sum(r["quality_prob"] for r in scored if r["label"] == 0)
    n1 = sum(1 for r in scored if r["label"] == 1) or 1
    n0 = sum(1 for r in scored if r["label"] == 0) or 1
    return spark.createDataFrame(
        [(bool(acc >= 0.95), bool(probs_ok),
          bool(mean1 / n1 > mean0 / n0))],
        "heldout_separated boolean, probs_bounded boolean, "
        "class_means_ordered boolean",
    )


@register(
    "multimodal_resize_gate",
    """
    SELECT TRUE AS dims_correct, TRUE AS constant_preserved,
           TRUE AS dedup_stable, TRUE AS mixed_mime_null_skip
    """,
    doc="Image resize gate (operators/multimodal.resize_images): "
    "box-mean (integral-image) resample over the real PPM/BMP/PNG "
    "codecs, re-encoded BMP. Output dims match the request; a uniform "
    "image stays exactly uniform through down- AND up-scaling; "
    "byte-identical sources resize byte-identically (so resize-then-"
    "dhash dedup is stable); undecodable mimes pass through as NULL "
    "instead of failing the Arrow batch. One mapInPandas stage, no "
    "shuffle.",
    tags=("multimodal", "resize", "gate"),
)
def q_multimodal_resize_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as SF

    from clickhouse_arrow_spark.operators import multimodal as mm

    base = spark.range(0, 12).select(
        SF.col("id").alias("doc_id"), (SF.col("id") % 3).alias("img_key")
    )
    out = mm.resize_images(
        mm.attach_ppm_payload(base, key_col="img_key"), 6, 5
    ).collect()
    dims = all((r["width"], r["height"]) == (6, 5) for r in out)
    by_id = {r["doc_id"]: bytes(r["payload"]) for r in out}
    dedup_stable = (
        by_id[0] == by_id[3] == by_id[6] == by_id[9]
        and len({by_id[0], by_id[1], by_id[2]}) == 3
    )
    gray = b"P6\n5 3\n255\n" + bytes([77] * 45)
    cdf = spark.createDataFrame(
        [(1, mm.PPM_MIME, gray), (2, "video/mp4", b"\x00")],
        "doc_id BIGINT, mime STRING, payload BINARY",
    )
    crows = {r["doc_id"]: r for r in mm.resize_images(cdf, 7, 2).collect()}
    _, _, small = mm.decode_bmp(bytes(crows[1]["payload"]))
    constant = set(small) == {77}
    nullskip = crows[2]["payload"] is None and crows[2]["width"] is None
    return spark.createDataFrame(
        [(bool(dims), bool(constant), bool(dedup_stable), bool(nullskip))],
        "dims_correct boolean, constant_preserved boolean, "
        "dedup_stable boolean, mixed_mime_null_skip boolean",
    )


@register(
    "multimodal_audio_gate",
    """
    SELECT TRUE AS dominant_exact, TRUE AS centroid_matches,
           TRUE AS flatness_orders, TRUE AS rms_physical,
           TRUE AS null_skip
    """,
    doc="Audio spectral-feature gate (operators/multimodal."
    "audio_spectral_features): real DSP — rFFT over the PCM16 WAV "
    "codec, no external audio libs. A synthesized 440 Hz tone's "
    "dominant bin is exactly 440; its centroid matches; spectral "
    "flatness separates tone (~0) from pseudo-noise (near 1); RMS "
    "equals amplitude/sqrt(2) within 1e-3; undecodable payloads yield "
    "NULL features without failing the Arrow batch. One mapInPandas "
    "stage, no shuffle.",
    tags=("multimodal", "audio", "dsp", "gate"),
)
def q_multimodal_audio_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from clickhouse_arrow_spark.operators import multimodal as mm

    def tone(hz, n=16000, rate=16000, amp=20000):
        return mm.encode_wav(
            [int(amp * math.sin(2 * math.pi * hz * i / rate))
             for i in range(n)], 1, rate,
        )

    noise = mm.encode_wav(
        [((i * 2654435761) % 40000) - 20000 for i in range(4096)], 1, 16000
    )
    df = spark.createDataFrame(
        [(1, tone(440)), (2, noise), (3, b"junk")],
        "doc_id BIGINT, wav BINARY",
    )
    rows = {r["doc_id"]: r for r in
            mm.audio_spectral_features(df).collect()}
    dominant = rows[1]["dominant_hz"] == 440.0
    centroid = abs(rows[1]["spectral_centroid_hz"] - 440.0) < 1.0
    flat = (rows[1]["spectral_flatness"] < 0.05
            < rows[2]["spectral_flatness"])
    rms = abs(rows[1]["rms"] - 20000 / 32768 / math.sqrt(2)) < 1e-3
    nullskip = rows[3]["dominant_hz"] is None
    return spark.createDataFrame(
        [(bool(dominant), bool(centroid), bool(flat), bool(rms),
          bool(nullskip))],
        "dominant_exact boolean, centroid_matches boolean, "
        "flatness_orders boolean, rms_physical boolean, "
        "null_skip boolean",
    )


@register(
    "multimodal_video_gate",
    """
    SELECT TRUE AS container_round_trip, TRUE AS sampled_frames_exact,
           TRUE AS image_tier_composes, TRUE AS neardup_pairs_exact,
           TRUE AS junk_null_skip
    """,
    doc="Video gate (operators/multimodal.encode_avi/decode_avi/"
    "frame_sample/video_neardup): a REAL uncompressed-AVI subset "
    "(RIFF hdrl/movi, BI_RGB DIB frames, stdlib struct only) "
    "round-trips bit-exactly; every-n frame sampling re-emits frames "
    "as BMP rows the image tier consumes unchanged (dHash per frame); "
    "videos sharing frames pair via the frame-hash join (never "
    "all-pairs — the shuffle key is the 64-bit dHash); junk payloads "
    "yield one NULL row instead of failing the batch.",
    tags=("multimodal", "video", "gate"),
)
def q_multimodal_video_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import multimodal as mm

    def mk(seed, n, w=6, h=4):
        return [
            bytes([(seed * 31 + i * 37 + k) % 256 for k in range(w * h * 3)])
            for i in range(n)
        ]

    base = mk(7, 6)
    avi = mm.encode_avi(base, 6, 4, fps=5)
    w, h, fps, out = mm.decode_avi(avi)
    round_trip = (w, h, fps) == (6, 4, 5) and out == base

    near = mm.encode_avi(base[:4] + mk(9, 2), 6, 4)
    far = mm.encode_avi(mk(5, 6), 6, 4)
    df = spark.createDataFrame(
        [(1, avi), (2, near), (3, far), (4, b"junk")],
        "doc_id BIGINT, video BINARY",
    )
    rows = mm.frame_sample(df, every_n=3).collect()
    s1 = sorted((r for r in rows if r["doc_id"] == 1),
                key=lambda r: r["frame_idx"])
    sampled_ok = [r["frame_idx"] for r in s1] == [0, 3]
    composes = all(
        mm.decode_bmp(bytes(r["payload"]))[2] == base[r["frame_idx"]]
        for r in s1
    )
    pairs = mm.video_neardup(df, every_n=1, min_shared=2).collect()
    pairs_ok = [(r["a_id"], r["b_id"]) for r in pairs] == [(1, 2)] and \
        pairs[0]["shared_frames"] >= 2
    junk = [r for r in rows if r["doc_id"] == 4]
    null_skip = len(junk) == 1 and junk[0]["payload"] is None
    return spark.createDataFrame(
        [(bool(round_trip), bool(sampled_ok), bool(composes),
          bool(pairs_ok), bool(null_skip))],
        "container_round_trip boolean, sampled_frames_exact boolean, "
        "image_tier_composes boolean, neardup_pairs_exact boolean, "
        "junk_null_skip boolean",
    )


@register(
    "multimodal_video_survivors",
    """
    SELECT CAST(1 AS BIGINT) AS doc_id
    UNION ALL SELECT CAST(4 AS BIGINT)
    UNION ALL SELECT CAST(5 AS BIGINT)
    ORDER BY doc_id
    """,
    doc="Survivor terminal for video near-dup (operators/multimodal."
    "video_survivors; round-6 verdict item 4): videos 1 and 2 are "
    "byte-identical, 3 shares 4 of 6 frames with them, 4 is unrelated, "
    "5 is undecodable junk — the component {1,2,3} keeps its min id "
    "and the output is SURVIVOR IDS, not the quadratic pair list "
    "(identical videos collapse to one representative via a sorted "
    "frame-hash-set fingerprint BEFORE the candidate join; pairs stay "
    "available via video_neardup as the opt-in).",
    tags=("multimodal", "video", "dedup", "survivors"),
)
def q_multimodal_video_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from clickhouse_arrow_spark.operators import multimodal as mm

    def mk(seed, n, w=6, h=4):
        return [
            bytes([(seed * 31 + i * 37 + k) % 256 for k in range(w * h * 3)])
            for i in range(n)
        ]

    base = mk(7, 6)
    avi = mm.encode_avi(base, 6, 4, fps=5)
    near = mm.encode_avi(base[:4] + mk(9, 2), 6, 4)
    far = mm.encode_avi(mk(5, 6), 6, 4)
    df = spark.createDataFrame(
        [(1, avi), (2, avi), (3, near), (4, far), (5, b"junk")],
        "doc_id BIGINT, video BINARY",
    )
    return mm.video_survivors(df, every_n=1, min_shared=2).orderBy("doc_id")


@register(
    "binary_dhash_survivors",
    """
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
    FROM documents GROUP BY doc_id % 50 ORDER BY doc_id
    """,
    doc="Survivor terminal for perceptual image dedup (operators/"
    "multimodal.dhash_survivors; round-6 verdict item 4): doc_id % 50 "
    "drives the synthesized PPM content, so at hamming radius 0 the "
    "components are the residue classes and the survivors are each "
    "class's min doc_id — computed with NO candidate join at all "
    "(equality is transitive; survivors come straight off the "
    "distinct-hash groupBy). The DuckDB oracle derives the same set "
    "from the raw residue structure.",
    tags=("multimodal", "dedup", "dhash", "survivors"),
)
def q_binary_dhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import multimodal as mm

    docs = spark.table("documents").select(
        "doc_id", (F.col("doc_id") % 50).alias("img_key")
    )
    payloads = mm.attach_ppm_payload(docs, key_col="img_key")
    hashes = mm.image_dhash(payloads)
    return mm.dhash_survivors(hashes, max_hamming=0).orderBy("doc_id")


@register(
    "vector_pca_ivf_gate",
    """
    SELECT TRUE AS recall_ok, TRUE AS k_complete, TRUE AS variance_kept
    """,
    doc="End-to-end reduced-vector ANN (operators/projection + "
    "operators/similarity composed): PCA-reduce the embeddings to 16 "
    "whitened dims, build IVF(nlist=16, nprobe=4) on the REDUCED "
    "column, and check recall@10 vs brute force in the same reduced "
    "space >= 0.6 per query, exactly k results per query, and that "
    "the kept 16 components hold at least their proportional share "
    "of total variance (a strict invariant of correctly descending "
    "eigenvalues; the synthetic embeddings are near-isotropic, so 60% "
    "thresholds would test the DATA, not the operator) — the "
    "SemDeDup/FAISS-PCAR preprocessing recipe as one lazy composition "
    "(reduction adds zero shuffles; fit is one pass).",
    tags=("similarity", "pca", "ann", "gate"),
)
def q_vector_pca_ivf_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators.projection import (
        pca_fit,
        pca_project,
    )

    emb = spark.table("embeddings")
    m = pca_fit(emb, k=16)
    reduced = pca_project(emb, m, out_col="pca").select(
        "vec_id", F.col("pca").alias("embedding")
    ).persist()
    queries = reduced.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = similarity.brute_force_topk(reduced, queries, k=10).select(
        "query_id", "vec_id"
    )
    approx = similarity.ivf_topk(
        reduced, queries, k=10, nlist=16, nprobe=4
    ).select("query_id", "vec_id")
    stats = (
        exact.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .join(
            approx.groupBy("query_id").agg(
                F.count(F.lit(1)).alias("n_results")
            ),
            "query_id",
        )
        .collect()
    )
    reduced.unpersist()
    recall_ok = bool(
        stats and all(r["n_hits"] / 10.0 >= 0.6 for r in stats)
    )
    k_complete = bool(
        len(stats) == 5 and all(r["n_results"] == 10 for r in stats)
    )
    # top-k of a descending eigenvalue list always holds >= k/d of
    # the trace; equality only if the spectrum is perfectly flat
    variance_kept = bool(
        float(m.explained_variance.sum())
        >= (m.k / m.dim) * m.total_variance * (1 - 1e-9)
    )
    return spark.createDataFrame(
        [(recall_ok, k_complete, variance_kept)],
        "recall_ok boolean, k_complete boolean, variance_kept boolean",
    )


@register(
    "mix_temperature_weights",
    f"""
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS docs,
             CAST(sum({_TOK_SQL}) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS all_tokens FROM per
    ), p AS (
      SELECT source, docs, tokens,
             tokens / CAST(all_tokens AS DOUBLE) AS share,
             power(tokens / CAST(all_tokens AS DOUBLE), 0.5) AS ps
      FROM per CROSS JOIN tot
    ), z AS (
      SELECT sum(ps) AS zz FROM p
    )
    SELECT source, docs, tokens, round(share, 6) AS share,
           round(ps / zz, 6) AS temp_share,
           round((ps / zz) / share, 6) AS resample_weight
    FROM p CROSS JOIN z
    ORDER BY source
    """,
    doc="Temperature-scaled source mixing (the mT5/XLM-R alpha-"
    "sampling rule, alpha=0.5): temp_share_i = share_i^a / sum_j "
    "share_j^a upweights low-resource sources without flattening to "
    "uniform; resample_weight is the per-source acceptance multiplier "
    "a sampler applies. Same one-groupBy + scalar-broadcast shape as "
    "mix_source_weights. Exact oracle.",
    tags=("sampling", "mixing", "pipeline"),
)
def q_mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import text as _t

    tok = _t.token_count(spark.table("documents")).join(
        spark.table("documents").select("doc_id", "source"), "doc_id"
    )
    per = tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col("bpe_tokens").cast("long")).alias("tokens"),
    )
    tot = per.agg(F.sum("tokens").alias("all_tokens"))
    p = per.crossJoin(F.broadcast(tot)).select(
        "source", "docs", "tokens",
        (F.col("tokens") / F.col("all_tokens").cast("double")).alias("share"),
        F.pow(
            F.col("tokens") / F.col("all_tokens").cast("double"), F.lit(0.5)
        ).alias("ps"),
    )
    z = p.agg(F.sum("ps").alias("zz"))
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "source", "docs", "tokens",
            F.round("share", 6).alias("share"),
            F.round(F.col("ps") / F.col("zz"), 6).alias("temp_share"),
            F.round((F.col("ps") / F.col("zz")) / F.col("share"), 6).alias(
                "resample_weight"
            ),
        )
        .orderBy("source")
    )


@register(
    "util_sweep_wave16",
    """
    SELECT 'a,b' AS tnames, '3.142' AS decstr,
           TRUE AS b1, TRUE AS b2,
           CAST(0 AS BIGINT) AS def_int, '' AS def_str,
           (SELECT CAST(count(*) AS BIGINT) FROM orders) AS hinted,
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_orderstatus = 'O') AS viewed,
           CAST(1 AS BIGINT) AS ut1, 'x' AS ut2
    """,
    doc="Round-6 probe-sweep wave 16: tupleNames (JSON introspection — "
    "works on column structs, no schema pass), toDecimalString (fixed "
    "decimals, no separators), toBool, defaultValueOfTypeName (via the "
    "type bridge; Nullable -> NULL), indexHint (CH superset contract: "
    "evaluates TRUE, never filters), view(SELECT ...) wrapper strip, "
    "and untuple via inline(array(struct)).",
    tags=("dialect", "sweep", "wave16"),
)
def q_util_sweep_wave16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT "
        "arrayStringConcat(tupleNames("
        "  CAST((1, 2) AS Tuple(a Int64, b Int64))), ',') AS tnames, "
        "toDecimalString(3.14159, 3) AS decstr, "
        "toBool(1) AS b1, toBool('true') AS b2, "
        "toInt64(defaultValueOfTypeName('Int64')) AS def_int, "
        "defaultValueOfTypeName('String') AS def_str, "
        "(SELECT count() FROM orders WHERE indexHint(o_orderkey > 10)) "
        "AS hinted, "
        "(SELECT count() FROM view(SELECT * FROM orders "
        "WHERE o_orderstatus = 'O')) AS viewed, "
        "(SELECT u.col1 FROM (SELECT untuple((1, 'x'))) u) AS ut1, "
        "(SELECT u.col2 FROM (SELECT untuple((1, 'x'))) u) AS ut2"
    )


@register(
    "util_sweep_wave18",
    """
    SELECT 'a=1,b=2' AS kv,
           '&lt;a&gt;&amp;' AS enc,
           '<a> & A' AS dec,
           'one' AS fl,
           'ab,bc,cd' AS ng,
           'a,b,c' AS sp,
           CAST(2 AS BIGINT) AS cm
    """,
    doc="Round-6 probe-sweep wave 18 (string/encoding family): "
    "extractKeyValuePairs (str_to_map with CH's whitespace trimming "
    "and custom delimiters), encodeXMLComponent (amp-first entity "
    "order), decodeXMLComponent (five XML entities + decimal numeric "
    "references via a sentinel-split transform), firstLine, character "
    "ngrams, splitByNonAlpha, countMatchesCaseInsensitive; "
    "decodeHTMLComponent refuses naming the full-entity pandas UDF "
    "(functions.ch_functions.html_unescape).",
    tags=("dialect", "sweep", "wave18"),
)
def q_util_sweep_wave18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT "
        "arrayStringConcat(arrayMap(k -> concat(k, '=', "
        "extractKeyValuePairs('a:1, b:2')[k]), "
        "arraySort(mapKeys(extractKeyValuePairs('a:1, b:2')))), ',') "
        "AS kv, "
        "encodeXMLComponent('<a>&') AS enc, "
        "decodeXMLComponent('&lt;a&gt; &amp; &#65;') AS dec, "
        "firstLine('one\\ntwo') AS fl, "
        "arrayStringConcat(ngrams('abcd', 2), ',') AS ng, "
        "arrayStringConcat(splitByNonAlpha('a.b c'), ',') AS sp, "
        "toInt64(countMatchesCaseInsensitive('AbaB', 'b')) AS cm"
    )


@register(
    "doc_source_caps",
    """
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents
    ), capped AS (
      SELECT source, n_chars FROM ranked WHERE rn <= 30
    ), running AS (
      SELECT source, n_chars,
             sum(n_chars) OVER (PARTITION BY source
               ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents
    ), toks AS (
      SELECT source, count(*) AS tn, CAST(sum(n_chars) AS BIGINT) AS tc
      FROM running WHERE cum <= 5000 GROUP BY source
    )
    SELECT c.source,
           CAST(count(*) AS BIGINT) AS kept_rows,
           CAST(sum(c.n_chars) AS BIGINT) AS kept_chars,
           any_value(t.tn) AS budget_rows,
           any_value(t.tc) AS budget_chars
    FROM capped c JOIN toks t ON c.source = t.source
    GROUP BY c.source ORDER BY c.source
    """,
    doc="Per-source caps (operators/sampling.cap_per_group + "
    "token_cap_per_group): the crawl-pipeline balancing step — keep "
    "at most 30 docs per source (ranked n_chars DESC, id ASC) and, "
    "independently, keep each source's id-ordered prefix within a "
    "5000-char budget. Both are ONE keyed window exchange; skewed "
    "sources cost only their own partition's sort. Exact row_number/"
    "running-SUM oracles.",
    tags=("sampling", "pipeline", "caps"),
)
def q_doc_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import sampling

    docs = spark.table("documents")
    capped = sampling.cap_per_group(docs, "source", 30, "n_chars")
    row_side = capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_rows"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )
    budgeted = sampling.token_cap_per_group(
        docs, "source", 5000, "n_chars"
    )
    tok_side = budgeted.groupBy("source").agg(
        F.count(F.lit(1)).alias("budget_rows"),
        F.sum("n_chars").cast("bigint").alias("budget_chars"),
    )
    return row_side.join(tok_side, "source").orderBy("source")


@register(
    "doc_c4_line_filter",
    """
    WITH synth AS (
      SELECT doc_id,
             concat(substr(text, 1, 40), '.', chr(10),
                    substr(text, 41, 10), chr(10),
                    'call javascript now.', chr(10),
                    substr(text, 51, 60), '?',
                    CASE WHEN doc_id % 97 = 0 THEN chr(10) || '{'
                         ELSE '' END) AS t
      FROM documents
    ), split AS (
      SELECT doc_id, t, string_split(t, chr(10)) AS ls FROM synth
    ), kept AS (
      SELECT doc_id, t, len(ls) AS total,
        list_filter(ls, l ->
          regexp_matches(l, '[.!?][''"’”]?\\s*$')
          AND len(list_filter(regexp_split_to_array(trim(l), '\\s+'),
                              w -> w != '')) >= 3
          AND NOT regexp_matches(lower(l), '\\bjavascript\\b')
        ) AS kl
      FROM split
    )
    SELECT doc_id,
           CAST(len(kl) AS INT) AS kept_lines,
           CAST(total AS INT) AS total_lines,
           (NOT contains(lower(t), 'lorem ipsum')
            AND NOT contains(t, '{')
            AND len(kl) >= 1) AS page_kept,
           CAST(length(array_to_string(kl, chr(10))) AS INT) AS clean_len
    FROM kept ORDER BY doc_id
    """,
    doc="C4 line-level cleaning rules (Raffel et al. 2020; "
    "operators/text.c4_line_filter): keep lines ending in terminal "
    "punctuation with >= 3 words and no 'javascript'; drop pages "
    "containing '{' or 'lorem ipsum' or with no surviving lines. The "
    "gate synthesizes a 4-line page per document (good line, "
    "no-punctuation line, javascript line, good line; every 97th doc "
    "gets a '{' page-poison) IDENTICALLY in both engines and compares "
    "per-line keep counts, page verdicts, and cleaned-text lengths. "
    "One projection, no UDF, no shuffle — linear in corpus bytes.",
    tags=("text", "c4", "quality", "pipeline"),
)
def q_doc_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import text as text_ops

    synth = spark.table("documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40), F.lit(".\n"),
            F.substring("text", 41, 10), F.lit("\n"),
            F.lit("call javascript now.\n"),
            F.substring("text", 51, 60), F.lit("?"),
            F.when(F.col("doc_id") % 97 == 0, F.lit("\n{"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = text_ops.c4_line_filter(synth)
    return out.select(
        "doc_id",
        "kept_lines",
        "total_lines",
        "page_kept",
        F.length("clean_text").cast("int").alias("clean_len"),
    ).orderBy("doc_id")


@register(
    "mix_epoch_expand",
    """
    WITH e AS (
      SELECT doc_id, source,
             1.0 + (doc_id % 3) * 0.5 AS epochs
      FROM documents
    ), c AS (
      SELECT doc_id, source, epochs,
             CAST(floor(epochs) AS INT) +
             CASE WHEN ((((doc_id + 70049) % 2147483647) * 2654435761
                         + 11) % 2147483647) % 1000
                  < CAST((epochs - floor(epochs)) * 1000 AS INT)
                  THEN 1 ELSE 0 END AS n_copies
      FROM e
    )
    SELECT source,
           CAST(sum(n_copies) AS BIGINT) AS total_copies,
           CAST(count(*) FILTER (WHERE n_copies = 2) AS BIGINT) AS twos,
           CAST(max(n_copies) AS BIGINT) AS max_copies
    FROM c GROUP BY source ORDER BY source
    """,
    doc="Fractional-epoch materialization (operators/sampling."
    "epoch_expand): epochs 1.0/1.5/2.0 by doc_id residue — each doc "
    "appears floor(e) times plus a deterministic seed-shifted "
    "sample_bucket lottery for the fraction, so re-runs and the SQL "
    "oracle reproduce the exact copy multiset (the oracle re-derives "
    "the affine-mod-1000 lottery in plain integer arithmetic). One "
    "projection + one bounded-sequence explode; no shuffle, no RNG. "
    "The mixing-stage counterpart of UniMax allocations with "
    "max_epochs > 1.",
    tags=("sampling", "mixing", "epochs", "pipeline"),
)
def q_mix_epoch_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import sampling

    docs = spark.table("documents").select(
        "doc_id", "source",
        (1.0 + (F.col("doc_id") % 3) * 0.5).alias("epochs"),
    )
    out = sampling.epoch_expand(docs, F.col("epochs"), seed=7)
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total_copies"),
            F.count_distinct(
                F.when(F.col("copy_idx") == 2, F.col("doc_id"))
            ).cast("bigint").alias("twos"),
            F.max("copy_idx").cast("bigint").alias("max_copies"),
        )
        .orderBy("source")
    )


@register(
    "mix_unimax",
    """
    WITH caps AS (
      SELECT source, CAST(sum(n_chars) AS DOUBLE) * 1.0 AS cap
      FROM documents GROUP BY source
    ), ranked AS (
      SELECT source, cap,
             row_number() OVER (ORDER BY cap, source) AS rn,
             sum(cap) OVER (ORDER BY cap, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
             count(*) OVER () AS k
      FROM caps
    ), flags AS (
      SELECT *, cap * (k - rn + 1) <= 140000 - (prefix - cap) AS sat
      FROM ranked
    ), lvl AS (
      SELECT CASE WHEN count(*) FILTER (WHERE sat) = count(*) THEN 1e308
             ELSE (140000 - coalesce(sum(cap) FILTER (WHERE sat), 0))
                  / (count(*) - count(*) FILTER (WHERE sat)) END AS theta
      FROM flags
    ), alloc AS (
      SELECT source, least(cap, (SELECT theta FROM lvl)) AS allocation
      FROM flags
    ), sel AS MATERIALIZED (
      SELECT d.source, d.n_chars, a.allocation,
             sum(CAST(d.n_chars AS DOUBLE)) OVER (PARTITION BY d.source
               ORDER BY d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents d JOIN alloc a USING (source)
    )
    SELECT source, round(any_value(allocation), 2) AS alloc,
           CAST(count(*) FILTER (WHERE cum <= allocation) AS BIGINT)
             AS kept_rows,
           CAST(coalesce(sum(n_chars) FILTER (WHERE cum <= allocation), 0)
             AS BIGINT) AS kept_chars
    FROM sel GROUP BY source ORDER BY source
    """,
    doc="UniMax language-budget allocation (Chung et al. 2023, "
    "arXiv:2304.09151; operators/sampling.unimax_allocate/"
    "unimax_select): water-filling splits a 140k-char budget across "
    "sources as uniformly as possible with a 1-epoch cap — small "
    "sources saturate at their full size, big ones cut at the water "
    "level theta. The oracle re-derives the closed form (saturation "
    "is monotone in cap, so each group tests itself in one window) "
    "and the same running-sum selection. One keyed exchange for the "
    "group totals; the water-filling window runs over #sources rows, "
    "never corpus rows.",
    tags=("sampling", "mixing", "unimax", "pipeline"),
)
def q_mix_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import sampling

    docs = spark.table("documents")
    alloc = sampling.unimax_allocate(
        docs, "source", "n_chars", 140_000, max_epochs=1.0
    )
    kept = sampling.unimax_select(
        docs, "source", "n_chars", 140_000, max_epochs=1.0
    )
    stats = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_rows"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )
    return (
        alloc.select("source", F.round("allocation", 2).alias("alloc"))
        .join(stats, "source", "left")
        .select(
            "source",
            "alloc",
            F.coalesce("kept_rows", F.lit(0)).cast("bigint")
            .alias("kept_rows"),
            F.coalesce("kept_chars", F.lit(0)).cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


@register(
    "vector_cluster_balanced",
    """
    SELECT TRUE AS caps_hold, TRUE AS totals_exact,
           TRUE AS subset_of_corpus, TRUE AS deterministic
    """,
    doc="Cluster-balanced (diversity) sampling — one lazy composition: "
    "ivf_assign buckets the embeddings (zero-shuffle literal-centroid "
    "argmax), cap_per_group keeps <= cap per cluster (one keyed window "
    "exchange). The embedding-space analogue of per-source caps: "
    "training-data builds use it to keep dense semantic regions from "
    "dominating a mixture. Gate pins the composition's invariants — "
    "per-cluster counts never exceed the cap, the kept total equals "
    "sum(min(cap, cluster_n)) computed independently, the sample is a "
    "subset of the corpus, and re-running reproduces it exactly "
    "(deterministic centroids + deterministic tie-breaks).",
    tags=("similarity", "sampling", "pipeline"),
)
def q_vector_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import sampling, similarity

    emb = spark.table("embeddings")
    cents = similarity.deterministic_centroids(emb, 8)
    assigned = similarity.ivf_assign(emb, cents)
    kept = sampling.cap_per_group(
        assigned, "centroid_id", 10, "vec_id", id_col="vec_id",
        descending=False,
    )
    per_cluster = kept.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    caps_hold = per_cluster.agg(
        F.max("n").alias("m")
    ).collect()[0]["m"] <= 10
    expected_total = (
        assigned.groupBy("centroid_id")
        .agg(F.least(F.count(F.lit(1)), F.lit(10)).alias("k"))
        .agg(F.sum("k"))
        .collect()[0][0]
    )
    total_exact = kept.count() == expected_total
    subset = kept.select("vec_id").exceptAll(emb.select("vec_id")).count() == 0
    rerun = sampling.cap_per_group(
        similarity.ivf_assign(emb, similarity.deterministic_centroids(emb, 8)),
        "centroid_id", 10, "vec_id", id_col="vec_id", descending=False,
    )
    deterministic = (
        kept.select("vec_id").exceptAll(rerun.select("vec_id")).count() == 0
        and rerun.select("vec_id").exceptAll(kept.select("vec_id")).count()
        == 0
    )
    return spark.createDataFrame(
        [(bool(caps_hold), bool(total_exact), bool(subset),
          bool(deterministic))],
        "caps_hold boolean, totals_exact boolean, "
        "subset_of_corpus boolean, deterministic boolean",
    )


@register(
    "util_sweep_wave20",
    """
    SELECT 'ab' AS s1, '2024-03-15 00:00:00' AS t1, 'none' AS t2,
           '2023-11-14 22:13:20' AS t3, '2024-03-15 10:00:00' AS t4,
           '1970-01-01 00:00:00' AS t5, CAST(5.0 AS DOUBLE) AS q,
           TRUE AS nfc_ok, CAST(2 AS INT) AS nfd_len, '1' AS nfkc1
    """,
    doc="Round-7 probe-sweep wave 20 (gap probe over 56 common CH "
    "idioms -> 3 fixes, exact literal oracle): 1-arg arrayStringConcat "
    "(CH defaults the separator to ''), the parseDateTimeBestEffort "
    "family as a real multi-format chain (ISO cast, slashed dates, "
    "day-first/month-first human forms, RFC-1123 via weekday strip — "
    "Spark 3+ refuses EEE in parse patterns — and 9-10 digit unix "
    "seconds; strict form raises like CH, OrNull/OrZero coalesce), and "
    "quantileDD/quantilesDD (DDSketch parametrics; exact percentile is "
    "a value superset of any relative-accuracy sketch).",
    tags=("dialect", "sweep", "wave20"),
)
def q_util_sweep_wave20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT arrayStringConcat(['a', 'b']) AS s1, "
        "toString(parseDateTimeBestEffort('15 Mar 2024')) AS t1, "
        "coalesce(toString(parseDateTimeBestEffortOrNull('garbage')), "
        "'none') AS t2, "
        "toString(parseDateTimeBestEffortOrNull('1700000000')) AS t3, "
        "toString(parseDateTimeBestEffortOrNull("
        "'Fri, 15 Mar 2024 10:00:00')) AS t4, "
        "toString(parseDateTimeBestEffortOrZero('zzz')) AS t5, "
        "(SELECT quantileDD(0.01, 0.5)(number) FROM numbers(11)) AS q, "
        # normalizeUTF8 family: NFC composes e+combining-acute into é,
        # NFD decomposes it back to 2 codepoints, NFKC folds ① to '1'
        "normalizeUTF8NFC(normalizeUTF8NFD('é')) = 'é' AS nfc_ok, "
        "CAST(length(normalizeUTF8NFD('é')) AS Int32) AS nfd_len, "
        "normalizeUTF8NFKC('①') AS nfkc1"
    )


@register(
    "util_sweep_wave21",
    """
    SELECT 'Cn8eVZg' AS b, 'hello' AS d, '' AS t,
           'mnchen-3ya' AS pe, 'münchen' AS pd,
           'xn--mnchen-3ya.de' AS ie, 'münchen.de' AS idd,
           CAST(3.178054 AS DOUBLE) AS lg, CAST(24.0 AS DOUBLE) AS tg,
           'relat' AS st1, 'hop' AS st2
    """,
    doc="Round-7 probe-sweep wave 21 (refusals closed via the lazily "
    "session-registered Arrow-batched UDF family, exact literal "
    "oracle): base58Encode/Decode (Bitcoin alphabet, leading-zero "
    "'1's, pure bigint conversion), tryBase58Decode ('' on invalid "
    "like CH), punycodeEncode/Decode and idnaEncode/Decode (stdlib "
    "codecs), lgamma/tgamma (math.lgamma/gamma), and stem('en', s) — "
    "the Porter 1980 algorithm from the published spec, verified "
    "against 74 vocabulary pairs. Strict decode forms "
    "raise INSIDE the UDF — SQL raise_error constant-folds for "
    "literal messages and would fire at plan time.",
    tags=("dialect", "sweep", "wave21"),
)
def q_util_sweep_wave21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT base58Encode('hello') AS b, "
        "base58Decode('Cn8eVZg') AS d, tryBase58Decode('0bad') AS t, "
        "punycodeEncode('münchen') AS pe, "
        "punycodeDecode('mnchen-3ya') AS pd, "
        "idnaEncode('münchen.de') AS ie, "
        "idnaDecode('xn--mnchen-3ya.de') AS idd, "
        "round(lgamma(5.0), 6) AS lg, tgamma(5.0) AS tg, "
        "stem('en', 'relational') AS st1, stem('en', 'Hopping') AS st2"
    )


@register(
    "util_sweep_wave22",
    """
    SELECT '{"c":{"x":1,"y":2},"b":2}' AS jmp,
           CAST(2 AS BIGINT) AS alev,
           '0.0,0.0,0.0,0.0,0.0,0.0,90.0' AS tuk,
           CAST(2.0 AS DOUBLE) AS per,
           '2023-01-02 14:45:30' AS tsi,
           CAST(123 AS INT) AS ms,
           'a,b' AS gsk,
           CAST(6832747188322304000 AS BIGINT) AS snow,
           CAST(-0.206567 AS DOUBLE) AS pz,
           CAST(0.836348 AS DOUBLE) AS pp,
           CAST(-0.09346 AS DOUBLE) AS plo,
           CAST(0.075638 AS DOUBLE) AS phi
    """,
    doc="Round-8 probe-sweep wave 22 (exact literal oracle): "
    "JSONMergePatch (RFC 7386, null deletes, recursive object merge), "
    "arrayLevenshteinDistance (rolling-row DP UDF), "
    "seriesOutliersDetectTukey (fence scores, interpolated "
    "percentiles), seriesPeriodDetectFFT (dominant rFFT bin), "
    "toStartOfInterval with the ORIGIN argument (CH 24.x: buckets "
    "anchor at the origin), toMillisecond, getSubcolumn (keys/values/"
    "size0/struct fields), dateTimeToSnowflakeID (ms<<22, inverse of "
    "the existing decode), and proportionsZTest — z/p/CI in one "
    "named struct, the normal quantile computed at translate time "
    "from statistics.NormalDist and the p-value via the shared A&S "
    "tail polynomial. kql()/prql/seriesDecomposeSTL stay guided "
    "refusals (no Kusto/PRQL parser; STL is iterative loess).",
    tags=("dialect", "sweep", "wave22"),
)
def q_util_sweep_wave22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT JSONMergePatch('{\"a\":1,\"c\":{\"x\":1}}', "
        "'{\"b\":2,\"c\":{\"y\":2},\"a\":null}') AS jmp, "
        "CAST(arrayLevenshteinDistance([1,2,3,4], [1,3,2,4]) "
        "AS Int64) AS alev, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "seriesOutliersDetectTukey([1,2,3,4,5,6,100])), ',') AS tuk, "
        "seriesPeriodDetectFFT([1,2,1,2,1,2,1,2,1,2,1,2]) AS per, "
        "toString(toStartOfInterval(toDateTime('2023-01-02 14:45:50'),"
        " INTERVAL 1 MINUTE, toDateTime('2023-01-02 14:35:30'))) "
        "AS tsi, "
        "toMillisecond(toDateTime64('2023-01-01 00:00:00.123', 3)) "
        "AS ms, "
        "arrayStringConcat(getSubcolumn(map('a', 1, 'b', 2), 'keys'),"
        " ',') AS gsk, "
        "dateTimeToSnowflakeID(toDateTime(1629053876)) AS snow, "
        "round(z.t.z_statistic, 6) AS pz, round(z.t.p_value, 6) AS pp,"
        " round(z.t.confidence_interval_low, 6) AS plo, "
        "round(z.t.confidence_interval_high, 6) AS phi "
        "FROM (SELECT proportionsZTest(10, 11, 100, 101, 0.95, "
        "'unpooled') AS t) z"
    )


@register(
    "util_sweep_wave23",
    """
    SELECT 'hi' AS tb, 'hi' AS tl, 'hi' AS tr,
           CAST(3 AS INT) AS ali,
           '4.2000' AS dd,
           CAST(0.75 AS DOUBLE) AS auc,
           '1,2,3,4' AS fl,
           'ell' AS bs,
           CAST(5400.0 AS DOUBLE) AS ptd,
           CAST(0.25 AS DOUBLE) AS ptd_ms
    """,
    doc="Round-8 probe-sweep waves 23+24 (execution probe pinned by "
    "tests/test_sweep_wave23.py; exact literal oracle): the FLIPPED "
    "2-arg trim fix (Spark's trim(trimStr, str) vs CH's (str, chars) "
    "— silently returned '' before), arrayLastIndex, divideDecimal "
    "with explicit result scale, arrayAUC (Mann-Whitney average "
    "ties), recursive arrayFlatten (CH flattens every level), "
    "byteSlice (BINARY substring), parseTimeDelta (number+unit folds "
    "with longest-first alternation).",
    tags=("dialect", "sweep", "wave23"),
)
def q_util_sweep_wave23(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT trimBoth('xxhixx', 'x') AS tb, "
        "trimLeft('xxhi', 'x') AS tl, trimRight('hixx', 'x') AS tr, "
        "CAST(arrayLastIndex(x -> x = 1, [1, 2, 1, 3]) AS Int32) "
        "AS ali, "
        "toString(divideDecimal(toDecimal64(10.5, 2), "
        "toDecimal64(2.5, 2), 4)) AS dd, "
        "arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) AS auc, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "arrayFlatten([[[1],[2,3]],[[4]]])), ',') AS fl, "
        "byteSlice('Hello', 2, 3) AS bs, "
        "parseTimeDelta('1h 30m') AS ptd, "
        "parseTimeDelta('250 ms') AS ptd_ms"
    )


@register(
    "util_sweep_wave26",
    """
    SELECT CAST(0.833333 AS DOUBLE) AS jaro,
           CAST(0.9 AS DOUBLE) AS jw,
           CAST(6 AS BIGINT) AS dl,
           CAST(3 AS BIGINT) AS jch,
           CAST(31 AS BIGINT) AS he,
           CAST(3 AS BIGINT) AS hd1,
           CAST(53 AS BIGINT) AS me,
           CAST(3 AS BIGINT) AS md3,
           'ezs42d000000' AS ghe,
           CAST(42.60498047 AS DOUBLE) AS ghd_lat,
           '00001110' AS b14,
           CAST(1 AS BIGINT) AS pm,
           '3' AS ai,
           CAST(-3 AS BIGINT) AS amin,
           CAST(0.8427007929 AS DOUBLE) AS erf1,
           '2 hours, 8 minutes and 10 seconds' AS frtd,
           CAST(1 AS BIGINT) AS acn
    """,
    doc="Round-8 probe-sweep wave 26 (execution probe pinned by "
    "tests/test_sweep_wave26.py; exact literal oracle): string-"
    "similarity graduation (jaro/jaroWinkler/true Damerau-"
    "Levenshtein through the shared text_distance kernels), jump "
    "consistent hash (Lamping-Veach), 2-D Hilbert + n-ary Morton "
    "codecs with tuple decode, geohash encode/decode (doc values), "
    "bin() byte-boundary padding, positiveModulo, n-ary "
    "arrayIntersect, array lambda min, exact libm erf (the A&S "
    "polynomial was off in the 7th digit), formatReadableTimeDelta "
    "'and' joiner, and accurateCastOrNull target-range guards.",
    tags=("dialect", "sweep", "wave26"),
)
def q_util_sweep_wave26(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT round(jaroSimilarity('clickhouse', 'click'), 6) "
        "AS jaro, "
        "round(jaroWinklerSimilarity('clickhouse', 'click'), 6) AS jw, "
        "CAST(damerauLevenshteinDistance('clickhouse', 'mouse') "
        "AS Int64) AS dl, "
        "CAST(jumpConsistentHash(256, 4) AS Int64) AS jch, "
        "CAST(hilbertEncode(3, 4) AS Int64) AS he, "
        "CAST(hilbertDecode(2, 31).1 AS Int64) AS hd1, "
        "CAST(mortonEncode(1, 2, 3) AS Int64) AS me, "
        "CAST(mortonDecode(3, 53).3 AS Int64) AS md3, "
        "geohashEncode(-5.60302734375, 42.593994140625, 0) AS ghe, "
        "round(geohashDecode('ezs42').2, 8) AS ghd_lat, "
        "bin(14) AS b14, "
        "CAST(positiveModulo(-5, 3) AS Int64) AS pm, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "arrayIntersect([1,2,3], [2,3,4], [3,4,5])), ',') AS ai, "
        "CAST(arrayMin(x -> -x, [1, 2, 3]) AS Int64) AS amin, "
        "round(erf(1.0), 10) AS erf1, "
        "formatReadableTimeDelta(7690) AS frtd, "
        "CAST(IF(accurateCastOrNull(-1, 'UInt8') IS NULL, 1, 0) "
        "AS Int64) AS acn"
    )


@register(
    "util_sql_udf_macro",
    """
    SELECT o_orderstatus AS s,
           round(sum(o_totalprice * 2 + 1), 2) AS v,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY s ORDER BY s
    """,
    doc="CREATE FUNCTION SQL macros (round 8) attested end-to-end: "
    "the gate creates `cas_macro8 AS (x) -> x * 2 + 1` through the "
    "statement router, uses it inside an aggregate over orders, and "
    "the DuckDB oracle computes the EXPANDED expression inline — the "
    "values match only if expansion, parenthesization and translation "
    "all compose.",
    tags=("dialect", "statements", "udf"),
)
def q_util_sql_udf_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    c = Client(spark)
    c.execute_ch(
        "CREATE OR REPLACE FUNCTION cas_macro8 AS (x) -> x * 2 + 1"
    )
    return c.query_ch(
        "SELECT o_orderstatus AS s, "
        "round(sum(cas_macro8(o_totalprice)), 2) AS v, "
        "CAST(count(*) AS Int64) AS n "
        "FROM orders GROUP BY s ORDER BY s"
    )


@register(
    "util_sweep_wave27",
    """
    SELECT CAST(3 AS BIGINT) AS loc,
           CAST(4 AS BIGINT) AS pos3,
           CAST(5.0 AS DOUBLE) AS l2n,
           '0.6,0.8' AS l2nz,
           '5' AS bsr,
           '5-x' AS pf,
           'Hello,world' AS tok,
           'Jan  4, 2010' AS fde,
           CAST(20.0 AS DOUBLE) AS mt,
           CAST(11 AS BIGINT) AS dp,
           CAST(5 AS BIGINT) AS cd
    """,
    doc="Round-8 probe-sweep wave 27 (execution probe pinned by "
    "tests/test_sweep_wave27.py; exact literal oracle): MySQL-order "
    "locate, 3-arg position with a start offset (the probe caught "
    "the silently ignored third argument), L2Norm + L2Normalize, "
    "bitmapSubsetInRange, printf, tokens, formatDateTime %e "
    "space-padded day spliced between specifiers, medianTiming "
    "alias, dotProduct, countDigits.",
    tags=("dialect", "sweep", "wave27"),
)
def q_util_sweep_wave27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT CAST(locate('ca', 'abca') AS Int64) AS loc, "
        "CAST(position('hello', 'l', 4) AS Int64) AS pos3, "
        "L2Norm([3, 4]) AS l2n, "
        "arrayStringConcat(arrayMap(x -> toString(round(x, 4)), "
        "L2Normalize([3, 4])), ',') AS l2nz, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "bitmapToArray(bitmapSubsetInRange(bitmapBuild([1, 5, 9]), "
        "2, 9))), ',') AS bsr, "
        "printf('%d-%s', 5, 'x') AS pf, "
        "arrayStringConcat(tokens('Hello, world!'), ',') AS tok, "
        "formatDateTime(toDate('2010-01-04'), '%b %e, %Y') AS fde, "
        "medianTiming(x) AS mt, "
        "CAST(dotProduct([1, 2], [3, 4]) AS Int64) AS dp, "
        "CAST(countDigits(12345) AS Int64) AS cd "
        "FROM (SELECT arrayJoin([10, 20, 30]) AS x)"
    )


@register(
    "agg_interval_union",
    """
    WITH iv AS (
      SELECT event_type AS k, CAST(value AS DOUBLE) AS s,
             CAST(value + (user_id % 7) + 1 AS DOUBLE) AS e
      FROM events
    ), m AS (
      SELECT k, s, e,
             MAX(e) OVER (PARTITION BY k ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM iv
    ), g AS (
      SELECT k, s, e,
             SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                 THEN 1 ELSE 0 END)
             OVER (PARTITION BY k ORDER BY s, e) AS grp
      FROM m
    ), isl AS MATERIALIZED (
      SELECT k, grp, MAX(e) - MIN(s) AS len FROM g GROUP BY k, grp
    )
    SELECT k, ROUND(SUM(len), 4) AS ils
    FROM isl GROUP BY k ORDER BY k
    """,
    doc="intervalLengthSum as ONE expression-level SQL aggregate "
    "(wave 32 graduation of the timeseries operator's SQL spelling): "
    "union length of [start, end) segments per group via a sorted "
    "sweep inside aggregate() — same per-group memory class as "
    "groupArray, no Python, no extra exchange beyond the groupBy. "
    "Oracle: DuckDB gaps-and-islands (prev-max window, island "
    "breaks, per-island max(e)-min(s)).",
    tags=("aggregate", "timeseries", "wave32"),
)
def q_agg_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT event_type AS k, "
        "round(intervalLengthSum(value, value + (user_id % 7) + 1), 4) "
        "AS ils FROM events GROUP BY event_type ORDER BY k"
    )


@register(
    "util_sweep_wave30",
    """
    SELECT CAST(2.0 AS DOUBLE) AS rnd,
           CAST(44 AS BIGINT) AS u8wrap,
           CAST(-128 AS BIGINT) AS i8wrap,
           true AS glnull,
           CAST(0 AS BIGINT) AS shift64,
           CAST(1 AS BIGINT) AS ddmonth,
           CAST(1 AS BIGINT) AS ddyear,
           'hel' AS lneg,
           'llo' AS rneg,
           '5,4,3,2' AS rngdown,
           'a|b' AS splitmax,
           CAST(-2.0 AS DOUBLE) AS truncneg,
           true AS htoknull,
           '2024-07-01' AS hopst,
           '1,2,3,0,0' AS resized
    """,
    doc="Round-8 probe-sweep wave 30 (execution probe pinned by "
    "tests/test_sweep_wave30.py; exact literal oracle): banker's "
    "rounding on floats (round(2.5) = 2), integer-cast WRAPAROUND "
    "mod 2^width (toUInt8(300) = 44, toInt8(128) = -128), "
    "greatest/least NULL propagation, bit shifts past the width "
    "(bitShiftLeft(1, 64) = 0), dateDiff counting unit-BOUNDARY "
    "crossings (the probe's biggest find: every boundary-straddling "
    "pair returned 0), negative-length left/right, negative-step "
    "range, splitByChar max_substrings discarding the remainder "
    "(modern CH >= 23.12 default; legacy remainder-in-last behind the "
    "splitby_max_substrings_includes_remaining_string setting), "
    "numeric trunc, hasTokenOrNull, hopStart, arrayResize padding "
    "with the element default.",
    tags=("dialect", "sweep", "wave30"),
)
def q_util_sweep_wave30(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT CAST(round(2.5) AS Float64) AS rnd, "
        "CAST(toUInt8(300) AS Int64) AS u8wrap, "
        "CAST(toInt8(128) AS Int64) AS i8wrap, "
        "isNull(greatest(1, NULL)) AS glnull, "
        "CAST(bitShiftLeft(1, 64) AS Int64) AS shift64, "
        "CAST(dateDiff('month', toDate('2024-01-31'), "
        "toDate('2024-02-01')) AS Int64) AS ddmonth, "
        "CAST(dateDiff('year', toDate('2023-12-31'), "
        "toDate('2024-01-01')) AS Int64) AS ddyear, "
        "left('hello', -2) AS lneg, "
        "right('hello', -2) AS rneg, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "range(5, 1, -1)), ',') AS rngdown, "
        "arrayStringConcat(splitByChar(',', 'a,b,,c', 2), '|') "
        "AS splitmax, "
        "CAST(trunc(-2.7) AS Float64) AS truncneg, "
        "isNull(hasTokenOrNull('ab cd', 'ab cd')) AS htoknull, "
        "toString(toDate(hopStart(toDateTime('2024-07-03 11:20:00'), "
        "INTERVAL 1 DAY, INTERVAL 3 DAY))) AS hopst, "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "arrayResize([1, 2, 3], 5)), ',') AS resized"
    )


@register(
    "vector_semantic_decontaminate",
    """
    WITH bench AS (
      SELECT embedding AS bv FROM embeddings WHERE vec_id < 10
    ), hits AS (
      SELECT DISTINCT e.vec_id
      FROM embeddings e, bench b
      WHERE list_cosine_similarity(e.embedding, b.bv) >= 0.999
    )
    SELECT CAST(count(*) AS BIGINT) AS kept,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS dropped
    FROM embeddings WHERE vec_id NOT IN (SELECT vec_id FROM hits)
    """,
    doc="Semantic decontamination "
    "(operators/similarity.semantic_decontaminate): drop corpus rows "
    "whose embedding cosine to ANY benchmark vector (here vec_id < 10) "
    "reaches 0.999 — catches paraphrased benchmark leakage the "
    "n-gram/bloom tier misses. Benchmark side broadcasts; the corpus "
    "never shuffles (one scan + broadcast join + anti-join). Exact "
    "cross-engine oracle via DuckDB's list_cosine_similarity.",
    tags=("similarity", "decontamination", "pipeline"),
)
def q_vector_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.table("embeddings")
    bench = emb.where(F.col("vec_id") < 10)
    kept = similarity.semantic_decontaminate(emb, bench, threshold=0.999)
    n_all = emb.count()
    n_kept = kept.count()
    return spark.createDataFrame(
        [(n_kept, n_all - n_kept)], "kept BIGINT, dropped BIGINT"
    )


@register(
    "util_sweep_wave19",
    """
    SELECT '2023-11-14' AS j,
           CAST(90 AS BIGINT) AS td,
           '2024-02-01' AS ai,
           '2024-01-06' AS lw,
           'b,a' AS mrs,
           CAST(2 AS BIGINT) AS cm,
           TRUE AS ulid_ok
    """,
    doc="Round-6 probe-sweep wave 19 (datetime/id/map family): Joda "
    "fromUnixTimestamp, timeDiff (seconds), addInterval, "
    "toLastDayOfWeek (CH mode-0 Sunday..Saturday week, Saturday "
    "idempotent), mapReverseSort key order, countMap, and "
    "generateULID checked structurally (26 Crockford chars, "
    "time-ordered ms prefix).",
    tags=("dialect", "sweep", "wave19"),
)
def q_util_sweep_wave19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT "
        "fromUnixTimestampInJodaSyntax(1700000000, 'yyyy-MM-dd') AS j, "
        "toInt64(timeDiff(toDateTime('2024-01-01 00:00:00'), "
        "toDateTime('2024-01-01 00:01:30'))) AS td, "
        "toString(addInterval(toDate('2024-01-01'), INTERVAL 1 MONTH)) "
        "AS ai, "
        "toString(toLastDayOfWeek(toDate('2024-01-06'))) AS lw, "
        "arrayStringConcat(mapKeys("
        "  mapReverseSort(map('b', 2, 'a', 1))), ',') AS mrs, "
        "countMap(map('x', 1))['x'] AS cm_tmp, "
        "(SELECT countMap(m)['a'] FROM (SELECT map('a', 1) AS m "
        "UNION ALL SELECT map('a', 2) AS m)) AS cm, "
        "(generateULID() RLIKE '^[0-9A-HJKMNP-TV-Z]{26}$') AS ulid_ok"
    ).drop("cm_tmp")


@register(
    "util_exp_decay",
    """
    WITH b AS (
      SELECT user_id, event_id, value, floor(epoch(ts)) AS et
      FROM events WHERE user_id < 5
    )
    SELECT t.user_id, t.event_id,
      round((SELECT sum(s.value * exp((s.et - t.et)/86400.0)) FROM b s
             WHERE s.user_id = t.user_id
               AND (s.et, s.event_id) <= (t.et, t.event_id)), 4) AS ds,
      round((SELECT sum(exp((s.et - t.et)/86400.0)) FROM b s
             WHERE s.user_id = t.user_id
               AND (s.et, s.event_id) <= (t.et, t.event_id)), 4) AS dc,
      round((SELECT max(s.value * exp((s.et - t.et)/86400.0)) FROM b s
             WHERE s.user_id = t.user_id
               AND (s.et, s.event_id) <= (t.et, t.event_id)), 4) AS dm,
      round((SELECT sum(s.value * exp((s.et - t.et)/86400.0))
                  / sum(exp((s.et - t.et)/86400.0)) FROM b s
             WHERE s.user_id = t.user_id
               AND (s.et, s.event_id) <= (t.et, t.event_id)), 4) AS da,
      round((SELECT sum(s.value * pow(2.0, (s.et - t.et)/43200.0))
                  * (1.0 - pow(2.0, -1.0/43200.0)) FROM b s
             WHERE s.user_id = t.user_id
               AND (s.et, s.event_id) <= (t.et, t.event_id)), 4) AS ema
    FROM b t
    ORDER BY t.user_id, t.event_id
    """,
    doc="ClickHouse time-decay window family (round-9: "
    "exponentialTimeDecayedSum/Count/Max/Avg + exponentialMovingAverage "
    "as real window functions, dialect.statements._rewrite_exp_decay): each "
    "factors through w(T,t_i) = w(T,t0)*w(t0,t_i) into ONE ordinary "
    "windowed SUM/MAX times a per-row prefactor — whole-stage codegen, "
    "no per-row state, no collect_list. t0 = per-partition MAX "
    "(round-10, ADVICE r9 #4: grow <= 1 can never overflow double). "
    "The DuckDB oracle is DEFINITION-LEVEL (round-10, oracle-"
    "independence sweep): a correlated direct sum of "
    "v_i * exp((t_i - T)/x) over each row's frame — no shared "
    "factoring, so a misreading of the CH semantics in the rewrite "
    "cannot also live in the oracle. Reference formulae: CH "
    "window-functions docs + base/ExponentiallySmoothedCounter.h for "
    "the EMA normalization.",
    tags=("dialect", "window", "timeseries"),
)
def q_util_exp_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    over = ("OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    return Client(spark).query_ch(
        "SELECT user_id, event_id, "
        "round(exponentialTimeDecayedSum(86400)(value, "
        f"toUnixTimestamp(ts)) {over}, 4) AS ds, "
        "round(exponentialTimeDecayedCount(86400)("
        f"toUnixTimestamp(ts)) {over}, 4) AS dc, "
        "round(exponentialTimeDecayedMax(86400)(value, "
        f"toUnixTimestamp(ts)) {over}, 4) AS dm, "
        "round(exponentialTimeDecayedAvg(86400)(value, "
        f"toUnixTimestamp(ts)) {over}, 4) AS da, "
        "round(exponentialMovingAverage(43200)(value, "
        f"toUnixTimestamp(ts)) {over}, 4) AS ema "
        "FROM events WHERE user_id < 5 "
        "ORDER BY user_id, event_id"
    )


@register(
    "core_remote_tvf",
    """
    SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_count,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           min(n_name) AS first_name
    FROM nation WHERE n_nationkey < 20
    GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    doc="Round 9: ClickHouse remote() table function "
    "(client._expand_remote_tvf -> read_remote over the HTTP "
    "ArrowStream DSv2 connector; the reference reaches other servers "
    "through clickhouse-arrow/src/client.rs:213-256 + "
    "src/http/client.rs:22-244): nation is served by the in-process "
    "ClickHouse-HTTP stub (sources/ch_http_stub.py — real sockets, "
    "real Arrow IPC, X-ClickHouse-User/Key auth enforced) and read "
    "back through remote('127.0.0.1:PORT', default.nation, user, "
    "password) with a WHERE that pushes into the server-side SQL; "
    "replica alternation {port|dead-port} picks the live first "
    "replica. The oracle reads the same rows from the parquet table, "
    "so any transport/typing/pushdown drift hash-fails.",
    tags=("source", "remote", "tvf"),
)
def q_core_remote_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow.parquet as pq

    from clickhouse_arrow_spark.builder import ClientBuilder
    from clickhouse_arrow_spark.sources.ch_http_stub import ArrowHttpStub

    stub = ArrowHttpStub(
        {"nation": f"{sf_dir}/nation.parquet"},
        user="reader", password="s3cret",
    )
    url = stub.start()
    hostport = url.split("://", 1)[1].rstrip("/")
    host, port = hostport.rsplit(":", 1)
    try:
        client = ClientBuilder().with_session(spark).build()
        # eager: the fetch happens while the stub is up; replica
        # alternation {live|dead} must pick the first (live) replica
        out = client.query_ch(
            "SELECT n_regionkey, count() AS n_count, "
            "sum(n_nationkey) AS key_sum, min(n_name) AS first_name "
            f"FROM remote('{host}:{{{port}|59999}}', default.nation, "
            "'reader', 's3cret') "
            "WHERE n_nationkey < 20 "
            "GROUP BY n_regionkey ORDER BY n_regionkey"
        ).toPandas()
    finally:
        stub.stop()
    return spark.createDataFrame(
        out,
        "n_regionkey BIGINT, n_count BIGINT, key_sum BIGINT, "
        "first_name STRING",
    )


@register(
    "core_remote_multishard",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(4 AS BIGINT) AS range_parts
    FROM orders WHERE o_orderkey < 5000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="Round-10 (VERDICT r9 task #6): the remote() MULTI-SHARD path "
    "corpus-attested — two in-process CH-HTTP stubs (real sockets, "
    "real Arrow IPC, auth enforced) each serve a DISJOINT parity slice "
    "of orders, and remote('h:p1,h:p2', ...) UNION-ALLs one DSv2 scan "
    "per shard; the per-status counts/sums only match the DuckDB "
    "oracle over the whole table if both shards contribute exactly "
    "once. range_parts additionally attests the range-partitioned "
    "parallel scan (_plan_range_bounds): a partition_column/"
    "num_partitions=4 read of one shard must plan exactly 4 input "
    "partitions.",
    tags=("source", "remote", "tvf", "shards"),
)
def q_core_remote_multishard(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from clickhouse_arrow_spark.builder import ClientBuilder
    from clickhouse_arrow_spark.sources.ch_http_stub import ArrowHttpStub

    t = pq.read_table(f"{sf_dir}/orders.parquet")
    t = t.filter(pc.less(t["o_orderkey"], 5000))
    parity = pc.bit_wise_and(t["o_orderkey"], 1)
    even = t.filter(pc.equal(parity, 0))
    odd = t.filter(pc.equal(parity, 1))
    stub1 = ArrowHttpStub({"shard_orders": even}, user="r", password="p")
    stub2 = ArrowHttpStub({"shard_orders": odd}, user="r", password="p")
    url1, url2 = stub1.start(), stub2.start()
    hp1 = url1.split("://", 1)[1].rstrip("/")
    hp2 = url2.split("://", 1)[1].rstrip("/")
    try:
        client = ClientBuilder().with_session(spark).build()
        out = client.query_ch(
            "SELECT o_orderstatus, count() AS n, sum(o_orderkey) AS "
            f"key_sum FROM remote('{hp1},{hp2}', default.shard_orders, "
            "'r', 'p') GROUP BY o_orderstatus ORDER BY o_orderstatus"
        ).toPandas()
        ranged = client.read_remote(
            "shard_orders", url=url1, user="r", password="p",
            partition_column="o_orderkey", num_partitions=4,
        )
        n_parts = ranged.rdd.getNumPartitions()
    finally:
        stub1.stop()
        stub2.stop()
    df = spark.createDataFrame(
        out, "o_orderstatus STRING, n BIGINT, key_sum BIGINT"
    )
    return df.withColumn(
        "range_parts", F.lit(int(n_parts)).cast("bigint")
    )


@register(
    "util_sweep_wave33",
    """
    SELECT 0.9 AS rho,
           0.8660254038 AS rho_ties,
           '3,2' AS cnt_buckets,
           '3.0,6.0' AS sum_buckets,
           '1,1' AS trunc_buckets,
           CAST(5 AS BIGINT) AS h3res,
           CAST(20 AS BIGINT) AS h3base,
           FALSE AS hexagon,
           TRUE AS pentagon3,
           TRUE AS pentagon0,
           '1:10|2:40|5:25|6:5' AS lttb4
    """,
    doc="Round-9 probe-sweep wave 33 (pinned by tests/test_sweep_wave33.py; "
    "exact literal oracle): rankCorr as a self-contained Spearman-with-"
    "average-ranks aggregate (collect-once via the transform-binding "
    "trick, O(n^2) rank fold — entropy() precedent), the -Resample "
    "combinator over count/sum/min/max/avg (bucketed array folds, "
    "truncated last bucket), and the pure-bit H3 accessors "
    "h3GetResolution/h3GetBaseCell/h3IsPentagon from the published "
    "index layout (pentagons = center-child chains of the 12 res-0 "
    "pentagon base cells).",
    tags=("dialect", "sweep", "wave33"),
)
def q_util_sweep_wave33(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT "
        "round((SELECT rankCorr(a, b) FROM (SELECT 1.0 AS a, 10.0 AS b "
        "UNION ALL SELECT 2.0, 20.0 UNION ALL SELECT 3.0, 30.0 "
        "UNION ALL SELECT 4.0, 41.0 UNION ALL SELECT 5.0, 35.0)), 10) "
        "AS rho, "
        "round((SELECT rankCorr(a, b) FROM (SELECT 1.0 AS a, 1.0 AS b "
        "UNION ALL SELECT 1.0, 2.0 UNION ALL SELECT 2.0, 3.0)), 10) "
        "AS rho_ties, "
        "(SELECT arrayStringConcat(arrayMap(x -> toString(x), "
        "countResample(0, 10, 5)(k)), ',') FROM "
        "(SELECT arrayJoin([0.0, 1.0, 2.0, 5.0, 9.0]) AS k)) "
        "AS cnt_buckets, "
        "(SELECT arrayStringConcat(arrayMap(x -> toString(x), "
        "sumResample(0, 10, 5)(x, x)), ',') FROM "
        "(SELECT arrayJoin([1.0, 2.0, 6.0]) AS x)) AS sum_buckets, "
        "(SELECT arrayStringConcat(arrayMap(x -> toString(x), "
        "countResample(0, 6, 4)(k)), ',') FROM "
        "(SELECT arrayJoin([3.0, 5.0, 7.0]) AS k)) AS trunc_buckets, "
        "CAST(h3GetResolution(599686042433355775) AS Int64) AS h3res, "
        "CAST(h3GetBaseCell(599686042433355775) AS Int64) AS h3base, "
        "h3IsPentagon(585610338313961471) AS hexagon, "
        "h3IsPentagon(590112357393367039) AS pentagon3, "
        "h3IsPentagon(576636674163867647) AS pentagon0, "
        "(SELECT arrayStringConcat(arrayMap(p -> "
        "concat(toString(toInt64(p.x)), ':', toString(toInt64(p.y))), "
        "largestTriangleThreeBuckets(4)(x, y)), '|') FROM "
        "(SELECT 1.0 AS x, 10.0 AS y UNION ALL SELECT 2.0, 40.0 "
        "UNION ALL SELECT 3.0, 12.0 UNION ALL SELECT 4.0, 30.0 "
        "UNION ALL SELECT 5.0, 25.0 UNION ALL SELECT 6.0, 5.0)) "
        "AS lttb4"
    )


@register(
    "util_sweep_wave35",
    """
    SELECT '2|3|2|2|3' AS funnel_modes,
           '1,3,5' AS seq_events,
           '2025|25|01|1|1|20' AS fmt_iso,
           'March' AS fmt_m_modern,
           '08' AS fmt_m_legacy,
           '2024-12-30|2024-01-01' AS iso_year_start,
           '2299-12-31|1900-01-01|2024-02-29' AS date32_sat,
           TRUE AS uniq17_ok
    """,
    doc="Round-10 probe-sweep wave 35 (pinned by tests/test_sweep_wave35.py; "
    "exact literal oracle): windowFunnel reworked to CH's exact per-level "
    "algorithm (AggregateFunctionWindowFunnel.h — cond-1 re-anchoring, "
    "strict_order breaking only on untracked rows, strict_dedup "
    "mid-chain stop returning the repeated level, last-level early "
    "return; pinned against a line-by-line CH replica in "
    "tests/test_operators.py::test_window_funnel_matches_ch_reference), "
    "sequenceMatchEvents (first match's (?N) timestamps, shared "
    "backtracking matcher), formatDateTime modern %M month name + the "
    "legacy setting + the %G/%V/%g/%u/%w/%C expression splices, "
    "toStartOfISOYear, Date32 saturation, and uniqCombined precision "
    "parameters.",
    tags=("dialect", "sweep", "wave35"),
)
def q_util_sweep_wave35(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from clickhouse_arrow_spark.client import Client
    from clickhouse_arrow_spark.operators.funnel import (
        sequence_match_events,
        window_funnel,
    )

    client = Client(spark)
    conds = [F.col("e") == "A", F.col("e") == "B", F.col("e") == "C"]
    cases = [
        # (rows, modes, window) — expected levels 2,3,2,2,3
        ([(0.0, "A"), (200.0, "A"), (205.0, "B")], (), 10),
        ([(1.0, "A"), (2.0, "A"), (3.0, "B"), (4.0, "C")],
         ("strict_order",), 100),
        ([(1.0, "A"), (2.0, "B"), (3.0, "X"), (4.0, "C")],
         ("strict_order",), 100),
        ([(1.0, "A"), (2.0, "B"), (3.0, "B"), (4.0, "C")],
         ("strict_dedup",), 100),
        ([(1.0, "A"), (2.0, "B"), (3.0, "C"), (4.0, "B")],
         ("strict_dedup",), 100),
    ]
    # One window_funnel call per (modes, window) GROUP, with the case
    # index as the funnel's user key (round-13, VERDICT r12 #7): the
    # per-user fold computes every case of a group in one plan, so the
    # battery builds 3 funnel plans instead of 5 and drops the 4-deep
    # crossJoin chain — the per-case results are provably independent
    # (window_funnel folds each user's timeline separately). Level
    # string assembly preserves the original case order.
    groups: dict[tuple, list[tuple[int, list]]] = {}
    for idx, (rows, modes, window) in enumerate(cases):
        groups.setdefault((modes, window), []).append((idx, rows))
    parts = []
    for (modes, window), members in groups.items():
        df = spark.createDataFrame(
            [(idx, t, e) for idx, rows in members for t, e in rows],
            "u long, t double, e string",
        )
        parts.append(
            window_funnel(df, "u", "t", conds, window, modes=modes)
            .select(F.col("u"), F.col("funnel_level").cast("int").alias("lvl"))
        )
    all_levels = parts[0]
    for nxt in parts[1:]:
        all_levels = all_levels.unionByName(nxt)
    funnel_df = all_levels.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("u", "lvl"))),
                lambda s: s.getField("lvl").cast("string"),
            ),
            "|",
        ).alias("funnel_modes")
    )

    seq_df = spark.createDataFrame(
        [(1, 1.0, 1), (1, 2.0, 3), (1, 3.0, 2), (1, 4.0, 1), (1, 5.0, 4)],
        "u long, t double, number int",
    )
    seq_out = sequence_match_events(
        seq_df, "u", "t", "(?1).*(?2).*(?3)",
        [F.col("number") == 1, F.col("number") == 2, F.col("number") == 4],
    ).select(
        F.array_join(
            F.transform("event_times", lambda x: x.cast("int")), ","
        ).alias("seq_events")
    )

    scalars = client.query_ch(
        "SELECT formatDateTime(TIMESTAMP '2024-12-30 07:00:00', "
        "'%G|%g|%V|%u|%w|%C') AS fmt_iso, "
        "formatDateTime(TIMESTAMP '2024-03-05 07:08:09', '%M') "
        "AS fmt_m_modern, "
        "concat(toString(toStartOfISOYear(toDate('2024-12-30'))), '|', "
        "toString(toStartOfISOYear(toDate('2024-06-01')))) "
        "AS iso_year_start, "
        "concat(toString(toDate32('2300-06-01')), '|', "
        "toString(toDate32('1899-06-01')), '|', "
        "toString(toDate32('2024-02-29'))) AS date32_sat"
    )
    legacy = client.query_ch(
        "SELECT formatDateTime(TIMESTAMP '2024-03-05 07:08:09', '%M') "
        "AS fmt_m_legacy "
        "SETTINGS formatdatetime_parsedatetime_m_is_month_name = 0"
    )
    uniq = client.query_ch(
        "SELECT abs(uniqCombined(14)(o_custkey) - "
        "count(DISTINCT o_custkey)) <= 0.1 * count(DISTINCT o_custkey) "
        "AS uniq17_ok FROM orders"
    )
    return (
        funnel_df.crossJoin(seq_out).crossJoin(scalars)
        .crossJoin(legacy).crossJoin(uniq)
    )


@register(
    "agg_delta_intersections",
    """
    WITH base AS (
      SELECT user_id, floor(epoch(ts)) AS ut, value
      FROM events WHERE user_id < 50
    ), deltas AS (
      SELECT user_id,
             greatest(0, value - lag(value) OVER
               (PARTITION BY user_id ORDER BY ut, value)) AS d
      FROM base
    ), ev AS (
      SELECT user_id, ut AS p, 1 AS d FROM base
      UNION ALL
      SELECT user_id, ut + value * 60, -1 FROM base
    ), sweep AS (
      SELECT user_id, sum(d) OVER (PARTITION BY user_id
             ORDER BY p, d ROWS BETWEEN UNBOUNDED PRECEDING AND
             CURRENT ROW) AS c
      FROM ev
    )
    SELECT d.user_id,
           round(sum(coalesce(d.d, 0)), 4) AS dst,
           (SELECT CAST(max(c) AS BIGINT) FROM sweep s
            WHERE s.user_id = d.user_id) AS mi
    FROM deltas d GROUP BY d.user_id ORDER BY d.user_id
    """,
    doc="Round-9: deltaSumTimestamp (order-DEFINED positive-delta sum: "
    "sort by the timestamp argument, fold consecutive deltas) and "
    "maxIntersections/maxIntersectionsPosition (sweep-line as one "
    "sorted-array fold; touching intervals do not intersect — ends "
    "sort before starts at equal positions, CH's pair sort) — both "
    "previously operator-backed refusals, now full SQL aggregates. "
    "Per user: delta-sum of the value series by time, and the max "
    "number of overlapping [ts, ts + value*60] intervals; the DuckDB "
    "oracle recomputes both with window reformulations.",
    tags=("aggregate", "timeseries", "wave33"),
)
def q_agg_delta_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT user_id, "
        "round(deltaSumTimestamp(value, toUnixTimestamp(ts)), 4) AS dst, "
        "maxIntersections(toUnixTimestamp(ts), "
        "toUnixTimestamp(ts) + value * 60) AS mi "
        "FROM events WHERE user_id < 50 "
        "GROUP BY user_id ORDER BY user_id"
    )


# ---------------------------------------------------------------------------
# Round 11: end-to-end LLM-pipeline composition gate (VERDICT r10 #2)
# ---------------------------------------------------------------------------

def _e2e_oracle_sql() -> str:
    """DuckDB recomputation of the ENTIRE composed pipeline
    (operators/corpus_pipeline.py) — every tier value-level, no engine
    hash anywhere: the two hash-dependent tiers (LSH banding, Bloom)
    are candidate generators whose exact verification makes the drop
    sets equal the recomputable ground truth (LSH recall argument in
    dedup_neardup_gate; Bloom has no false negatives)."""
    from clickhouse_arrow_spark.operators import corpus_pipeline as cp

    L = cp.SUBSTR_L
    tok = ("len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
           "w -> w <> ''))")
    bucket = "('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT"
    stop_case = " + ".join(
        f"CASE WHEN regexp_matches(low, '\\b{w}\\b') THEN 1 ELSE 0 END"
        for w in ("the", "be", "to", "of", "and", "that", "have", "with")
    )

    def summary(stage: str, cte: str, digest: str = "0") -> str:
        return f"""
  SELECT '{stage}' AS stage, count(*)::BIGINT AS n_rows,
         coalesce(sum({tok}), 0)::BIGINT AS toks,
         (count(*) FILTER (doc_id >= {cp.EXACT_OFFSET}
            AND doc_id < {cp.NEAR_OFFSET}))::BIGINT AS exact_alive,
         (count(*) FILTER (doc_id >= {cp.NEAR_OFFSET}))::BIGINT
           AS near_alive,
         (count(*) FILTER (contains(text, 'zqcontam')))::BIGINT
           AS contam_alive,
         (count(*) FILTER (contains(text, 'zqrun01')))::BIGINT
           AS run_docs,
         coalesce(sum({bucket}), 0)::BIGINT AS idsum,
         ({digest})::BIGINT AS order_digest
  FROM {cte}"""

    shuffle_digest = """
    SELECT coalesce(sum(rn * b), 0) FROM (
      SELECT row_number() OVER (
               ORDER BY md5(doc_id::VARCHAR || ':%(shuf)s'), doc_id) AS rn,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS b
      FROM s8)""" % {"shuf": cp.SHUFFLE_SEED}

    parts = " UNION ALL ".join([
        summary("0_input", "corpus0"),
        summary("1_c4", "s1"),
        summary("2_gopher", "s2"),
        summary("3_exact", "s3"),
        summary("4_neardup", "s4"),
        summary("5_substr", "s5"),
        summary("6_decontam", "s6"),
        summary("7_dsir", "s7"),
        summary("8_pack", "s8"),
        summary("9_shuffle", "s8", f"({shuffle_digest})"),
    ])

    return f"""
WITH RECURSIVE raw AS MATERIALIZED (
  SELECT doc_id, text, lang, source,
         len(regexp_split_to_array(trim(text), '\\s+')) AS wc_raw
  FROM documents
), pages AS MATERIALIZED (
  SELECT doc_id,
         text || '.' || chr(10) || '{cp.NOPUNCT_LINE}' || chr(10)
         || '{cp.STOP_LINE}'
         || CASE WHEN doc_id % {cp.CONTAM_MOD} = {cp.CONTAM_RES}
              THEN chr(10) || '{cp.CONTAM_LINE}' ELSE '' END
         || CASE WHEN doc_id % {cp.RUN_MOD} = {cp.RUN_RES}
              THEN chr(10) || '{cp.RUN_LINE}' ELSE '' END AS text,
         lang, source, wc_raw
  FROM raw
), corpus0 AS MATERIALIZED (
  SELECT doc_id, text, lang, source FROM pages
  UNION ALL
  SELECT doc_id + {cp.EXACT_OFFSET}, text, lang, source FROM pages
  WHERE doc_id % {cp.EXACT_MOD} = {cp.EXACT_RES}
  UNION ALL
  SELECT doc_id + {cp.NEAR_OFFSET},
         text || chr(10) || '{cp.NEAR_TAIL}', lang, source
  FROM pages
  WHERE doc_id % {cp.NEAR_MOD} = {cp.NEAR_RES}
    AND wc_raw >= {cp.NEAR_MIN_WORDS}
), c4a AS MATERIALIZED (
  SELECT doc_id, lang, source, text AS orig,
         list_filter(string_split(text, chr(10)), l ->
           regexp_matches(l, '[.!?][''"’”]?\\s*$')
           AND len(list_filter(regexp_split_to_array(trim(l), '\\s+'),
                               w -> w != '')) >= 3
           AND NOT regexp_matches(lower(l), '\\bjavascript\\b')) AS kl
  FROM corpus0
), s1 AS MATERIALIZED (
  SELECT doc_id, array_to_string(kl, chr(10)) AS text, lang, source
  FROM c4a
  WHERE NOT contains(lower(orig), 'lorem ipsum')
    AND NOT contains(orig, '{{')
    AND len(kl) >= 1
), gp AS MATERIALIZED (
  SELECT doc_id, text, lang, source,
         len(regexp_split_to_array(trim(text), '\\s+')) AS wc,
         length(regexp_replace(text, '\\s+', '', 'g')) AS nonspace,
         length(text) - length(replace(text, '#', '')) AS hashes,
         (length(text) - length(replace(text, '...', ''))) / 3 AS ells,
         regexp_split_to_array(trim(text), '\\s+') AS words,
         string_split(text, chr(10)) AS lines,
         lower(text) AS low
  FROM s1
), s2 AS MATERIALIZED (
  SELECT doc_id, text, lang, source FROM gp
  WHERE wc >= 50 AND wc <= 100000
    AND nonspace / greatest(wc, 1) >= 3
    AND nonspace / greatest(wc, 1) <= 10
    AND (hashes + ells) / greatest(wc, 1) <= 0.1
    AND len(list_filter(lines, x -> regexp_matches(x, '^\\s*[-*•]')))
        / greatest(len(lines), 1) < 0.9
    AND len(list_filter(lines, x -> regexp_matches(x, '\\.\\.\\.\\s*$')))
        / greatest(len(lines), 1) < 0.3
    AND len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
        / greatest(wc, 1) >= 0.8
    AND ({stop_case}) >= 2
), s3 AS MATERIALIZED (
  SELECT doc_id, text, lang, source FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY
      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS mid
    FROM s2)
  WHERE doc_id = mid
), prof AS MATERIALIZED (
  SELECT doc_id, grp, nlen,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS sh
  FROM (SELECT doc_id, lang AS grp, length(text) AS nlen,
               string_split(regexp_replace(lower(trim(text)),
                                           '\\s+', ' ', 'g'), ' ') AS toks
        FROM s3)
), nd_pairs AS MATERIALIZED (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM prof a JOIN prof b
    ON a.grp = b.grp AND a.doc_id < b.doc_id
   AND abs(a.nlen - b.nlen) <= 20
  WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9
), nd_edges AS MATERIALIZED (
  SELECT a_id AS x, b_id AS y FROM nd_pairs
  UNION SELECT b_id, a_id FROM nd_pairs
), reach AS (
  SELECT x, y FROM nd_edges
  UNION
  SELECT r.x, e.y FROM reach r JOIN nd_edges e ON r.y = e.x
), s4 AS MATERIALIZED (
  SELECT * FROM s3
  WHERE doc_id NOT IN (SELECT DISTINCT x FROM reach WHERE y < x)
), toks5 AS MATERIALIZED (
  SELECT doc_id, lang, source,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS tokens
  FROM s4
), win AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos,
         doc_id * 1048576 + (i - 1) AS key,
         md5(array_to_string(tokens[i:i+{L - 1}], ' ')) AS digest
  FROM toks5, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(tokens) - {L - 1}, 0)))
           AS i) g
), dup AS MATERIALIZED (
  SELECT digest, min(key) AS first_key FROM win
  GROUP BY digest HAVING count(*) >= 2
), marked AS MATERIALIZED (
  SELECT w.doc_id, w.pos FROM win w JOIN dup d USING (digest)
  WHERE w.key > d.first_key
), brks AS MATERIALIZED (
  SELECT doc_id, pos,
         CASE WHEN pos > lag(pos) OVER
           (PARTITION BY doc_id ORDER BY pos) + {L}
         THEN 1 ELSE 0 END AS brk
  FROM marked
), isl AS MATERIALIZED (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
  FROM brks
), ivs AS MATERIALIZED (
  SELECT doc_id, isl_id, min(pos) AS s, max(pos) + {L} AS e
  FROM isl GROUP BY doc_id, isl_id
), ivagg AS MATERIALIZED (
  SELECT doc_id, list(struct_pack(s := s, e := e)) AS iv FROM ivs
  GROUP BY doc_id
), s5 AS MATERIALIZED (
  SELECT t.doc_id,
         array_to_string(
           list_filter(t.tokens, (tk, i) ->
             coalesce(len(list_filter(v.iv,
               z -> (i - 1) >= z.s AND (i - 1) < z.e)), 0) = 0),
           ' ') AS text,
         t.lang, t.source
  FROM toks5 t LEFT JOIN ivagg v USING (doc_id)
), benchg AS MATERIALIZED (
  SELECT DISTINCT array_to_string(bt[i:i+7], ' ') AS g
  FROM (SELECT string_split(regexp_replace(lower(trim(
          '{cp.CONTAM_LINE}')), '\\s+', ' ', 'g'), ' ') AS bt),
       LATERAL (SELECT unnest(generate_series(1, greatest(len(bt) - 7, 0)))
                AS i) gg
), contam_ids AS MATERIALIZED (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)),
               '\\s+', ' ', 'g'), ' ') AS tk FROM s5) d,
       LATERAL (SELECT unnest(generate_series(1, greatest(len(tk) - 7, 0)))
                AS i) gg
  WHERE array_to_string(tk[i:i+7], ' ') IN (SELECT g FROM benchg)
), s6 AS MATERIALIZED (
  SELECT * FROM s5 WHERE doc_id NOT IN (SELECT doc_id FROM contam_ids)
), toks7 AS MATERIALIZED (
  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM s6
), grams7 AS MATERIALIZED (
  SELECT doc_id, source,
         unnest(t || list_transform(range(1, len(t)),
                                    i -> t[i] || ' ' || t[i+1])) AS g
  FROM toks7
), feats7 AS MATERIALIZED (
  SELECT doc_id, source,
         ('0x' || substr(md5(g), 1, 8))::BIGINT % {cp.DSIR_BUCKETS}
           AS bucket,
         count(*) AS cnt
  FROM grams7 GROUP BY 1, 2, 3
), tc AS MATERIALIZED (
  SELECT bucket, sum(cnt) AS t_cnt FROM feats7
  WHERE source = '{cp.DSIR_TARGET_SOURCE}' GROUP BY 1
), rc AS MATERIALIZED (
  SELECT bucket, sum(cnt) AS r_cnt FROM feats7 GROUP BY 1
), wts AS MATERIALIZED (
  SELECT coalesce(t.bucket, r.bucket) AS bucket,
         ln((coalesce(t_cnt, 0) + 1.0) /
            ((SELECT coalesce(sum(t_cnt), 0) FROM tc)
             + {cp.DSIR_BUCKETS}.0))
       - ln((coalesce(r_cnt, 0) + 1.0) /
            ((SELECT coalesce(sum(r_cnt), 0) FROM rc)
             + {cp.DSIR_BUCKETS}.0)) AS logw
  FROM tc t FULL OUTER JOIN rc r ON t.bucket = r.bucket
), scored AS MATERIALIZED (
  SELECT f.doc_id, sum(f.cnt * coalesce(w.logw, 0.0)) AS logw
  FROM feats7 f LEFT JOIN wts w USING (bucket)
  GROUP BY 1
), sel AS MATERIALIZED (
  SELECT doc_id, round(logw, 6) AS q
  FROM (SELECT doc_id, logw,
               logw - ln(-ln(
                 (('0x' || substr(md5(doc_id::VARCHAR
                     || ':{cp.DSIR_SEED}'), 1, 8))::BIGINT + 0.5)
                 / 4294967296.0)) AS key
        FROM scored)
  ORDER BY key DESC, doc_id LIMIT {cp.DSIR_K}
), s7 AS MATERIALIZED (
  SELECT s.doc_id, s.text, s.lang, s.source, sel.q
  FROM s6 s JOIN sel USING (doc_id)
), c8 AS MATERIALIZED (
  SELECT *, sum({tok.replace("text", "text")}) OVER (
    ORDER BY q DESC, doc_id) AS cum
  FROM s7
), s8 AS MATERIALIZED (
  SELECT doc_id, text, lang, source FROM c8
  WHERE cum <= {cp.PACK_BUDGET}
)
{parts}
ORDER BY stage
"""


@register(
    "pipe_e2e_llm_corpus",
    _e2e_oracle_sql(),
    doc="End-to-end LLM training-corpus pipeline composition (round 11): "
    "synthesized pages -> C4 line filter -> Gopher quality -> exact "
    "dedup -> MinHash-LSH near-dup (exactly verified) -> exact-substring "
    "dedup (L=50) -> Bloom decontaminate (exactly verified) -> DSIR "
    "select (k=150) -> token-budget pack -> deterministic epoch shuffle, "
    "ONE DataFrame flowing through operators/corpus_pipeline.py. The "
    "result is a 10-row per-stage audit (rows, tokens, planted exact/"
    "near/contaminated/shared-run survivor counts, an id checksum, and "
    "an order-sensitive digest of the final permutation); the DuckDB "
    "oracle recomputes EVERY stage value-for-value — the planted exact "
    "dupes must die at tier 3, the planted near-dups at tier 4, the "
    "planted 60-token shared run at tier 5, the planted contamination "
    "at tier 6, and the budget/permutation must match bit-exact. This "
    "is the interface-drift gate per-operator oracles cannot provide.",
    tags=("pipeline", "dedup", "decontaminate", "dsir", "composition"),
)
def q_pipe_e2e_llm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.operators import corpus_pipeline as cp

    stages = cp.llm_corpus_pipeline(spark, spark.table("documents"))
    return cp.stage_summary(stages).orderBy("stage")


@register(
    "util_sweep_wave37",
    """
    SELECT '0.5|1.0|1.0|0.0|1.0' AS ngram_search,
           '0.0|0.5556' AS ngram_dist,
           'a,b,c|c,b,a|3,2,1' AS partial_sorts,
           'A240|R163|T522|H555' AS soundex_codes,
           '2024-03-01|2024-07-01|Date|DateTime' AS tostartof_dates
    """,
    doc="Round-11 probe-sweep wave 37 (pinned by tests/test_sweep_wave37.py; "
    "exact literal oracle): ngramSearch family (multiset needle-gram "
    "containment — ('Hello World','World Hello') = 4 common of 8 "
    "needle grams = 0.5, hand-derived from the CH docs formula), "
    "ngramDistance case/UTF8 variants, mapPartialSort / "
    "mapPartialReverseSort / arrayPartialReverseSort (full sort as the "
    "only deterministic instance of the partial-sort contract), "
    "soundex classic-value pins (CH docs example A240; census vector "
    "incl. the vowel-doubling H555 and adjacent-collapse T522), and "
    "the round-11 toStartOf{Month,Quarter} Date narrowing (wave-36's "
    "single delta, closed — toTypeName now answers Date; the sub-day "
    "family stays DateTime).",
    tags=("dialect", "sweep", "wave37"),
)
def q_util_sweep_wave37(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT concat_ws('|', "
        "toString(ngramSearch('Hello World', 'World Hello')), "
        "toString(ngramSearch('ClickHouse', 'House')), "
        "toString(ngramSearchCaseInsensitive('Hello World', 'HELLO')), "
        "toString(ngramSearch('Hello World', 'xyzzy9')), "
        "toString(ngramSearchUTF8('héllo wörld', 'wörld'))) "
        "AS ngram_search, "
        "concat_ws('|', "
        "toString(ngramDistanceCaseInsensitive('ABC', 'abc')), "
        "toString(round(ngramDistance('ClickHouse', 'House'), 4))) "
        "AS ngram_dist, "
        "concat_ws('|', "
        "arrayStringConcat(mapKeys(mapPartialSort(2, "
        "map('c', 3, 'a', 1, 'b', 2))), ','), "
        "arrayStringConcat(mapKeys(mapPartialReverseSort(2, "
        "map('c', 3, 'a', 1, 'b', 2))), ','), "
        "arrayStringConcat(arrayMap(x -> toString(x), "
        "arrayPartialReverseSort(2, [1, 3, 2])), ',')) "
        "AS partial_sorts, "
        "concat_ws('|', soundex('aksel'), soundex('Robert'), "
        "soundex('Tymczak'), soundex('Honeyman')) AS soundex_codes, "
        "concat_ws('|', "
        "toString(toStartOfMonth(toDate('2024-03-15'))), "
        "toString(toStartOfQuarter(toDate('2024-08-16'))), "
        "toTypeName(toStartOfMonth(toDate('2024-03-15'))), "
        "toTypeName(toStartOfDay(now()))) AS tostartof_dates"
    )


@register(
    "util_sweep_wave39",
    """
    SELECT '3|0|5|1' AS width_bucket_grid,
           'aHR0cHM6Ly9jbGlja2hvdXNlLmNvbQ|https://clickhouse.com|'
             AS base64url,
           'Spark_SQL|Müxxhen2024' AS overlays,
           '30|-10|ice' AS iceberg_truncate,
           '4|2|0.918296' AS byte_stats,
           '192.168.1.xxx|2|3|ab' AS variants
    """,
    doc="Round-12 probe-sweep wave 39 (pinned by tests/test_sweep_wave39.py; "
    "exact literal oracle): width_bucket PostgreSQL edge grid (hand values "
    "incl. below-min -> 0 and max-exclusive -> n+1), the base64URL "
    "family (RFC 4648 §5 alphabet, unpadded like CH, try-form -> ''), "
    "overlay/overlayUTF8 (SQL-standard passthrough confirmed), "
    "icebergTruncate (published Iceberg transform spec: signed floor "
    "to width / string prefix), stringBytesUniq/stringBytesEntropy "
    "(UTF-8 byte statistics via hex pairs; H('aab') = 0.918296 by "
    "hand), and the leftover family variants "
    "(IPv4NumToStringClassC, countSubstringsCaseInsensitiveUTF8, "
    "multiSearchFirstPositionCaseInsensitive, toStringCutToZero).",
    tags=("dialect", "sweep", "wave39"),
)
def q_util_sweep_wave39(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_arrow_spark.client import Client

    return Client(spark).query_ch(
        "SELECT concat_ws('|', "
        "toString(widthBucket(10.15, -8.6, 21, 4)), "
        "toString(widthBucket(-10, -8.6, 21, 4)), "
        "toString(widthBucket(21, -8.6, 21, 4)), "
        "toString(widthBucket(-8.6, -8.6, 21, 4))) AS width_bucket_grid, "
        "concat_ws('|', base64URLEncode('https://clickhouse.com'), "
        "base64URLDecode('aHR0cHM6Ly9jbGlja2hvdXNlLmNvbQ'), "
        "tryBase64URLDecode('####')) AS base64url, "
        "concat_ws('|', overlay('Spark SQL', '_', 6), "
        "overlayUTF8('München2024', 'xx', 3)) AS overlays, "
        "concat_ws('|', toString(icebergTruncate(10, 37)), "
        "toString(icebergTruncate(10, -7)), "
        "icebergTruncate(3, 'iceberg')) AS iceberg_truncate, "
        "concat_ws('|', toString(stringBytesUniq('hello')), "
        "toString(stringBytesUniq('é')), "
        "toString(round(stringBytesEntropy('aab'), 6))) AS byte_stats, "
        "concat_ws('|', IPv4NumToStringClassC(3232235777), "
        "toString(countSubstringsCaseInsensitiveUTF8('AbaBa', 'ba')), "
        "toString(multiSearchFirstPositionCaseInsensitive('HeLLo', "
        "['ll', 'xx'])), "
        "toStringCutToZero(concat('ab', chr(0), 'cd'))) AS variants"
    )
