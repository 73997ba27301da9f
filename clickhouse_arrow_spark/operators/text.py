"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting, charset Jaccard.

All pure built-in expressions (codegen, zero Python in the hot path),
and all deterministic so each has an exact DuckDB oracle in
queries/pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_arrow_spark.operators.dedup import _spread

#: tiny per-language stopword inventories for the n-gram/stopword
#: language-ID heuristic. Deterministic, order = tie-break priority.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "de", "que", "los"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # pinyin-romanized
}


def token_count(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token counts: whitespace tokens and BPE-ish word/number/punct
    pieces (`\\w+` runs or single non-space symbols) — the pre-tokenizer
    regex family GPT-style BPE vocabularies use."""
    t = F.col(text_col)
    ws = F.size(F.split(F.trim(t), r"\s+"))
    bpe = F.size(F.regexp_extract_all(t, F.lit(r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"), F.lit(0)))
    return df.select(
        F.col(id_col),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.length(t).cast("int").alias("n_chars"),
    )


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic document quality in [0,1]: length band, alpha ratio,
    punctuation ratio, stopword presence — the standard cheap pre-filter
    stack (C4/Gopher-style rules) as one projection."""
    t = F.col(text_col)
    n = F.length(t).cast("double")
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).cast("double")
    digits = F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("double")
    n_safe = F.greatest(n, F.lit(1.0))
    stop_hits = F.size(
        F.regexp_extract_all(F.lower(t), F.lit(r"\b(the|and|of|to|in)\b"), F.lit(0))
    ).cast("double")
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    alpha_score = alpha / n_safe
    punct_penalty = F.least(punct / n_safe * 10.0, F.lit(1.0))
    digit_penalty = F.least(digits / n_safe * 10.0, F.lit(1.0))
    stop_score = F.least(stop_hits / F.lit(5.0), F.lit(1.0))
    score = (
        len_score * 0.3
        + alpha_score * 0.3
        + stop_score * 0.2
        + (1 - punct_penalty) * 0.1
        + (1 - digit_penalty) * 0.1
    )
    return df.select(
        F.col(id_col),
        F.round(len_score, 6).alias("len_score"),
        F.round(alpha_score, 6).alias("alpha_ratio"),
        F.round(stop_score, 6).alias("stop_score"),
        F.round(score, 6).alias("quality"),
    )


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-vote language ID. Scores each language by counting its
    stopword hits (word-bounded); the argmax wins, ties broken by
    language-list order. Cheap, deterministic, and embarrassingly
    parallel — the fasttext-class model slots in as a pandas_udf behind
    the same schema when available."""
    t = F.lower(F.col(text_col))
    scores = {
        lang: F.size(
            F.regexp_extract_all(t, F.lit(r"\b(" + "|".join(words) + r")\b"), F.lit(0))
        )
        for lang, words in STOPWORDS.items()
    }
    langs = list(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = None
    for lang in reversed(langs):  # earlier langs win ties -> apply last
        cond = scores[lang] == best
        pred = F.when(cond, F.lit(lang)) if pred is None else F.when(
            cond, F.lit(lang)
        ).otherwise(pred)
    return df.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        best.alias("best_score"),
    )


def rolling_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", mod: int = 1_000_000_007
) -> DataFrame:
    """Polynomial rolling-hash fingerprint over the normalized text:
    acc = (acc*31 + char_code) % mod, seeded with the first char code.
    Engine-agnostic (same value from any engine that folds left-to-right
    — the DuckDB oracle uses list_reduce), unlike xxhash/md5-of-engine
    which would pin us to one implementation."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    codes = F.transform(F.split(norm, ""), lambda c: F.ascii(c).cast("long"))
    fp = F.aggregate(
        F.slice(codes, 2, F.greatest(F.size(codes) - 1, F.lit(0))),
        F.element_at(codes, 1),
        lambda acc, c: (acc * 31 + c) % F.lit(mod),
    )
    return _spread(df, id_col).select(F.col(id_col), fp.alias("fingerprint"))


def doc_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token counts + quality heuristics in ONE projection (the merged
    plan of :func:`token_count` and :func:`quality_score`): at 100 TB a
    second pass over the corpus is the expensive part, not the extra
    columns — profile once, filter many times."""
    t = F.col(text_col)
    ws = F.size(F.split(F.trim(t), r"\s+"))
    bpe = F.size(
        F.regexp_extract_all(t, F.lit(r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"), F.lit(0))
    )
    n = F.length(t).cast("double")
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).cast("double")
    digits = F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("double")
    n_safe = F.greatest(n, F.lit(1.0))
    stop_hits = F.size(
        F.regexp_extract_all(F.lower(t), F.lit(r"\b(the|and|of|to|in)\b"), F.lit(0))
    ).cast("double")
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    alpha_score = alpha / n_safe
    punct_penalty = F.least(punct / n_safe * 10.0, F.lit(1.0))
    digit_penalty = F.least(digits / n_safe * 10.0, F.lit(1.0))
    stop_score = F.least(stop_hits / F.lit(5.0), F.lit(1.0))
    score = (
        len_score * 0.3
        + alpha_score * 0.3
        + stop_score * 0.2
        + (1 - punct_penalty) * 0.1
        + (1 - digit_penalty) * 0.1
    )
    return df.select(
        F.col(id_col),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.length(t).cast("int").alias("n_chars"),
        F.round(len_score, 6).alias("len_score"),
        F.round(alpha_score, 6).alias("alpha_ratio"),
        F.round(stop_score, 6).alias("stop_score"),
        F.round(score, 6).alias("quality"),
    )


def language_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Language ID + rolling-hash fingerprint in one pass (the merged
    plan of :func:`language_id` and :func:`rolling_fingerprint`)."""
    t = F.lower(F.col(text_col))
    scores = {
        lang: F.size(
            F.regexp_extract_all(t, F.lit(r"\b(" + "|".join(words) + r")\b"), F.lit(0))
        )
        for lang, words in STOPWORDS.items()
    }
    langs = list(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = None
    for lang in reversed(langs):  # earlier langs win ties -> apply last
        cond = scores[lang] == best
        pred = F.when(cond, F.lit(lang)) if pred is None else F.when(
            cond, F.lit(lang)
        ).otherwise(pred)
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    codes = F.transform(F.split(norm, ""), lambda c: F.ascii(c).cast("long"))
    fp = F.aggregate(
        F.slice(codes, 2, F.greatest(F.size(codes) - 1, F.lit(0))),
        F.element_at(codes, 1),
        lambda acc, c: (acc * 31 + c) % F.lit(mod),
    )
    return _spread(df, id_col).select(
        F.col(id_col),
        pred.alias("pred_lang"),
        best.alias("best_score"),
        fp.alias("fingerprint"),
    )


#: PII patterns kept to syntax both regex engines (Java util.regex and
#: DuckDB's RE2) interpret identically — character classes, bounded
#: repetition, \b word boundaries; no lookaround.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{3,4}", "<PHONE>"),
}


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact common PII (emails, IPs, international phone formats) —
    the standard pre-training scrub pass, as one projection: per-class
    hit counts plus the redacted text. Zero Python; the regex set is
    RE2-compatible so the DuckDB oracle computes the identical result."""
    t = F.col(text_col)
    counts = {
        name: F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
        for name, (pat, _) in PII_PATTERNS.items()
    }
    scrubbed = t
    for pat, repl in PII_PATTERNS.values():
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select(
        F.col(id_col),
        *[counts[name].alias(f"n_{name}") for name in PII_PATTERNS],
        scrubbed.alias("scrubbed"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window packing step of a training pipeline. One explode per
    document (starts generated with `sequence`, chunk text sliced from
    the token array); no Python, cardinality = ceil(tokens/stride) per
    doc."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(tokens), F.lit(1)), F.lit(stride)
    )
    return (
        df.select(F.col(id_col), tokens.alias("_toks"), starts.alias("_starts"))
        .select(
            F.col(id_col),
            F.posexplode("_starts").alias("chunk_id", "_start"),
            F.col("_toks"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("_start"), chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(
                F.size(F.col("_toks")) - F.col("_start") + 1, F.lit(chunk_tokens)
            ).cast("int").alias("n_tokens"),
        )
    )


def train_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Deterministic train/val/test assignment by CONTENT fingerprint
    (not row id): duplicates land in the same split, re-runs and
    re-shards are stable, and the engine-agnostic rolling hash makes
    the assignment reproducible outside Spark (exact DuckDB oracle).
    Returns (id, bucket 0-99, split)."""
    fp = rolling_fingerprint(df, text_col, id_col)
    bucket = (F.col("fingerprint") % 100).cast("int")
    return fp.select(
        F.col(id_col),
        bucket.alias("bucket"),
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    threshold: float = 0.95,
    length_band: int = 20,
    unit: str = "word",
) -> DataFrame:
    """Exact set-Jaccard near-dup pairs (1-gram tier of n-gram Jaccard
    dedup; the k-gram tier is minhash_candidate_pairs) — oracle-able:
    DuckDB computes the identical rational number.

    Candidate blocking keeps this off the O(n²) cliff: pairs must share
    `group_col` AND sit within `length_band` characters of each other —
    near-dups always do, and the banded join prunes the candidate set by
    orders of magnitude (10k vs 2.3M pairs on the sf0.1 corpus).
    `unit` picks the set element: distinct words (default, far more
    discriminative) or distinct characters."""
    sep = " " if unit == "word" else ""
    tokens = F.array_distinct(F.split(F.lower(F.col(text_col)), sep))
    nlen = F.length(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        nlen.alias("nlen"),
        tokens.alias("toks"),
    )
    # Blocking is IN the join key, not a post-join filter: side a keys on
    # its own length bucket; side b fans out to {bucket-1, bucket,
    # bucket+1}, which covers every pair within `length_band` chars. The
    # shuffle then carries (grp, bucket) groups instead of whole groups.
    bucket = F.floor(F.col("nlen") / F.lit(length_band)).cast("long")
    a = base.select(
        F.col("grp"),
        bucket.alias("bkt"),
        F.col(id_col).alias("a_id"),
        F.col("nlen").alias("a_len"),
        F.col("toks").alias("a_toks"),
    )
    b = base.select(
        F.col("grp"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("bkt"),
        F.col(id_col).alias("b_id"),
        F.col("nlen").alias("b_len"),
        F.col("toks").alias("b_toks"),
    )
    inter = F.size(F.array_intersect(F.col("a_toks"), F.col("b_toks"))).cast("double")
    union = F.size(F.array_union(F.col("a_toks"), F.col("b_toks"))).cast("double")
    return (
        a.join(b, ["grp", "bkt"])
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("a_len") - F.col("b_len")) <= length_band)
        )
        .select(
            "a_id",
            "b_id",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .dropDuplicates(["a_id", "b_id"])
    )


# backwards-compatible alias (pre-rename)
charset_jaccard_pairs = ngram_jaccard_pairs


def _word_ngrams(text_col, n: int):
    """Word n-grams of the normalized text as an array<string> column.
    Exactly max(tokens - n + 1, 0) grams — a doc shorter than n tokens
    yields an EMPTY array (sequence(1, 0) would count DOWN in Spark, so
    the short case is branched explicitly)."""
    tokens = F.split(
        F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " "), " "
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(tokens, i, n), " "),
    )
    return F.when(F.size(tokens) >= n, grams).otherwise(
        F.slice(F.split(F.lit(""), " "), 1, 0)  # empty array<string>
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: find training documents sharing word
    n-grams with an evaluation/benchmark set — the standard
    train/test-contamination scan (n=8..13-gram overlap) run before
    training.

    Returns (id_col, bench_id_col, n_shared): the number of DISTINCT
    n-grams each (document, benchmark item) pair shares, for every pair
    with n_shared >= min_overlap. Callers drop or flag the matched docs.

    Scale shape: the benchmark side is broadcast — eval sets are tiny
    by definition (thousands of items vs billions of docs), so the
    corpus never shuffles for the join; the only exchange is the final
    (doc, bench) overlap count, whose cardinality is bounded by real
    contamination. Distinct-gram explode keeps a doc's repeated phrase
    from inflating its own overlap count.
    """
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(_word_ngrams(F.col(text_col), n))).alias(
            "_gram"
        ),
    )
    bench_grams = F.broadcast(
        bench.select(
            F.col(bench_id_col),
            F.explode(
                F.array_distinct(_word_ngrams(F.col(bench_text_col), n))
            ).alias("_gram"),
        )
    )
    return (
        doc_grams.join(bench_grams, "_gram")
        .groupBy(id_col, bench_id_col)
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_overlap)
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition signals: the share of the
    most frequent word bigram and the duplicate-word fraction — the
    repetition filters that catch boilerplate/spam documents a plain
    length/alpha quality score misses.

    Returns (id_col, n_bigrams, top_bigram_n, top_bigram_share,
    dup_word_frac) for every document with at least one bigram.

    Scale shape: bigrams explode -> count per (doc, bigram) with
    map-side partial aggregation -> max/sum per doc; both exchanges are
    keyed on the doc (uniform), and the per-doc token projection for
    dup_word_frac is shuffle-free, joined back on the doc id.
    """
    tokens = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    bigram_counts = (
        df.select(
            F.col(id_col),
            F.explode(_word_ngrams(F.col(text_col), 2)).alias("_bigram"),
        )
        .groupBy(id_col, "_bigram")
        .agg(F.count("*").alias("_n"))
    )
    per_doc = bigram_counts.groupBy(id_col).agg(
        F.sum("_n").alias("n_bigrams"),
        F.max("_n").alias("top_bigram_n"),
    )
    words = df.select(
        F.col(id_col),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(tokens)).cast("double")
            / F.size(tokens).cast("double")
        ).alias("_dwf"),
    )
    return per_doc.join(words, id_col).select(
        F.col(id_col),
        F.col("n_bigrams"),
        F.col("top_bigram_n"),
        F.round(
            F.col("top_bigram_n").cast("double")
            / F.col("n_bigrams").cast("double"),
            6,
        ).alias("top_bigram_share"),
        F.round(F.col("_dwf"), 6).alias("dup_word_frac"),
    )


def fuzzy_edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    prefix_len: int = 80,
    length_band: int = 20,
    max_distance: int = 20,
) -> DataFrame:
    """Fuzzy near-dup candidate pairs by EDIT DISTANCE — the
    ClickHouse-`editDistance`-powered dedup tier (reference users run
    `editDistance(a, b) < k` joins server-side; SURVEY §2.3).

    Blocking lives in the join key ((group, length band)), exactly like
    ngram_jaccard_pairs; the O(len^2) Levenshtein DP runs only on
    surviving candidates and only over a bounded `prefix_len`-char
    prefix, so per-pair cost is capped at prefix_len^2 regardless of
    document size. Spark's builtin `levenshtein` (JVM codegen) is the
    kernel — no Python. Returns (a_id, b_id, edit_distance,
    jaro_winkler) with the Jaro-Winkler score from the Arrow-batched
    kernel as a secondary signal, computed only for the filtered pairs.
    """
    from clickhouse_arrow_spark.functions.text_distance import (
        jaro_winkler_similarity,
    )

    base = df.select(
        F.col(id_col),
        F.col(group_col).alias("_grp"),
        F.length(text_col).alias("_nlen"),
        F.substring(F.col(text_col), 1, prefix_len).alias("_pfx"),
    )
    # The length band is part of the JOIN KEY, not a post-join filter
    # (round-12, guide §3): keyed on group alone, every within-group
    # pair paid the O(prefix_len²) Levenshtein DP before the band
    # filter could drop it — O(n²/groups) kernel calls. With band id
    # floor(len/length_band) in the key (a-side exploded to band±1,
    # which exactly covers |Δlen| <= length_band; b's band is unique so
    # no pair matches twice), the DP runs only on band-neighborhood
    # candidates. The exact |Δlen| filter below is unchanged, so the
    # pair set is identical. 31.9 s -> see OPTIMIZATION_r12.md.
    if length_band < 1:
        # floor(len/0) yields NULL band keys (non-ANSI division), which
        # would silently drop EVERY pair; the pre-band formulation
        # degraded gracefully to exact-length matching (round-13,
        # ADVICE r12)
        raise ValueError(f"length_band must be >= 1, got {length_band}")
    base = _spread(base, id_col)
    bnd = F.floor(F.col("_nlen") / F.lit(length_band))
    a = base.select(
        F.col(id_col).alias("a_id"), "_grp",
        F.col("_nlen").alias("_alen"), F.col("_pfx").alias("_apfx"),
        F.explode(F.array(bnd - 1, bnd, bnd + 1)).alias("_band"),
    )
    b = base.select(
        F.col(id_col).alias("b_id"), "_grp",
        F.col("_nlen").alias("_blen"), F.col("_pfx").alias("_bpfx"),
        bnd.alias("_band"),
    )
    pairs = (
        a.join(b, ["_grp", "_band"])
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("_alen") - F.col("_blen")) <= length_band)
        )
        .withColumn("edit_distance", F.levenshtein("_apfx", "_bpfx"))
        .where(F.col("edit_distance") <= max_distance)
    )
    return pairs.select(
        "a_id",
        "b_id",
        "edit_distance",
        F.round(jaro_winkler_similarity(F.col("_apfx"), F.col("_bpfx")), 6).alias(
            "jaro_winkler"
        ),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Corpus-self-trained bigram log-probability per document — the
    cheap KenLM-style perplexity proxy quality filters use (documents
    whose word transitions are improbable under the corpus's own
    bigram statistics score low: boilerplate, gibberish, wrong-language
    text).

    Model: P(w2|w1) = (count(w1 w2)) / count(w1 ·) with stupid-backoff
    ``alpha * count(w2)/total`` for unseen bigrams; the score is the
    mean natural-log probability over a document's bigrams (documents
    with fewer than two tokens have no bigrams and are omitted).

    Scale: two shuffles, both on uniform token keys — a bigram-count
    aggregation (map-side combined; vocabulary ≪ corpus) and the
    score join; the count tables are far smaller than the corpus and
    broadcast under AQE for natural-language vocabularies. No Python
    anywhere.
    """
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda w: w != "",
    )
    toks = df.select(
        F.col(id_col),
        F.posexplode(words).alias("pos", "w"),
    )
    # bigram per (doc, pos): (w1, w2) via a keyed window is one exchange
    from pyspark.sql.window import Window as _W

    nxt = F.lead("w").over(_W.partitionBy(id_col).orderBy("pos"))
    bigrams = toks.select(
        F.col(id_col), F.col("w").alias("w1"), nxt.alias("w2")
    ).where(F.col("w2").isNotNull())

    big_counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni_counts = bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    # unigram backoff distribution over SECOND words (same support as w2)
    w2_counts = bigrams.groupBy("w2").agg(F.count("*").alias("c2"))
    total = bigrams.count()

    scored = (
        bigrams.join(big_counts, ["w1", "w2"], "left")
        .join(uni_counts, "w1", "left")
        .join(w2_counts, "w2", "left")
        .select(
            F.col(id_col),
            F.when(
                F.col("c12").isNotNull(),
                F.log(F.col("c12") / F.col("c1")),
            )
            .otherwise(F.log(F.lit(alpha) * F.col("c2") / F.lit(float(total))))
            .alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
        F.count("*").alias("n_bigrams"),
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
) -> DataFrame:
    """C4-style span-level deduplication: documents are cut into
    consecutive non-overlapping ``span_words``-word spans and every
    repeated span keeps only its FIRST occurrence (ordered by
    (doc_id, span_pos)) — the cross-document boilerplate filter that
    document-level dedup misses (headers, footers, license blocks).

    Returns one row per span: (doc_id, span_pos, n_words, kept). The
    caller reassembles cleaned text from kept spans (a groupBy(id) +
    concat_ws, kept relational on purpose — the span table is the
    reusable artifact).

    Scale: one explode (spans ≈ words/span_words per doc) and one
    exchange keyed on the span digest (sha2 — uniform, skew-proof);
    the first-occurrence argmin is a map-side-combined min-struct
    aggregation, never a window over the full span table.
    """
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda w: w != "",
    )
    n_spans = F.ceil(F.size(words) / F.lit(span_words)).cast("int")
    # sequence(0, -1) yields [0, -1] (descending) — an empty/whitespace
    # document must contribute ZERO spans, not two phantom ones
    span_texts = F.when(
        n_spans > 0,
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.array_join(
                F.slice(words, i * span_words + 1, span_words), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = df.select(
        F.col(id_col),
        F.posexplode(span_texts).alias("span_pos", "_span"),
    ).select(
        id_col,
        "span_pos",
        F.size(F.split(F.col("_span"), " ")).alias("n_words"),
        F.sha2(F.col("_span"), 256).alias("_digest"),
    )
    first = spans.groupBy("_digest").agg(
        F.min(F.struct(F.col(id_col), F.col("span_pos"))).alias("_first")
    )
    return (
        spans.join(first, "_digest")
        .select(
            id_col,
            "span_pos",
            "n_words",
            (
                (F.col(f"_first.{id_col}") == F.col(id_col))
                & (F.col("_first.span_pos") == F.col("span_pos"))
            ).alias("kept"),
        )
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    keep_text: bool = True,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Exact-substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", §4.1 ExactSubstr):
    every substring of >= ``min_tokens`` tokens that occurs more than
    once across the corpus is removed from all but its first
    occurrence. The paper builds one suffix array over the whole
    corpus; the distributed reformulation rests on the identity that
    a duplicated run of >= L tokens exists iff some L-token sliding
    window is duplicated, and the full run is the union of its
    overlapping duplicated windows:

    1. slide an L-token window (stride 1) over each document and
       digest it (md5 of the space-joined tokens — portable, so the
       DuckDB oracle reproduces it bit-for-bit);
    2. a digest seen >= 2 times is duplicated; the occurrence with the
       global minimum (doc, pos) key survives, every other occurrence
       marks its token range [pos, pos+L) for removal;
    3. per document, overlapping/adjacent marked ranges merge with a
       gaps-and-islands pass (lag + running island id), giving the
       maximal duplicated regions — exactly the suffix-array answer;
    4. optionally reassemble the cleaned text by filtering token
       indexes against the merged intervals.

    Returns (id, n_tokens, n_removed [, text_clean] [, *passthrough]) —
    ``passthrough`` names extra input columns carried onto the output
    unchanged (rides the existing per-doc frame; no extra join), so a
    composed pipeline keeps e.g. lang/source flowing (round-11 e2e
    composition gate).

    Scale: the window explode is the only size amplification
    (~n_tokens rows/doc, each a fixed 16-byte digest + two longs);
    the duplicate test is a map-side-combined count over the digest
    exchange; interval merge is one keyed window over MARKED rows only
    (duplicated positions, typically a tiny fraction); no all-pairs
    term anywhere. Window hashing is O(n_tokens * L) char work inside
    whole-stage codegen — the constant the suffix array avoids, paid
    here to stay shuffle-bounded and embarrassingly parallel.
    """
    L = int(min_tokens)
    id_type = dict(df.dtypes).get(id_col, "")
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"substring_dedup: id column {id_col!r} must be integral "
            f"(got {id_type}) — the first-occurrence order is a single "
            "monotone long key; map string ids to xxhash64 first if "
            "first-occurrence choice may be arbitrary"
        )
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda w: w != "",
    )
    pt = [F.col(c) for c in passthrough]
    toks = df.select(F.col(id_col), words.alias("_toks"), *pt).select(
        id_col, "_toks", F.size("_toks").alias("n_tokens"), *passthrough
    )
    # guard: sequence(0, n-L) DESCENDS when n < L — emit zero windows
    starts = F.when(
        F.col("n_tokens") >= L,
        F.sequence(F.lit(0), F.col("n_tokens") - L),
    ).otherwise(F.array().cast("array<int>"))
    wins = toks.select(
        id_col,
        F.explode(starts).alias("pos"),
        F.col("_toks"),
    ).select(
        id_col,
        "pos",
        F.md5(
            F.array_join(F.slice("_toks", F.col("pos") + 1, L), " ")
        ).alias("_digest"),
    )
    # first-occurrence key: one monotone long (pos < 2^20 tokens/doc
    # assumed — guarded), ordering identical in Spark and the oracle
    key = (F.col(id_col).cast("long") * F.lit(1 << 20)
           + F.col("pos")).alias("_key")
    wins = wins.select(id_col, "pos", "_digest", key)
    # duplicate test as ONE digest-partitioned window instead of
    # groupBy + self-join (round-12): the join formulation computed the
    # O(n_tokens * L) md5 window pass TWICE (once into the aggregation,
    # once into the join probe side) and shuffled the window table
    # twice — mostly-unique digests mean the partial aggregation
    # shrinks nothing map-side. The window form pays one md5 pass and
    # one exchange; digest groups are tiny (dup counts), so the
    # window's per-group buffer is bounded.
    from pyspark.sql.window import Window

    w_dig = Window.partitionBy("_digest")
    marked = (
        wins.withColumn("_cnt", F.count("*").over(w_dig))
        .withColumn("_first_key", F.min("_key").over(w_dig))
        .where((F.col("_cnt") >= 2) & (F.col("_key") > F.col("_first_key")))
        .select(id_col, "pos")
    )
    # gaps-and-islands over marked positions (equal interval length L:
    # a strict gap needs pos > prev + L)

    w_doc = Window.partitionBy(id_col).orderBy("pos")
    isl = marked.withColumn(
        "_brk",
        F.when(
            F.col("pos") > F.lag("pos").over(w_doc) + L, 1
        ).otherwise(0),
    ).withColumn("_isl", F.sum("_brk").over(w_doc))
    intervals = isl.groupBy(id_col, "_isl").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + L).alias("e"),
    )
    per_doc = intervals.groupBy(id_col).agg(
        F.sum(F.col("e") - F.col("s")).alias("n_removed"),
        F.collect_list(F.struct("s", "e")).alias("_ivs"),
    )
    out = toks.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        "_toks",
        F.coalesce(
            "_ivs", F.array().cast("array<struct<s:long,e:long>>")
        ).alias("_ivs"),
        *passthrough,
    )
    if not keep_text:
        return out.select(id_col, "n_tokens", "n_removed", *passthrough)
    kept = F.filter(
        F.transform(
            F.col("_toks"),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda s: ~F.exists(
            F.col("_ivs"),
            lambda iv: (s["i"] >= iv["s"]) & (s["i"] < iv["e"]),
        ),
    )
    return out.select(
        id_col,
        "n_tokens",
        "n_removed",
        F.array_join(
            F.transform(kept, lambda s: s["t"]), " "
        ).alias("text_clean"),
        *passthrough,
    )


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, §A1.1 — the published
    heuristic battery most open-data pipelines reuse) as ONE projection:

    - word count in [50, 100_000]
    - mean word length in [3, 10]
    - symbol-to-word ratio (# and ...) <= 0.1
    - < 90% of lines start with a bullet, < 30% end with an ellipsis
    - >= 80% of words contain at least one alphabetic character
    - >= 2 of the 8 required English stop words present

    Returns the per-rule booleans plus the conjunction (`keep`) so a
    pipeline can both filter and audit which rule fired;
    ``passthrough`` names extra input columns carried through
    unchanged (e.g. the text itself, for a composed pipeline). Pure built-in
    expressions — codegen end-to-end, exact DuckDB oracle.
    """
    t = F.col(text_col)
    words = F.split(F.trim(t), r"\s+")
    wc = F.size(words).cast("double")
    wc_safe = F.greatest(wc, F.lit(1.0))
    nonspace = F.length(F.regexp_replace(t, r"\s+", "")).cast("double")
    mean_wl = nonspace / wc_safe
    hashes = (
        F.length(t) - F.length(F.regexp_replace(t, r"#", ""))
    ).cast("double")
    ellipses = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    ).cast("double")
    sym_ratio = (hashes + ellipses) / wc_safe
    lines = F.split(t, r"\n")
    nl = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = (
        F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]"))) / nl
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda x: x.rlike(r"\.\.\.\s*$"))) / nl
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / wc_safe
    )
    low = F.lower(t)
    stop_hits = sum(
        F.when(low.rlike(rf"\b{w}\b"), 1).otherwise(0)
        for w in ("the", "be", "to", "of", "and", "that", "have", "with")
    )
    rules = {
        "wc_ok": (wc >= 50) & (wc <= 100_000),
        "word_len_ok": (mean_wl >= 3) & (mean_wl <= 10),
        "symbol_ok": sym_ratio <= 0.1,
        "bullet_ok": bullet_frac < 0.9,
        "ellipsis_ok": ellipsis_frac < 0.3,
        "alpha_ok": alpha_frac >= 0.8,
        "stopword_ok": stop_hits >= 2,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return df.select(
        F.col(id_col),
        wc.cast("int").alias("word_count"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.cast("int").alias("stop_hits"),
        *[v.alias(k) for k, v in rules.items()],
        keep.alias("keep"),
        *[F.col(c) for c in passthrough],
    )


def epoch_shuffle(
    df: DataFrame,
    seed: int,
    id_col: str = "doc_id",
    fast: bool = False,
) -> DataFrame:
    """Deterministic global shuffle for one training epoch: order the
    corpus by a keyed hash of (id, seed). Same seed -> same permutation
    on any cluster size; a new seed is a fresh permutation.

    Scale: the sort is Spark's ordinary range-partitioned global sort —
    no single-task collapse; a training writer consumes the sorted
    iterator per partition. `fast=True` keys on xxhash64 (cheaper,
    Spark-specific); the default md5 key is cross-engine reproducible
    (the DuckDB oracle recomputes it bit-for-bit).
    """
    sk = (
        F.xxhash64(F.col(id_col), F.lit(seed))
        if fast
        else F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                               F.lit(str(seed))))
    )
    return df.withColumn("shuffle_key", sk).orderBy("shuffle_key", id_col)


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 3,
    min_kept_lines: int = 1,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """The C4 line-level cleaning rules (Raffel et al. 2020, the
    'Colossal Clean Crawled Corpus' heuristics) as ONE projection —
    the per-line complement of the page-level Gopher rules:

    - keep only lines that END IN TERMINAL PUNCTUATION (. ! ? or a
      closing quote after one);
    - keep only lines with at least `min_line_words` words;
    - drop any line containing the word 'javascript' (case-insensitive);
    - drop the WHOLE page when it contains 'lorem ipsum' or a '{'
      (code/boilerplate tell), or when fewer than `min_kept_lines`
      lines survive.

    Returns (id, clean_text, kept_lines, total_lines, page_kept
    [, *passthrough]) — cleaned text is the surviving lines re-joined
    with newlines; the caller filters on page_kept; ``passthrough``
    names extra input columns carried through unchanged. All array/lambda expressions are
    JVM-side (split/filter/array_join inside whole-stage codegen): no
    UDF, no shuffle, linear in corpus bytes — the 100 TB shape is one
    scan.
    """
    lines = F.split(F.col(text_col), r"\n")
    line_ok = lambda ln: (  # noqa: E731
        ln.rlike(r"[.!?]['\"’”]?\s*$")
        & (F.size(F.filter(F.split(F.trim(ln), r"\s+"),
                           lambda w: w != F.lit(""))) >= min_line_words)
        & ~F.lower(ln).rlike(r"\bjavascript\b")
    )
    kept = F.filter(lines, line_ok)
    low = F.lower(F.col(text_col))
    page_ok = (
        ~low.contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
        & (F.size(kept) >= min_kept_lines)
    )
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(kept).cast("int").alias("kept_lines"),
        F.size(lines).cast("int").alias("total_lines"),
        page_ok.alias("page_kept"),
        *[F.col(c) for c in passthrough],
    )
