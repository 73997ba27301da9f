"""End-to-end LLM training-corpus pipeline composition (round 11,
VERDICT r10 task #2): every data-pipeline tier chained over ONE flowing
DataFrame the way a real 100 TB corpus build runs them —

    synthesize pages -> C4 line filter -> Gopher quality filter ->
    exact dedup -> MinHash-LSH near-dup (verified) -> exact-substring
    dedup -> Bloom decontaminate (verified) -> DSIR select ->
    token-budget pack -> deterministic epoch shuffle

Each tier is the already-gated operator (operators/text.py,
operators/dedup.py, operators/bloom.py, operators/dsir.py,
operators/sampling.py); what this module adds is the COMPOSITION —
column contracts, persist boundaries, and the planted-artifact
accounting that proves interfaces line up (the failure class
per-operator gates cannot see).

Determinism / oracle design: the two hash-dependent tiers (LSH
banding, Bloom membership) are used the way a production pipeline uses
them — as CANDIDATE generators, each followed by an exact verification
(true shingle Jaccard; exact 8-gram overlap). Since LSH recall at
J >= 0.9 is 1 - (1 - J^4)^16 > 1 - 1e-7 (deterministic for fixed
data + seed; the `dedup_neardup_gate` attests it per-SF) and Bloom
filters have NO false negatives, the verified drop-sets equal the
exact ground truth — so a DuckDB oracle recomputes every stage
value-for-value with no engine hash in sight.

Scale shape (the audit `tests/test_corpus_pipeline.py` pins): no tier
re-joins the corpus against itself on a non-key — the only exchanges
are each tier's own (digest groupBy, band-bucket join, window-digest
groupBy, feature groupBy); drop-sets and selected-sets re-enter via
plain anti-/semi-joins with NO forced hint — AQE broadcasts them when
candidate-bounded (the case here) and falls back to a shuffle
anti-join when the drop-set is a constant fraction of a 100 TB corpus
(a forced broadcast of tens of TB of ids would OOM the driver); the
final pack + shuffle run on the k-bounded DSIR selection, never the
corpus.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ---- planted-artifact constants (the oracle SQL reuses these) --------

#: ids of planted copies live in disjoint ranges so every stage can
#: count survivors per artifact class with a range predicate
EXACT_OFFSET = 10_000_000
NEAR_OFFSET = 20_000_000

#: plant predicates (disjoint residues; both engines compute them)
EXACT_MOD, EXACT_RES = 17, 3
NEAR_MOD, NEAR_RES = 19, 5
NEAR_MIN_WORDS = 80            # big docs -> tail keeps true J >= 0.9
CONTAM_MOD, CONTAM_RES = 23, 7
RUN_MOD, RUN_RES = 37, 11

#: page furniture: raw documents are single unpunctuated lines, so the
#: gate synthesizes C4-shaped pages (the doc_c4_line_filter precedent).
#: The no-punct line exercises the line filter; the stop line keeps
#: Gopher's stopword rule satisfiable on the synthetic vocabulary.
NOPUNCT_LINE = "this line has no terminal punctuation"
STOP_LINE = "and that is the end of it all."
#: contamination sentence (11 words -> four 8-grams); 'zqcontam' exists
#: nowhere in the natural corpus, so exact overlap == planted set
CONTAM_LINE = ("zqcontam alpha bravo charlie delta echo foxtrot golf "
               "hotel india tango.")
#: near-dup tail: one C4-surviving line, 15 chars with its newline —
#: inside the 20-char length blocking band
NEAR_TAIL = "zqnear zo pad."
#: 60-token run shared verbatim by every RUN-planted doc: longer than
#: the L=50 substring-dedup window, so all but the first occurrence
#: lose exactly these tokens
RUN_LINE = " ".join(f"zqrun{i:02d}" for i in range(1, 60)) + " zqrun60."

DSIR_TARGET_SOURCE = "src13"
DSIR_BUCKETS = 1024
DSIR_K = 150
DSIR_SEED = 11
PACK_BUDGET = 60_000
SHUFFLE_SEED = 7
SUBSTR_L = 50


def synthesize_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic pipeline input: one synthetic page per document
    (terminal-punctuated body line + a C4-droppable line + a stopword
    line + optional planted contamination / shared-run lines), plus
    exact-duplicate and near-duplicate copies in disjoint id ranges.
    Pure projections + two filtered unions — both engines rebuild it
    from `documents` alone."""
    page = F.concat(
        F.col("text"), F.lit(".\n"),
        F.lit(NOPUNCT_LINE + "\n"),
        F.lit(STOP_LINE),
        F.when(F.col("doc_id") % CONTAM_MOD == CONTAM_RES,
               F.lit("\n" + CONTAM_LINE)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % RUN_MOD == RUN_RES,
               F.lit("\n" + RUN_LINE)).otherwise(F.lit("")),
    )
    wc_raw = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    base = docs.select(
        "doc_id", page.alias("text"), "lang", "source",
        wc_raw.alias("_wc_raw"),
    )
    cols = ["doc_id", "text", "lang", "source"]
    exact_copies = (
        base.where(F.col("doc_id") % EXACT_MOD == EXACT_RES)
        .select((F.col("doc_id") + EXACT_OFFSET).alias("doc_id"),
                "text", "lang", "source")
    )
    near_copies = (
        base.where((F.col("doc_id") % NEAR_MOD == NEAR_RES)
                   & (F.col("_wc_raw") >= NEAR_MIN_WORDS))
        .select((F.col("doc_id") + NEAR_OFFSET).alias("doc_id"),
                F.concat(F.col("text"), F.lit("\n" + NEAR_TAIL))
                .alias("text"),
                "lang", "source")
    )
    return base.select(*cols).unionByName(exact_copies).unionByName(
        near_copies)


def llm_corpus_pipeline(
    spark: SparkSession, docs: DataFrame
) -> list[tuple[str, DataFrame]]:
    """Run the full composed pipeline; returns the ordered list of
    (stage_name, frame) with every frame materialized (each is read
    twice: by the next tier and by the summary scan). Stage frames carry
    (doc_id, text, lang, source) until the DSIR cut, after which the
    flow is k-bounded."""
    from clickhouse_arrow_spark.operators import bloom, dedup, dsir
    from clickhouse_arrow_spark.operators import text as text_ops
    from clickhouse_arrow_spark.operators.dedup import _shingles
    from clickhouse_arrow_spark.operators.sampling import (
        select_token_budget,
    )

    def keep(df: DataFrame) -> DataFrame:
        # localCheckpoint, not persist: each tier's analyzed plan would
        # embed the full lineage of every tier before it, and with
        # persist the composed plan grew until rendering it failed with
        # java.lang.OutOfMemoryError: UTF16 String size, before
        # execution. Checkpointing materializes the stage once (the
        # summary scan needs it anyway) and restarts the lineage, the
        # same pattern duplicate_survivors uses per CC round.
        return df.localCheckpoint(eager=True)

    stages: list[tuple[str, DataFrame]] = []
    s0 = keep(synthesize_corpus(docs))
    stages.append(("0_input", s0))

    # --- C4 line filter (text := surviving lines) ---------------------
    c4 = text_ops.c4_line_filter(s0, passthrough=("lang", "source"))
    s1 = keep(
        c4.where("page_kept").select(
            "doc_id", F.col("clean_text").alias("text"), "lang", "source"
        )
    )
    stages.append(("1_c4", s1))

    # --- Gopher page-quality filter -----------------------------------
    g = text_ops.gopher_quality_filter(
        s1, passthrough=("text", "lang", "source"))
    s2 = keep(g.where("keep").select("doc_id", "text", "lang", "source"))
    stages.append(("2_gopher", s2))

    # --- exact dedup: flow-preserving form of dedup.dedup_exact -------
    # (identical survivor rule — min id per normalized text — but as a
    # window over the SAME digest exchange, so the corpus keeps flowing
    # without re-joining survivor ids back; see dedup.dedup_exact)
    # 32 raw digest bytes through the exchange, not 64 hex chars —
    # identical partitioning, half the key bytes (guide §2.3; same
    # round-12 narrowing as dedup.dedup_exact)
    digest = F.unhex(F.sha2(dedup._normalize(F.col("text")), 256))
    w_digest = Window.partitionBy(digest)
    s3 = keep(
        s2.withColumn("_min_id", F.min("doc_id").over(w_digest))
        .where(F.col("doc_id") == F.col("_min_id"))
        .drop("_min_id")
    )
    stages.append(("3_exact", s3))

    # --- MinHash-LSH near-dup, exactly verified ------------------------
    # candidates from banding (threshold 0.5 est), verified with TRUE
    # shingle Jaccard under the same (lang, length-band) blocking as
    # dedup.shingle_jaccard_pairs; survivors = min id per connected
    # component. Drop-set re-entry is a plain anti-join: AQE broadcasts
    # it when the set is small (as here, candidate-bounded), and falls
    # back to a shuffle anti-join when near-dups are a constant
    # fraction of a 100 TB corpus — never force the hint
    # (dedup.py duplicate-removal precedent).
    cand = (
        dedup.minhash_candidate_pairs(s3, threshold=0.5)
        .select("a_id", "b_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand.count()  # eager: two consumers (member ids + verify join)
    # Verify-tokenize only candidate MEMBERS (round-12, guide §8 /
    # dedup.minhash_verified_pairs precedent): the previous full-corpus
    # `prof` re-tokenized every surviving document twice — two extra
    # full passes of regex+shingle compute to verify a candidate set
    # orders of magnitude smaller. Semi-join prunes before tokenizing;
    # AQE broadcasts the tiny member-id set unhinted.
    # no .distinct(): LEFT SEMI dedupes its build side (round-13, same
    # change as dedup.minhash_verified_pairs)
    cand_members = cand.select(
        F.explode(F.array("a_id", "b_id")).alias("doc_id")
    )
    prof = s3.join(cand_members, "doc_id", "leftsemi").select(
        "doc_id", F.col("lang").alias("grp"),
        F.length("text").alias("nlen"),
        F.array_distinct(_shingles(F.col("text"), 3)).alias("sh"),
    )
    a = prof.select(F.col("doc_id").alias("a_id"),
                    F.col("grp").alias("a_grp"),
                    F.col("nlen").alias("alen"), F.col("sh").alias("ash"))
    b = prof.select(F.col("doc_id").alias("b_id"),
                    F.col("grp").alias("b_grp"),
                    F.col("nlen").alias("blen"), F.col("sh").alias("bsh"))
    jac = F.size(F.array_intersect("ash", "bsh")) / F.size(
        F.array_union("ash", "bsh"))
    verified = (
        cand.join(a, "a_id").join(b, "b_id")
        .where((F.col("a_grp") == F.col("b_grp"))
               & (F.abs(F.col("alen") - F.col("blen")) <= 20)
               & (jac >= 0.9))
        .select("a_id", "b_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    paired = (
        verified.select(F.col("a_id").alias("doc_id"))
        .unionByName(verified.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    survivors = dedup.duplicate_survivors(paired, verified)
    drop_near = paired.join(survivors, "doc_id", "left_anti")
    s4 = keep(s3.join(drop_near, "doc_id", "left_anti"))
    stages.append(("4_neardup", s4))

    # --- exact-substring dedup (text := cleaned, normalized) ----------
    sd = text_ops.substring_dedup(
        s4, min_tokens=SUBSTR_L, keep_text=True,
        passthrough=("lang", "source"),
    )
    s5 = keep(sd.select("doc_id", F.col("text_clean").alias("text"),
                        "lang", "source"))
    stages.append(("5_substr", s5))

    # --- Bloom decontaminate, exactly verified -------------------------
    # Bloom flags candidates (no false negatives); the exact 8-gram
    # overlap verifies them, so drop = flagged AND exact == exact.
    bench = spark.createDataFrame(
        [(0, CONTAM_LINE)], "bench_id long, text string")
    words = bloom.bloom_build(bench, n=8, m_bits=1 << 18, k=4)
    flagged = (
        bloom.bloom_flag(s5, words, n=8, m_bits=1 << 18, k=4)
        .where("flagged").select("doc_id")
    )
    exact_contam = (
        text_ops.decontaminate(s5, bench, n=8).select("doc_id").distinct()
    )
    drop_contam = flagged.join(exact_contam, "doc_id")
    s6 = keep(s5.join(drop_contam, "doc_id", "left_anti"))
    stages.append(("6_decontam", s6))

    # --- DSIR select (fit on the CURRENT corpus, broadcast weights) ---
    # featurize s6 once for fit + score (raw_features contract;
    # round-12 — same double-featurization fix as doc_dsir_select)
    s6_feats = dsir.hashed_ngram_features(s6, n_buckets=DSIR_BUCKETS).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    s6_feats.count()
    weights = dsir.dsir_fit(
        s6.where(F.col("source") == DSIR_TARGET_SOURCE), s6,
        n_buckets=DSIR_BUCKETS, raw_features=s6_feats,
    )
    scored = dsir.dsir_score(
        s6, weights, n_buckets=DSIR_BUCKETS, raw_features=s6_feats
    )
    sel = dsir.dsir_resample(scored, DSIR_K, DSIR_SEED)
    s7 = keep(
        s6.join(
            sel.select("doc_id", F.round("logw", 6).alias("q")),
            "doc_id",
        )
    )
    stages.append(("7_dsir", s7))

    # --- token-budget pack (k-bounded input) ---------------------------
    toks = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                           lambda w: w != ""))
    s8 = keep(
        select_token_budget(
            s7.withColumn("toks", toks), budget=PACK_BUDGET,
            quality_col="q", token_col="toks",
        )
    )
    stages.append(("8_pack", s8))

    # --- deterministic epoch shuffle -----------------------------------
    s9 = keep(text_ops.epoch_shuffle(s8, seed=SHUFFLE_SEED))
    stages.append(("9_shuffle", s9))
    return stages


def _id_bucket(col):
    """Cross-engine 32-bit id checksum: first 8 md5 hex digits of the
    decimal id string (the dsir-oracle trick)."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 8), 16, 10
    ).cast("bigint")


def stage_summary(stages: list[tuple[str, DataFrame]]) -> DataFrame:
    """One audited row per stage: row/token conservation, per-artifact
    survivor counts, an order-insensitive id checksum, and (for the
    shuffle stage) an ORDER-SENSITIVE digest that pins the final
    permutation."""
    toks = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                           lambda w: w != ""))
    out = None
    for name, df in stages:
        row = df.agg(
            F.count("*").alias("n_rows"),
            F.coalesce(F.sum(toks), F.lit(0)).cast("long").alias("toks"),
            F.count(F.when(
                (F.col("doc_id") >= EXACT_OFFSET)
                & (F.col("doc_id") < NEAR_OFFSET), 1)).alias("exact_alive"),
            F.count(F.when(F.col("doc_id") >= NEAR_OFFSET, 1))
            .alias("near_alive"),
            F.count(F.when(F.col("text").contains("zqcontam"), 1))
            .alias("contam_alive"),
            F.count(F.when(F.col("text").contains("zqrun01"), 1))
            .alias("run_docs"),
            F.coalesce(F.sum(_id_bucket(F.col("doc_id"))), F.lit(0))
            .cast("long").alias("idsum"),
        ).select(F.lit(name).alias("stage"), "*")
        if name == "9_shuffle":
            w = Window.orderBy("shuffle_key", "doc_id")
            digest = (
                df.withColumn("_rn", F.row_number().over(w))
                .agg(F.coalesce(
                    F.sum(F.col("_rn") * _id_bucket(F.col("doc_id"))),
                    F.lit(0)).cast("long").alias("order_digest"))
            )
            row = row.crossJoin(digest)
        else:
            row = row.withColumn("order_digest", F.lit(0).cast("long"))
        out = row if out is None else out.unionByName(row)
    return out
