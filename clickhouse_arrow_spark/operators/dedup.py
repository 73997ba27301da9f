"""Deduplication operators for LLM training-data pipelines.

Four tiers, all shuffle-disciplined for 100 TB:

1. **Exact** — hash-groupBy on a content digest. One shuffle keyed by a
   256-bit hash (uniform, no skew), combiner-friendly.
2. **MinHash + LSH** — shingle -> minhash signature -> band -> bucket
   join. The candidate join is on band-bucket keys (b small integers),
   never all-pairs; cost is O(candidates), not O(n²).
3. **SimHash** — 64-bit fingerprint via bitwise token-hash voting;
   near-dups differ in few bits. Entirely built-in expressions.
4. **Embedding near-dup** — see operators/similarity.py.

Everything below is pure `pyspark.sql.functions` (whole-stage codegen,
no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Prime modulus for the minhash affine permutation family
# h_i(x) = (A_i * x + B_i) mod P — standard universal hashing construction.
# P = 2^31 - 1 keeps A*x < 2^62, inside signed-64 range: Spark 4 runs ANSI
# mode by default, where bigint overflow raises instead of wrapping.
_P = (1 << 31) - 1


def _normalize(text_col) -> "F.Column":
    """Canonical text form for dedup: lowercase, collapsed whitespace."""
    return F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")


def _spread(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition to the session parallelism P before compute-heavy
    work, ONLY when `df` has fewer than P splits; otherwise return `df`
    itself. A small corpus often arrives as one parquet file, i.e. one
    partition, which would run every per-row fold on one core; at real
    scale the scan already has more splits and this is a no-op, so the
    corpus is never shuffled just to spread it.

    With `key` the repartition hashes on it, so per-key work downstream
    stays co-located; without, it is round-robin.

    The split count is `df.rdd.getNumPartitions()`. On a frame read
    straight from a scan it runs no job; if an exchange sits below
    `df`, the call runs that shuffle as an eager job during plan build.
    (The cheaper `queryExecution().sparkPlan()` count is taken before
    exchanges are planned, so it under-reports and would change the
    decision.)"""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p) if key is None else df.repartition(p, key)


# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per distinct (normalized) text.

    Plan shape: project(digest) -> partial min -> exchange on digest ->
    final min. The shuffle key is sha2(text) so hot texts cannot skew a
    partition beyond their group row (min combines map-side).
    Returns (id_col, n_copies) for every survivor.

    The digest shuffles as 32 raw bytes (unhex), not the 64-char hex
    string sha2() renders — identical grouping (unhex is injective on
    hex), half the key bytes through the exchange (guide §2.3).
    """
    digest = F.unhex(F.sha2(_normalize(F.col(text_col)), 256))
    return (
        df.select(F.col(id_col), digest.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


# ---------------------------------------------------------------------------
# 2. MinHash + LSH
# ---------------------------------------------------------------------------


def _shingles(text_col, k: int) -> "F.Column":
    """Word k-shingles (k-grams of whitespace tokens) as an array column —
    the standard unit for document-level MinHash dedup: ~|words| shingles
    per doc instead of ~|chars| for character shingles, an order of
    magnitude less hashing at identical near-dup behavior for prose.
    Built-in only: split + sequence + transform + slice."""
    tokens = F.split(_normalize(text_col), " ")
    n = F.size(tokens)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(tokens, i, k), " "),
    )
    return grams


def _qident(name: str) -> str:
    """Backtick-quote a column NAME for splicing into generated SQL
    (round-13, ADVICE r12): names with spaces, dots or reserved words
    that work via F.col() would otherwise fail to parse or resolve the
    wrong column inside the expr-string constructors."""
    return "`" + name.replace("`", "``") + "`"


def _normalize_sql(text_expr: str) -> str:
    """SQL-string form of :func:`_normalize` (round-12 expr-ification)."""
    return rf"regexp_replace(lower(trim({text_expr})), '\\s+', ' ')"


def _shingles_sql(text_expr: str, k: int) -> str:
    """SQL-string form of :func:`_shingles` over a column NAME — one
    py4j round trip via F.expr instead of ~15 Column-builder calls per
    plan construction (round-12; parses to the identical tree)."""
    toks = f"split({_normalize_sql(text_expr)}, ' ')"
    return (
        f"transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)), "
        f"i -> array_join(slice({toks}, i, {k}), ' '))"
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signature (array<bigint> of length
    `num_hashes`).

    Base shingle hashes come from xxhash64 (one pass); the i-th minhash
    applies an affine permutation (A_i*h + B_i) mod P and takes the
    array min — no explode, no shuffle: one projection per row.
    """
    import random

    rng = random.Random(seed)
    coeffs = [
        (rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)
    ]
    # Explode distinct shingle hashes to rows, then take the 64 permuted
    # mins as aggregates. Two wins over a nested-expression formulation:
    # the base hash is computed once (CollapseProject would otherwise
    # inline it into all 64 permutations), and the mins combine map-side,
    # so the shuffle carries one 64-long row per (partition, doc).
    exploded = _spread(df, id_col).select(
        F.col(id_col),
        F.expr(
            f"explode(array_distinct(transform("
            f"{_shingles_sql(_qident(text_col), shingle_k)}, "
            f"s -> abs(xxhash64(s)) % {_P}L))) AS h"
        ),
    )
    # ONE expr() string for the whole signature instead of 64 separate
    # Column builds (round-12, guide §4's boundary lesson applied to
    # PLAN CONSTRUCTION): each F.min((col*lit+lit)%lit) costs ~6 py4j
    # round trips, and this constructor runs on every fresh plan build
    # — ~400 round trips ≈ 0.5-1 s of driver time per repeat query at
    # any scale. A single SQL string is one round trip; the parsed
    # expression tree (and the signature VALUES) are identical.
    sig_expr = F.expr(
        "array(" + ",".join(
            f"min((h * {a}L + {b}L) % {_P}L)" for a, b in coeffs
        ) + ") AS signature"
    )
    return exploded.groupBy(id_col).agg(sig_expr)


def shingle_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    shingle_k: int = 3,
    threshold: float = 0.9,
    length_band: int = 20,
) -> DataFrame:
    """EXACT shingle-set Jaccard pairs under (group, length-band)
    blocking — the deterministic ground truth the MinHash tier's recall
    is gated against (corpus `dedup_neardup_gate`).

    Uses the SAME shingling as :func:`minhash_signatures` (word
    k-grams over normalized text), but computes true set Jaccard with
    array_intersect/array_union instead of estimating it — pure
    integer/array built-ins, so a SQL oracle reproduces it exactly.
    Blocking lives in the join key; at scale this is the candidate
    verification pass, never an all-pairs scan."""
    base = _spread(df, id_col).select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        F.length(text_col).alias("nlen"),
        F.expr(
            f"array_distinct({_shingles_sql(_qident(text_col), shingle_k)}) AS sh"
        ),
    )
    # Length band in the JOIN KEY, not a post-join filter (round-12,
    # same fix as text.fuzzy_edit_distance_pairs): keyed on group
    # alone, the join degenerates to one task per language and every
    # within-group pair pays the shingle-set intersect/union before the
    # band filter drops it. Band id floor(nlen/length_band) with the
    # a-side exploded to band±1 exactly covers |Δlen| <= length_band
    # (b's band is unique, so no pair matches twice); the exact filter
    # below keeps the pair set identical.
    if length_band < 1:
        # floor(len/0) -> NULL band keys would silently drop every pair
        # (round-13, ADVICE r12; same guard as fuzzy_edit_distance_pairs)
        raise ValueError(f"length_band must be >= 1, got {length_band}")
    bnd = F.floor(F.col("nlen") / F.lit(length_band))
    a = base.select(
        F.col(id_col).alias("a_id"), "grp",
        F.col("nlen").alias("alen"), F.col("sh").alias("ash"),
        F.explode(F.array(bnd - 1, bnd, bnd + 1)).alias("band"),
    )
    b = base.select(
        F.col(id_col).alias("b_id"), "grp",
        F.col("nlen").alias("blen"), F.col("sh").alias("bsh"),
        bnd.alias("band"),
    )
    jac = F.expr(
        "size(array_intersect(ash, bsh)) / size(array_union(ash, bsh)) "
        "AS jaccard"
    )
    return (
        a.join(b, ["grp", "band"])
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("alen") - F.col("blen")) <= length_band)
        )
        .select("a_id", "b_id", jac)
        .where(F.col("jaccard") >= threshold)
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs via LSH banding over MinHash signatures.

    Pipeline (each stage partition-parallel):
      signatures -> explode into `bands` band-keys (hash of the band's
      signature slice) -> self-join on (band, band_hash) buckets ->
      distinct candidate pairs -> estimate Jaccard as the fraction of
      matching signature positions -> filter >= threshold.

    Scale: the only shuffles are (a) the bucket join keyed by band
    hashes — collision buckets are tiny by construction — and (b) a
    distinct on (a_id, b_id). A degenerate hot bucket (e.g. empty
    strings) is bounded by `spark.sql.adaptive.skewJoin` splitting.

    Returns (a_id, b_id, est_jaccard), a_id < b_id.
    """
    rows = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, seed)
    # The signature table is read four times (band join both sides +
    # two re-attach joins); persisting it trades one in-memory copy for
    # both the recompute AND a signature-wide bucket shuffle — band
    # entries below carry only (band, band_hash, id), ~20x narrower than
    # shipping the 64-long signature per band row. Materialize the cache
    # EAGERLY: the band join's two branches scan `sigs` concurrently, and
    # a lazily-populated cache would let both branches compute the full
    # signature pipeline in parallel (double the CPU of the most
    # expensive stage — real money on a busy cluster, even though an
    # idle local run hides it in wall-clock).
    # MEMORY_AND_DISK, not the MEMORY-only default: at 100 TB the
    # signature table exceeds executor RAM and a memory-only persist
    # silently evicts — bringing the recompute storm back. Disk spill
    # keeps the single-compute guarantee with graceful degradation.
    from pyspark import StorageLevel

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    sigs.count()

    # single expr() string for the 16 band structs — one py4j round
    # trip instead of ~7 per band on every plan build (round-12; see
    # minhash_signatures)
    band_entries = sigs.select(
        F.col(id_col),
        F.expr(
            "explode(array(" + ",".join(
                f"struct({b} AS band, xxhash64(cast(slice(signature, "
                f"{b * rows + 1}, {rows}) AS string)) AS band_hash)"
                for b in range(bands)
            ) + ")) AS bk"
        ),
    ).select(id_col, "bk.band", "bk.band_hash")

    left = band_entries.select(
        F.col("band"), F.col("band_hash"), F.col(id_col).alias("a_id")
    )
    right = band_entries.select(
        F.col("band"), F.col("band_hash"), F.col(id_col).alias("b_id")
    )
    pair_ids = (
        left.join(right, ["band", "band_hash"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    # candidate set is collision-bounded (tiny vs the corpus): re-attach
    # both signatures with two keyed joins against the persisted table
    pairs = (
        pair_ids.join(
            sigs.select(
                F.col(id_col).alias("a_id"), F.col("signature").alias("a_sig")
            ),
            "a_id",
        )
        .join(
            sigs.select(
                F.col(id_col).alias("b_id"), F.col("signature").alias("b_sig")
            ),
            "b_id",
        )
    )
    # one expr() round trip for the position-match fold (round-12; the
    # SQL lambda parses to the identical zip_with/aggregate tree)
    est = F.expr(
        "round(cast(aggregate(zip_with(a_sig, b_sig, "
        "(a, b) -> cast(a = b AS int)), 0, (acc, x) -> acc + x) "
        f"AS double) / {float(num_hashes)}, 6) AS est_jaccard"
    )
    return (
        pairs.select("a_id", "b_id", est)
        .where(F.col("est_jaccard") >= threshold)
    )


def minhash_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    est_threshold: float = 0.5,
    verify_threshold: float = 0.9,
    shingle_k: int = 3,
    length_band: int = 20,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH as a CANDIDATE GENERATOR + exact Jaccard verification
    (the e2e pipeline's tier-4 shape as a standalone operator).

    LSH banding proposes pairs (est Jaccard >= ``est_threshold``); each
    candidate is then verified with TRUE shingle-set Jaccard under the
    same (group, length-band) blocking as :func:`shingle_jaccard_pairs`
    and survives only at >= ``verify_threshold``. The result carries NO
    engine hash, so a cross-engine oracle can recompute it value-for-
    value from the Jaccard definition; at J >= 0.9 a 16-band/4-row LSH
    miss has probability (1-J^4)^16 < 1e-7, deterministic for fixed
    data + seed (the recall superset `dedup_neardup_gate` pins).

    Scale: verification touches only the collision-bounded candidate
    set — the corpus is semi-join-pruned to candidate MEMBERS before
    any verification tokenization happens (one full tokenize pass for
    the signatures, candidate-members-only for the verify), then two
    keyed joins re-attach the member profiles; never an all-pairs scan.
    Returns (a_id, b_id, jaccard), a_id < b_id.
    """
    from pyspark import StorageLevel

    cand = minhash_candidate_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_k,
        est_threshold, seed,
    ).select("a_id", "b_id")
    # The candidate set feeds TWO consumers (the member-id semi-join
    # below and the final verify join); persist it eagerly so the band
    # join + distinct + est-filter pipeline runs once, not per consumer.
    # It is collision-bounded (tiny vs the corpus) so the materialized
    # footprint is negligible at any scale.
    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    cand.count()
    # Verification needs shingle profiles ONLY for documents that appear
    # in some candidate pair (guide-§8 shape: decide with small rows —
    # the signatures — then do the heavy per-document work only for the
    # survivors). The previous formulation re-tokenized the ENTIRE
    # corpus twice (once per join side); at 100 TB that is two full
    # extra passes of regex+split+shingle compute to verify a candidate
    # set that is orders of magnitude smaller. A semi-join keyed on the
    # member ids (AQE broadcasts the tiny id set — no hint, the
    # dedup.py:568 left_anti precedent) prunes the corpus BEFORE any
    # tokenization happens, then the profile projection runs on
    # candidate members only.
    # no .distinct() on the member ids (round-13): a LEFT SEMI join
    # already dedupes its build side — the distinct only added an
    # exchange + two aggregates to every plan build for a set AQE
    # broadcasts either way
    members = cand.select(
        F.explode(F.array("a_id", "b_id")).alias(id_col)
    )
    prof = (
        df.join(members, id_col, "leftsemi")
        .select(
            F.col(id_col),
            F.col(group_col).alias("grp"),
            F.length(text_col).alias("nlen"),
            F.expr(
                f"array_distinct({_shingles_sql(_qident(text_col), shingle_k)}) AS sh"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = prof.select(
        F.col(id_col).alias("a_id"), F.col("grp").alias("a_grp"),
        F.col("nlen").alias("alen"), F.col("sh").alias("ash"),
    )
    b = prof.select(
        F.col(id_col).alias("b_id"), F.col("grp").alias("b_grp"),
        F.col("nlen").alias("blen"), F.col("sh").alias("bsh"),
    )
    jac = F.expr(
        "round(size(array_intersect(ash, bsh)) / "
        "size(array_union(ash, bsh)), 6) AS jaccard"
    )
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .where(
            (F.col("a_grp") == F.col("b_grp"))
            & (F.abs(F.col("alen") - F.col("blen")) <= length_band)
        )
        .select("a_id", "b_id", jac)
        .where(F.col("jaccard") >= verify_threshold)
    )


def duplicate_survivors(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iters: int = 20,
) -> DataFrame:
    """Connected-component survivor selection over near-dup pairs: keep
    exactly one document (the minimum id) per duplicate component —
    the step that turns a candidate-pair list into an actual
    deduplicated corpus. Transitive: a~b, b~c keeps only min(a,b,c)
    even though (a,c) was never emitted as a pair.

    Spark-first iterative min-label propagation: every node starts
    labeled with itself; each round joins labels across the undirected
    edge list and keeps the component-minimum seen so far. Rounds
    needed = graph diameter (near-dup components are tiny cliques, so
    2-3); the loop runs driver-side with one `isEmpty` convergence
    action per round, state stays in DataFrames. This is the standard
    large-scale CC pattern (the alternative — union-find — is
    inherently sequential).
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
    )
    labels = ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    for _ in range(max_iters):
        # label each node with the min of its own and its neighbors' labels
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
        )
        updated = updated.localCheckpoint(eager=True)  # cut lineage per round
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), F.col("u.node") == F.col("l.node"))
            .where(F.col("u.label") != F.col("l.label"))
        )
        converged = changed.isEmpty()
        labels = updated
        if converged:
            break
    return labels.where(F.col("node") == F.col("label")).select(
        F.col("node").alias(id_col)
    )


# ---------------------------------------------------------------------------
# 3. SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document.

    Tokens are whitespace words of the normalized text; each token votes
    ±1 on each of 64 bit positions according to its xxhash64 bits; the
    fingerprint sets bit i iff the vote sum is positive. Near-duplicate
    texts land within small Hamming distance.

    Implementation is one projection (transform + aggregate over the
    token array) — no explode, no shuffle, fully codegen'd.
    """
    # ONE expr() string for all 64 bit votes (round-12; each bit_vote
    # Column build cost ~10 py4j round trips — the LSH signature
    # lesson). The parsed tree is identical to the old builder-chain:
    # 64 aggregate folds OR'd together; shiftleft(1L, 63) wraps into
    # the sign bit deliberately (bitwise, no ANSI overflow check).
    hashes_sql = (
        f"transform(split({_normalize_sql(_qident(text_col))}, ' '), "
        "t -> xxhash64(t))"
    )
    bits = [
        f"(CASE WHEN aggregate({hashes_sql}, 0, (acc, h) -> acc + "
        f"(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN shiftleft(1L, {i}) ELSE 0L END)"
        for i in range(64)
    ]
    return _spread(df, id_col).select(
        F.col(id_col), F.expr(" | ".join(bits) + " AS simhash")
    )


def simhash_fingerprints_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash as two 32-bit halves, built on md5 token hashes.

    Same Charikar construction as :func:`simhash_fingerprints`, but the
    per-token hash is md5-derived (hex slices 1-8 / 9-16 parsed as two
    32-bit words) instead of xxhash64 — md5 is implemented by BOTH
    engines, so a DuckDB oracle recomputes the fingerprints, and
    therefore the near-dup pair set, value-for-value (round-12
    rows-only upgrade). Halves live in non-negative BIGINTs: no
    sign-bit traps on shifts or cross-engine integer comparisons.
    xxhash64 stays the 100 TB default (one JVM hash per token beats an
    md5 + two hex parses); this variant is the verification path.
    """
    # expr-string construction (round-12) — see simhash_fingerprints
    def half_word_sql(start: int) -> str:
        hashes_sql = (
            f"transform(split({_normalize_sql(_qident(text_col))}, ' '), "
            f"t -> cast(conv(substring(md5(t), {start}, 8), 16, 10) "
            "AS bigint))"
        )
        return " | ".join(
            f"(CASE WHEN aggregate({hashes_sql}, 0, (acc, h) -> acc + "
            f"(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END))"
            f" > 0 THEN shiftleft(1L, {i}) ELSE 0L END)"
            for i in range(32)
        )

    return _spread(df, id_col).select(
        F.col(id_col),
        F.expr(half_word_sql(9) + " AS sim_hi"),
        F.expr(half_word_sql(1) + " AS sim_lo"),
    )


def simhash_near_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs within ``max_hamming`` bits of the PORTABLE
    (md5-based) SimHash — same pigeonhole blocking as
    :func:`simhash_near_pairs` (4 × 16-bit blocks: any pair within
    Hamming distance < 4 agrees on at least one block, so the candidate
    join is exact, not probabilistic), with the Hamming distance summed
    over the two 32-bit halves. Cross-engine value-comparable end to
    end. Returns (a_id, b_id, hamming), a_id < b_id.
    """
    fp = simhash_fingerprints_portable(df, text_col, id_col)
    mask = (1 << 16) - 1
    blocks = [
        F.struct(
            F.lit(b).alias("blk"),
            F.shiftrightunsigned(half, shift)
            .bitwiseAND(F.lit(mask))
            .alias("blk_val"),
        )
        for b, (half, shift) in enumerate(
            [(F.col("sim_lo"), 0), (F.col("sim_lo"), 16),
             (F.col("sim_hi"), 0), (F.col("sim_hi"), 16)]
        )
    ]
    exploded = fp.select(
        F.col(id_col), "sim_hi", "sim_lo",
        F.explode(F.array(*blocks)).alias("kb"),
    ).select(id_col, "sim_hi", "sim_lo", "kb.blk", "kb.blk_val")
    a = exploded.select(
        "blk", "blk_val", F.col(id_col).alias("a_id"),
        F.col("sim_hi").alias("a_hi"), F.col("sim_lo").alias("a_lo"),
    )
    b = exploded.select(
        "blk", "blk_val", F.col(id_col).alias("b_id"),
        F.col("sim_hi").alias("b_hi"), F.col("sim_lo").alias("b_lo"),
    )
    hamming = (
        F.bit_count(F.col("a_hi").bitwiseXOR(F.col("b_hi")))
        + F.bit_count(F.col("a_lo").bitwiseXOR(F.col("b_lo")))
    ).cast("int")
    return (
        a.join(b, ["blk", "blk_val"])
        .where(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
        .select("a_id", "b_id", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash within `max_hamming` bits.

    Pigeonhole blocking: split the 64-bit fingerprint into `blocks`
    16-bit blocks; any pair within Hamming distance < blocks must agree
    on at least one block, so the candidate join is on (block_idx,
    block_value) — no all-pairs comparison.
    """
    fp = simhash_fingerprints(df, text_col, id_col)
    width = 64 // blocks
    mask = (1 << width) - 1
    exploded = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftrightunsigned("simhash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("blk_val"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("kb"),
    ).select(id_col, "simhash", "kb.blk", "kb.blk_val")

    a = exploded.select(
        "blk", "blk_val", F.col(id_col).alias("a_id"), F.col("simhash").alias("a_fp")
    )
    b = exploded.select(
        "blk", "blk_val", F.col(id_col).alias("b_id"), F.col("simhash").alias("b_fp")
    )
    hamming = F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp")))
    return (
        a.join(b, ["blk", "blk_val"])
        .where(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
        .select("a_id", "b_id", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def minhash_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """One store row per document: (id, signature, band_hashes) — the
    persisted state of an INCREMENTAL dedup pipeline. A continuous
    crawl writes this table once per ingest batch and never recomputes
    old documents' signatures; `dedup_incremental` dedups each new
    batch against it with work proportional to the BATCH, not the
    corpus. ``band_hashes[b]`` is the LSH key of signature band b
    (posexplode recovers the (band, band_hash) join keys)."""
    rows = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k,
                              seed)
    return sigs.select(
        F.col(id_col),
        "signature",
        F.array(
            *[
                F.xxhash64(
                    F.slice(F.col("signature"), b * rows + 1, rows)
                    .cast("string")
                )
                for b in range(bands)
            ]
        ).alias("band_hashes"),
    )


def dedup_incremental(
    new_df: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an existing corpus `store`
    (:func:`minhash_store` rows) without touching old documents' text:

    1. signatures + band keys for the new batch only — O(batch);
    2. band-bucket join new↔store and new↔new (a_id < b_id) — the
       candidate set is collision-bounded, never all-pairs;
    3. verify candidates by signature-position match >= `threshold`;
    4. survivors = new docs matching NO store doc and NO smaller-id
       new doc (the same min-id survivor rule as the batch pipeline).

    Returns ``(survivors, new_store_rows)``: the surviving rows of
    `new_df`, and THEIR store rows for the caller to append — the
    store stays exactly "one row per retained document". At 100 TB the
    per-batch cost is the batch's hashing plus two keyed joins against
    a band-bucketed store scan; the store is append-only parquet.
    """
    new_store = minhash_store(
        new_df, text_col, id_col, num_hashes, bands, shingle_k, seed
    )
    from pyspark import StorageLevel

    new_store = new_store.persist(StorageLevel.MEMORY_AND_DISK)
    new_store.count()

    # band entries carry ONLY (id, band, band_hash) — signatures are
    # num_hashes longs per row and would multiply the band-join shuffle
    # ~20x (and bait a huge broadcast); candidates re-attach them by id
    # afterwards, the same narrow-join shape as minhash_candidate_pairs
    def band_entries(s: DataFrame, prefix: str) -> DataFrame:
        return s.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.posexplode("band_hashes").alias("band", "band_hash"),
        )

    new_e = band_entries(new_store, "a")
    est = (
        F.aggregate(
            F.zip_with(F.col("a_sig"), F.col("b_sig"),
                       lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.lit(float(num_hashes))
    )

    def matches(right_store: DataFrame, cond) -> DataFrame:
        cand = (
            new_e.join(band_entries(right_store, "b"),
                       ["band", "band_hash"])
            .where(cond)
            .select("a_id", "b_id")
            .dropDuplicates(["a_id", "b_id"])
        )
        return (
            cand.join(
                new_store.select(F.col(id_col).alias("a_id"),
                                 F.col("signature").alias("a_sig")),
                "a_id",
            )
            .join(
                right_store.select(F.col(id_col).alias("b_id"),
                                   F.col("signature").alias("b_sig")),
                "b_id",
            )
            .where(est >= threshold)
            .select("a_id")
        )

    vs_store = matches(store, F.lit(True))
    vs_batch = matches(new_store, F.col("a_id") > F.col("b_id"))
    dropped = vs_store.union(vs_batch).distinct()
    survivors = new_df.join(dropped.withColumnRenamed("a_id", id_col),
                            id_col, "left_anti")
    new_rows = new_store.join(
        dropped.withColumnRenamed("a_id", id_col), id_col, "left_anti"
    )
    return survivors, new_rows
