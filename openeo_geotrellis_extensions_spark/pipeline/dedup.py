"""Deduplication for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup.

Design notes for 100 TB scale:
  - exact dedup is one hash-shuffle on a 32-byte key (md5 of normalized text);
  - MinHash signatures are computed with a groupBy over exploded shingles
    (map-side combinable MIN aggregates), LSH banding turns the O(n^2)
    candidate problem into an equi-join on band keys;
  - every hash is md5-based and engine-portable, so DuckDB oracles can
    recompute signatures exactly (no Spark-specific hash functions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_NORM = "regexp_replace(lower(trim({col})), '\\\\s+', ' ')"


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by normalized-text hash: (id, canonical_id, group_size).
    canonical = min id per group. One shuffle on the 128-bit key."""
    h = F.expr(f"md5({_NORM.format(col=text_col)})")
    keyed = df.select(F.col(id_col).alias("id"), h.alias("h"))
    grp = keyed.groupBy("h").agg(
        F.min("id").alias("canonical_id"), F.count("*").alias("group_size")
    )
    return keyed.join(grp, "h").select("id", "canonical_id", "group_size")


def ngram_expr(text_col: str, n: int) -> str:
    """SQL expression producing the array of word n-grams of a normalized
    text column — THE single definition shared by dedup, minhash, and the
    repetition quality filters (and mirrored by the DuckDB oracles), so the
    normalization can never drift between consumers.
    Guard: Spark sequence(0, -1) is DESCENDING, so short docs need an
    explicit empty-array branch."""
    norm = _NORM.format(col=text_col)
    return (
        f"CASE WHEN size(split({norm}, ' ')) < {n} THEN array() "
        f"ELSE transform(sequence(0, size(split({norm}, ' ')) - {n}), "
        f"i -> array_join(slice(split({norm}, ' '), i + 1, {n}), ' ')) END"
    )


def _word_array(text_col: str):
    """Normalized word array of a text column (one split per row)."""
    return F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )


def _ngrams_from_words(words, n: int):
    """n-gram array over a MATERIALIZED word-array column. Same grams as
    ``ngram_expr`` but the split happens once per row: codegen cannot hoist
    the ``split(norm, ' ')`` subexpression out of the transform lambda, so
    the SQL-string form re-splits the text per gram — O(words^2) characters
    per document (guide §4: make the per-row work linear before scaling)."""
    return F.when(F.size(words) < n, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.array_join(F.slice(words, i + F.lit(1), n), " "),
        )
    )


def word_ngrams(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-grams per document: (id, ngram); ``distinct`` dedupes per doc
    (set semantics for Jaccard; pass False for occurrence counts)."""
    words = df.select(F.col(id_col).alias("id"), _word_array(text_col).alias("_w"))
    out = words.select("id", F.explode(_ngrams_from_words(F.col("_w"), n)).alias("ngram"))
    return out.distinct() if distinct else out


def _candidate_grams(
    df: DataFrame,
    ids: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    grams: DataFrame | None,
) -> DataFrame:
    """Gram table restricted to candidate ids — the verify stage's
    candidate-scoping contract (round-1 fix), factored out so the plan
    gate can assert the LeftSemi on the UN-checkpointed plan (a lazy
    localCheckpoint compiles its subtree into an RDD lineage that the
    outer plan string no longer shows). Tokenization runs AFTER the
    semi-join, so word_ngrams' per-doc distinct shuffles O(candidate
    docs), not O(corpus)."""
    if grams is None:
        docs_c = df.join(
            ids.withColumnRenamed("id", id_col), [id_col], "left_semi"
        )
        return word_ngrams(docs_c, text_col, id_col, n)
    return grams.join(ids, "id", "left_semi")


def jaccard_verify(
    df: DataFrame,
    cand: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for CANDIDATE pairs only (id_a < id_b in
    ``cand``). The gram table is semi-joined down to candidate ids BEFORE any
    intersection work, so the cost is O(candidate grams), independent of the
    corpus — the fix for the round-1 'verify scores all co-occurring pairs'
    scale bug. Pairs sharing zero grams get no row (jaccard 0).
    ``grams``: optionally pass a precomputed (persisted) word_ngrams table
    so multi-stage pipelines tokenize the corpus once.
    -> (id_a, id_b, jaccard)."""
    # the candidate table fans out below (ids + the per-pair gram attach):
    # without materialization every branch re-evaluates the full candidate
    # generation DAG (measured: 25 corpus scans / 41 signature aggregations
    # in ONE execution of the LSH-verify plan — AQE exchange reuse does not
    # cover it). localCheckpoint(eager=False) materializes the pair list
    # once WITHIN this invocation's DAG and cuts its lineage; unlike
    # persist() it registers nothing in the CacheManager, so a fresh
    # invocation of the same query recomputes from the inputs (no
    # cross-run result reuse). Candidate pairs are a decision-sized proxy
    # table (guide §8: shuffle keys and metadata, not payloads).
    cand = cand.localCheckpoint(eager=False)
    ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # gc feeds three branches (pair grams x2 + per-doc sizes): materialize
    # the candidate-doc gram table once instead of tokenizing three times
    # (same no-cross-run-reuse rationale as the cand checkpoint above)
    gc = _candidate_grams(df, ids, text_col, id_col, n, grams).localCheckpoint(
        eager=False
    )
    sizes = gc.groupBy("id").agg(F.count("*").alias("sz"))
    # attach id_a's grams to each candidate pair, then equi-join on
    # (id_b, ngram): intersection counted per PAIR, no quadratic bucket
    ga = cand.join(gc.select(F.col("id").alias("id_a"), "ngram"), "id_a")
    inter = (
        ga.join(gc.select(F.col("id").alias("id_b"), "ngram"), ["id_b", "ngram"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.3,
    max_df: int | None = None,
    log_dropped: bool = False,
    max_docs: int | None = 10_000,
) -> DataFrame:
    """n-gram Jaccard similarity join: pairs (id_a < id_b, jaccard >=
    threshold). Inverted-index self-join on shared n-grams (only co-occurring
    pairs are scored — the standard set-similarity join).

    ``max_df``: document-frequency cap on the inverted index — n-grams
    appearing in more than ``max_df`` docs (boilerplate, stopword runs) are
    EXCLUDED from candidate generation, killing the quadratic hot-bucket a
    skewed shingle creates at scale (standard prefix filtering). Scoring
    still uses the FULL gram sets, so surviving pairs get their exact
    jaccard; pairs sharing only hot grams are missed (the documented lossy
    tradeoff). ``log_dropped=True`` logs the dropped-gram count — that runs
    an EXTRA eager aggregation job over the corpus, so it is opt-in.

    The UNCAPPED path (``max_df=None``) is the exact-semantics baseline: its
    inverted-index self-join is quadratic in the hottest shingle's document
    frequency (a boilerplate 3-gram in 10^6 docs builds a 10^12-pair
    bucket), so it carries the same corpus-size contract as
    ``cosine_topk_bruteforce`` (similarity.py): above ``max_docs`` rows it
    raises instead of launching the hot-bucket join. The 100 TB paths are
    ``max_df=<cap>`` (prefix filtering) or ``minhash_lsh``. Pass
    ``max_docs=None`` only in tests that deliberately sweep exactness."""
    grams = word_ngrams(df, text_col, id_col, n)
    if max_df is not None:
        hot = (
            grams.groupBy("ngram")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_df)
        )
        if log_dropped:
            import logging

            logging.getLogger(__name__).info(
                "ngram_jaccard_pairs: dropping %d hot n-grams (df > %d) "
                "from candidate generation",
                hot.count(),
                max_df,
            )
        # one tokenize + one document-frequency pass: the inverted index
        # feeds both sides of the candidate self-join (and the df-cap
        # anti-join re-derives grams), so materialize it within this DAG
        idx = grams.join(hot, "ngram", "left_anti").localCheckpoint(eager=False)
        cand = (
            idx.alias("a")
            .join(
                idx.alias("b"),
                (F.col("a.ngram") == F.col("b.ngram"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        return jaccard_verify(df, cand, text_col, id_col, n).where(
            F.col("jaccard") >= threshold
        )
    if max_docs is not None:
        n_docs = df.select(id_col).limit(max_docs + 1).count()
        if n_docs > max_docs:
            raise ValueError(
                f"ngram_jaccard_pairs: corpus has >{max_docs} docs and no "
                "max_df cap — the uncapped inverted-index self-join is "
                "quadratic on hot n-grams. Set max_df (prefix filtering), "
                "use minhash_lsh, or pass max_docs explicitly."
            )
    # uncapped exact path (max_docs-guarded): grams feed sizes + both join
    # sides — materialize the tokenization once within this DAG
    grams = grams.localCheckpoint(eager=False)
    sizes = grams.groupBy("id").agg(F.count("*").alias("sz"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, (F.col("a.ngram") == F.col("b.ngram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    grams: DataFrame | None = None,
) -> DataFrame:
    """MinHash over word n-gram shingles. Hash family i = md5(i || '|' ||
    shingle); the signature element is the lexicographic MIN of the hex
    digest (a valid min-wise hash, portable to any engine with md5).
    -> (id, sig: array<string>[num_hashes])."""
    if grams is None:
        # distinct=False: MIN is idempotent over duplicate grams, so the
        # signature is identical without the per-doc dedup — and skipping it
        # removes a full shuffle of the exploded gram table (guide §2.4);
        # the groupBy(id) partial-aggregates map-side either way
        grams = word_ngrams(df, text_col, id_col, n, distinct=False)
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("ngram")))).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    sig = grams.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism for CPU-heavy tokenize/hash pipelines:
    a small corpus arrives as ONE parquet split (a 5k-row file is a
    single row group), so the md5-per-gram projection and the signature
    aggregation would run on a single task while 31 cores idle. When the
    input has fewer partitions than the cluster's default parallelism,
    spread it first; at scale the input already has thousands of splits
    and this is a no-op (no shuffle added). Row-level semantics are
    untouched — every downstream aggregation is keyed."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float | None = None,
) -> DataFrame:
    """MinHash + LSH banding: signature split into ``bands`` bands of
    ``num_hashes / bands`` rows; docs sharing any band bucket become candidate
    pairs (equi-join on the band key — never O(n^2)). With
    ``verify_threshold`` candidates are re-scored with exact Jaccard."""
    rows = num_hashes // bands
    # NOTE: the exploded gram table is deliberately NOT persisted — caching
    # it materializes the explode (breaking codegen fusion) and measured
    # SLOWER + heap-heavy under default driver memory; recomputing the
    # columnar lineage per stage is cheaper. Callers with big memory budgets
    # can pass their own persisted table via the grams= parameters.
    df = _spread_small_input(df)
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws("|", *[F.col("sig")[b * rows + r] for r in range(rows)])
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    buckets = sig.select("id", F.explode(band_structs).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    # the self-join evaluates its input subtree once per side — without
    # materialization the whole signature pipeline (tokenize + 16 md5s per
    # gram + min-aggregate) runs twice. The bucket table is n_docs x bands
    # rows of (id, band, 32-char bucket) — the guide §8 'fingerprints only'
    # proxy — so materializing it within this invocation's DAG is cheap;
    # localCheckpoint does not register in the CacheManager (no cross-run
    # reuse, every invocation recomputes from the inputs).
    buckets = buckets.localCheckpoint(eager=False)
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if verify_threshold is None:
        return cand
    # verify scans ONLY candidate ids (semi-join pushdown inside
    # jaccard_verify) — never the full corpus's co-occurring pairs
    return jaccard_verify(df, cand, text_col, id_col, n).where(
        F.col("jaccard") >= verify_threshold
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """SimHash over words using md5 hex digits as the bit source: bit p of a
    word's hash = 1 iff hex digit ``p % 32`` of md5(word) (bits 0-31) or of
    md5(word || '#') (bits 32-63) is in '89abcdef' (i.e. its high bit).
    Signature bit p = sign of sum over words of (+1/-1). Engine-portable
    (md5 + substring only); up to 64 bits. -> (id, simhash: long).

    Bit 63 is assembled via shiftleft(1L, 63) — the two's-complement sign
    bit — because the 2^63 literal does not fit a signed long; XOR/popcount
    hamming math downstream is bit-pattern arithmetic, so a negative
    signature value is fine (and the DuckDB oracle mirrors it by adding
    CAST(-9223372036854775808 AS BIGINT))."""
    assert bits <= 64
    words = F.explode(
        F.split(F.expr(_NORM.format(col=text_col)), " ")
    ).alias("w")
    # hoist md5(w) (and the second digest for bits 32+) into columns instead
    # of recomputing inside each of the ``bits`` aggregate expressions
    # (don't rely on codegen subexpression elimination across aggregates)
    exploded = df.select(F.col(id_col).alias("id"), words).withColumn(
        "wh", F.md5(F.col("w"))
    )
    if bits > 32:
        exploded = exploded.withColumn("wh2", F.md5(F.concat(F.col("w"), F.lit("#"))))
    contribs = [
        F.sum(
            F.when(
                F.expr(
                    f"instr('89abcdef', substring("
                    f"{'wh' if p < 32 else 'wh2'}, {p % 32 + 1}, 1))"
                )
                > 0,
                1,
            ).otherwise(-1)
        ).alias(f"b{p}")
        for p in range(bits)
    ]
    agg = exploded.groupBy("id").agg(*contribs)
    sim = None
    for p in range(bits):
        on = F.when(F.col(f"b{p}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        bit = on * F.shiftleft(F.lit(1).cast("long"), p)
        sim = bit if sim is None else (sim + bit)
    return agg.select("id", sim.cast("long").alias("simhash"))


def simhash_band_candidates(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pigeonhole candidate pairs for :func:`simhash_near_pairs` (factored
    out so the candidate VOLUME — the thing that decides scalability — is
    testable on its own). -> (id_a, id_b, sa, sb)."""
    n_bands = max_hamming + 1
    if n_bands > bits:
        raise ValueError(
            f"max_hamming + 1 = {n_bands} bands need at least one signature"
            f" bit each, got bits={bits} — a zero-width band would key every"
            " doc to 0 and degrade the equi-join into all-pairs"
        )
    base = bits // n_bands
    widths = [base] * (n_bands - 1) + [bits - base * (n_bands - 1)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    sigs = simhash_signatures(_spread_small_input(df), text_col, id_col, bits)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), offsets[b])
                .bitwiseAND(F.lit((1 << widths[b]) - 1))
                .alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sigs.select(
        "id", "simhash", F.explode(band_structs).alias("bk")
    ).select(
        "id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    # materialize once within this DAG: the self-join would otherwise run
    # the 64-bit signature aggregation (64 SUMs over exploded words) twice
    bands = bands.localCheckpoint(eager=False)
    a = bands.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sa"), "band", "key"
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sb"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sa", "sb")
        .distinct()
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs in HAMMING space over SimHash signatures, via the
    pigeonhole band trick: split the ``bits``-bit signature into
    ``max_hamming + 1`` bands — any pair within hamming distance
    ``max_hamming`` MUST agree exactly on at least one band (it has at most
    max_hamming differing bits to spread over max_hamming + 1 disjoint
    bands), so candidate generation is a plain equi-join on (band,
    band_key) and the exact popcount verify runs only on candidates.
    GUARANTEED recall 1.0 within the radius (unlike probabilistic LSH).
    -> (id_a, id_b, hamming).

    100 TB shape: one shuffle on the band key; a band shared by many docs
    is a wide-but-flat join key (one row per doc per band), and the verify
    is candidate-scoped — no all-pairs anywhere. Uneven widths (bits not
    divisible by the band count) widen the last band; the pigeonhole
    guarantee only needs the bands disjoint and covering.

    Band-key WIDTH is the scale lever: candidate volume for random docs is
    ~n_bands * C(n, 2) / 2^(bits / n_bands), so the default 64-bit
    signature gives 16-bit keys at radius 3 — 256x fewer spurious
    candidates than 32-bit/8-bit keys. Pick ``bits`` so that
    2^(bits/(max_hamming+1)) comfortably exceeds the corpus size."""
    cand = simhash_band_candidates(df, max_hamming, bits, text_col, id_col)
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def substring_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Span-level EXACT-substring dedup (the ExactSubstr shape of
    "Deduplicating Training Data Makes Language Models Better", Lee et al.
    2022, re-expressed over word windows instead of a distributed suffix
    array): every ``n``-word window is hashed; windows whose hash occurs in
    >= ``min_docs`` DISTINCT documents are flagged, and maximal runs of
    consecutive flagged windows per document merge (gaps-and-islands) into
    spans -> (id, start_word, end_word inclusive, n_windows, max_doc_freq).

    100 TB shape: one shuffle on the 128-bit window hash for document
    frequency (map-side combinable), one equi-join back on the hash, one
    per-document window for island merging (bounded by doc length). Unlike
    pairwise n-gram Jaccard there is NO quadratic hot bucket — a boilerplate
    window shared by 10^6 docs contributes exactly one dfreq row and one
    join match per occurrence. Within-doc repeats (n_docs == 1) are NOT
    flagged; self-repetition is the repetition-quality filter's job
    (pipeline/text.py)."""
    grams = df.select(
        F.col(id_col).cast("long").alias("id"),
        _word_array(text_col).alias("_w"),
    ).select(
        "id",
        F.posexplode(_ngrams_from_words(F.col("_w"), n)).alias("pos", "g"),
    ).select("id", "pos", F.md5("g").alias("h"))
    dfreq = grams.groupBy("h").agg(F.countDistinct("id").alias("n_docs"))
    flagged = grams.join(
        dfreq.where(F.col("n_docs") >= min_docs), "h", "inner"
    )
    w = Window.partitionBy("id").orderBy("pos")
    isl = flagged.withColumn("island", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("id", "island")
        .agg(
            F.min("pos").alias("start_word"),
            (F.max("pos") + F.lit(n - 1)).alias("end_word"),
            F.count("*").alias("n_windows"),
            F.max("n_docs").alias("max_doc_freq"),
        )
        .drop("island")
    )


def connected_components(
    pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Duplicate-GROUP formation from near-dup pairs: connected components
    via iterative min-label propagation (the scalable alternative to a
    driver-side union-find; converges in O(diameter) join rounds, each a
    plain shuffle join). -> (id, component) where component = min id in the
    component. Raises RuntimeError if the labels have not converged after
    ``max_iters`` rounds."""
    edges = (
        pairs.selectExpr("id_a AS a", "id_b AS b")
        .unionByName(pairs.selectExpr("id_b AS a", "id_a AS b"))
        .distinct()
        # pre-partition on the per-round join key: the cached partitioning
        # is recognized by every round's equi-join on b, so only the
        # (small) labels side shuffles each round (guide §2.4: establish
        # the partitioning once)
        .repartition(F.col("b"))
        .persist()  # edges re-join every round: compute the (possibly
        # expensive LSH+verify) upstream lineage exactly once
    )
    # seed with the FIRST propagation fused into initialization: starting
    # from identity labels, round 1 would compute min(id, min neighbor) —
    # that is one groupBy over the symmetric edge table, so the
    # three-shuffle join round is skipped entirely for it (symmetrization
    # guarantees every node appears as ``a``)
    labels = (
        edges.groupBy("a")
        .agg(F.least(F.min("b"), F.col("a")).alias("component"))
        .select(F.col("a").alias("id"), "component")
    )
    for _ in range(max_iters):
        # each node adopts the min label among itself and its neighbors
        neigh = (
            edges.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy("a")
            .agg(F.min("component").alias("nc"))
            .withColumnRenamed("a", "id")
        )
        new_labels = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.col("component").alias("_old"),
                F.least(F.col("component"), F.coalesce("nc", "component")).alias(
                    "component"
                ),
            )
        )
        # checkpoint FIRST, then test convergence against the materialized
        # result; the OLD label rides along as a column, so the convergence
        # probe is a scan of the checkpoint — no extra shuffle join per
        # round (the former new-vs-old equi-join)
        ckpt = new_labels.localCheckpoint(eager=True)  # cut lineage per round
        changed = (
            ckpt.where(F.col("component") != F.col("_old")).limit(1).count()
        )
        labels = ckpt.drop("_old")
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in max_iters={max_iters} "
            "rounds (a component's diameter exceeds the round limit)"
        )
    # labels is checkpointed, so the cached edges are no longer reachable —
    # release them (mirrors the pts.unpersist() pattern in knn_join)
    edges.unpersist()
    return labels


def canonical_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Keep-one selection over near-duplicate groups — the step a curation
    pipeline runs AFTER group formation: MinHash-LSH candidates -> exact
    Jaccard verify -> connected components -> one CANONICAL doc per group
    (longest text, tie -> smallest id; singletons are their own canonical).
    -> (doc_id, component, canonical_id, keep).

    100 TB shape: the dedup path's shuffles (banding equi-join + label
    propagation) plus a window over GROUPED docs only — singletons (the
    overwhelming majority of a real corpus) never enter the window or any
    extra join: their branch is a map-only left-anti against the component
    table, which is sized by duplicate docs, not the corpus."""
    comp = connected_components(
        minhash_lsh_pairs(
            df, text_col, id_col,
            num_hashes=num_hashes, bands=bands,
            verify_threshold=verify_threshold,
        )
    )
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.length(text_col).alias("_len"),
    )
    grouped = base.join(comp, "id")  # only docs that are in some dup pair
    w = Window.partitionBy("component").orderBy(F.desc("_len"), F.asc("id"))
    annotated = (
        grouped.withColumn(
            "canonical_id", F.first("id").over(w)
        )  # row 1 of the (len desc, id asc) order = the group's canonical
        .select(
            F.col("id").alias("doc_id"),
            "component",
            "canonical_id",
            (F.col("id") == F.col("canonical_id")).alias("keep"),
        )
    )
    singles = base.join(comp, "id", "left_anti").select(
        F.col("id").alias("doc_id"),
        F.col("id").alias("component"),
        F.col("id").alias("canonical_id"),
        F.lit(True).alias("keep"),
    )
    return annotated.unionByName(singles)


def ngram_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination — flag training documents sharing any
    ``n``-word window with an evaluation/benchmark corpus (the standard
    n-gram-overlap contamination check, e.g. GPT-3 appendix C / PaLM
    13-gram filtering, here over word windows).
    -> (id, n_windows, n_contaminated, contaminated).

    Scale shape: the benchmark side is small by definition, so its DISTINCT
    window set BROADCASTS and the check is a map-side join over the corpus
    windows — no shuffle of the training data, no quadratic anything; a
    boilerplate window appearing in millions of docs just matches the one
    broadcast row per occurrence."""
    doc_w = word_ngrams(df, text_col, id_col, n, distinct=False)
    bench_w = (
        word_ngrams(benchmark, text_col, id_col, n, distinct=True)
        .select("ngram")
        .distinct()
    )
    hit = doc_w.join(
        F.broadcast(bench_w.withColumn("_hit", F.lit(1))), "ngram", "left"
    )
    return hit.groupBy("id").agg(
        F.count("*").cast("int").alias("n_windows"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("int").alias(
            "n_contaminated"
        ),
    ).withColumn("contaminated", F.col("n_contaminated") > 0)


def semdedup(
    emb: DataFrame,
    threshold: float = 0.9,
    n_lists: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_list_rows: int | None = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023 shape): cluster the
    embedding space with the deterministic IVF quantizer, then within each
    cluster drop every vector that is cosine-similar (rounded cosine >=
    ``threshold``) to a LOWER-id vector — keep-lowest-id per epsilon-ball.
    -> (id, list_id, kept).

    Candidate generation is the cluster partition itself: the pair join is
    an equi-join on list_id, so cross-cluster pairs are never materialized.
    The within-cluster block is O(list_size^2) — the SemDeDup trade — so
    list count must be sized to the corpus (ivf_params_for/target_list_rows
    keeps clusters bounded); ``max_list_rows`` enforces that contract like
    cosine_topk_bruteforce's query guard: it raises instead of launching a
    quadratic mega-cluster."""
    from .similarity import _assign_udf, cosine_col, ivf_centroids_det

    C = ivf_centroids_det(emb, n_lists, iters, id_col, vec_col)
    assigned = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _assign_udf(C)(F.col(vec_col)).alias("list_id"),
    ).localCheckpoint(eager=False)
    # ^ assigned feeds the guard count, both pair-join sides and the final
    # kept-flag join — materialize the Arrow assignment UDF once (r6)
    if max_list_rows is not None:
        biggest = (
            assigned.groupBy("list_id").count().agg(F.max("count")).collect()[0][0]
        )
        if biggest and biggest > max_list_rows:
            raise ValueError(
                f"semdedup: largest cluster has {biggest} rows > "
                f"max_list_rows={max_list_rows}; raise n_lists "
                "(ivf_params_for sizes it to the corpus) or the guard."
            )
    a = assigned.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), "list_id"
    )
    b = assigned.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), "list_id"
    )
    dups = (
        a.join(b, "list_id")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_col("va", "vb"), 6))
        .where(F.col("cosine") >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        assigned.join(dups.withColumn("_dup", F.lit(True)), "id", "left")
        .select("id", "list_id", F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"))
    )


def embedding_near_dups_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 4,
    tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding cosine near-duplicates, LSH-bucketed (the 100 TB path):
    candidates = pairs sharing any (table, hyperplane-signature) bucket — an
    EQUI-JOIN on the bucket key, never O(n^2) — then exact cosine verify
    within candidates. Recall is tuned by bits/tables (fewer bits -> bigger
    buckets -> higher recall); truly-near pairs (cosine ~1) collide in some
    table with probability ~1. Deterministic exact-integer signatures
    (similarity.hyperplane_buckets) make the whole algorithm SQL-mirrorable.
    -> (id_a < id_b, cosine)."""
    from .similarity import hyperplane_buckets

    sigs = hyperplane_buckets(emb, bits, tables, dim, id_col, vec_col)
    # self-join input materialized once (signature arithmetic otherwise
    # runs per side); (id, bucket, vec) rows only — decision-sized
    sigs = sigs.localCheckpoint(eager=False)
    a = sigs.alias("a")
    b = sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.v").alias("va"),
            F.col("b.id").alias("id_b"),
            F.col("b.v").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    from .similarity import cosine_col

    return (
        cand.withColumn("cosine", F.round(cosine_col("va", "vb"), 6))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding cosine near-duplicates, brute-force pairwise — O(n^2), for
    small inputs and as the pytest recall oracle ONLY; the registered scale
    path is :func:`embedding_near_dups_lsh`. -> (id_a < id_b, cosine)."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    from .similarity import cosine_col

    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_col("va", "vb"), 6))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
