"""Deduplication operators.

Covers the reference's ``drop_duplicates(keep='first')`` family (SURVEY.md
§2.7 U2, §2.4 A8/A10) plus the north-star large-scale dedup suite (exact
hash, MinHash+LSH, SimHash, n-gram Jaccard) used by training-data
pipelines. All are expressed as shuffles on content keys — the natural
scale-out shape — never driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround6 as _pround6
from data_warehouse_punta_fina_spark.functions.text import tokens, word_shingles
from data_warehouse_punta_fina_spark.operators.freshness import stamp, stored_params
from data_warehouse_punta_fina_spark.operators.materialize import materialize


def _spread(df: DataFrame) -> DataFrame:
    """Small-file inputs arrive as ONE partition; compute-heavy per-row
    operators (tokenize → shingle → k×md5) must fan out first or they run
    on a single core. One narrow shuffle of the raw rows buys full
    parallelism — and ONLY fires when the input is under-partitioned:
    at 100 TB the scan is already thousands of splits and this is a
    no-op, so raw document bytes never hit the wire (the round-1 version
    repartitioned unconditionally, which would have).

    CONTRACT: spread the RAW rows and apply heavy projections ABOVE the
    returned frame. Projections do NOT migrate across the exchange —
    ``_spread(df.select(id, tokens(...)))`` runs the tokenize below the
    repartition, on the scan's (possibly single) split; measured 21 s →
    3 s on doc_dsir_sample at sf0.1 when moved above (round 8)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def dedupe_by_grain(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """Deterministic keep-first dedup: the reference's pandas
    ``drop_duplicates(subset=keys, keep='first')`` follows its extraction
    ``ORDER BY id`` (`complete_fact_builder.py:241`); Spark's dropDuplicates
    keeps an arbitrary row, so we pin the survivor with row_number over an
    explicit order (SURVEY.md §7.4)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def duplicate_groups(df: DataFrame, keys: list[str]) -> DataFrame:
    """HAVING COUNT(*)>1 duplicate detection (A8: `main.py:839-867`)."""
    return df.groupBy(*keys).agg(F.count("*").alias("n")).filter(F.col("n") > 1)


# ---------------------------------------------------------------------------
# Large-scale text dedup (north-star extensions)
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate clustering by content hash: one row per distinct
    text with the canonical (min) id and the duplicate count. A single
    hash-shuffle on md5(text) — at 100 TB this is the cheapest possible
    grouping key (16 bytes) vs shuffling full documents."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_tokens: int | None = None,
) -> DataFrame:
    """(id, shingle) rows — distinct n-word shingles per document.

    Same set as ``functions.text.word_shingles`` (docs shorter than n
    tokens contribute one all-tokens shingle), but built with posexplode +
    window ``lead`` instead of array higher-order functions: HOFs are
    interpreted per-element, while this path stays in whole-stage codegen
    (~4× faster at bench scale). One shuffle on the doc id.

    ``max_tokens`` caps each document's token stream before shingling —
    the skew guard for pathological giant documents (their tokens
    otherwise land in ONE task via the per-doc window); near-dup signal
    saturates long before typical caps (~10k tokens) anyway.
    """
    toks = tokens(text_col, max_tokens)
    # spread the raw rows FIRST (tokenize above the exchange — a
    # projection below the repartition runs on the scan's splits)
    exploded = (
        _spread(df)
        .select(F.col(id_col), toks.alias("_toks"))
        .select(
            F.col(id_col), F.col("_toks"), F.posexplode_outer("_toks").alias("pos", "tok")
        )
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    led = exploded.select(
        F.col(id_col),
        F.size("_toks").alias("_sz"),
        F.col("pos"),
        *[F.lead("tok", k).over(w).alias(f"_t{k}") for k in range(n)],
    )
    long_docs = led.filter((F.col("_sz") >= n) & F.col(f"_t{n-1}").isNotNull()).select(
        F.col(id_col), F.concat_ws(" ", *[F.col(f"_t{k}") for k in range(n)]).alias("shingle")
    )
    short_docs = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size("_toks") < n)
        .select(F.col(id_col), F.concat_ws(" ", "_toks").alias("shingle"))
    )
    return long_docs.unionByName(short_docs).distinct()


# 2^56: the modulus for the derived MinHash permutations. 56-bit values
# keep every intermediate (h1 + i·h2 ≤ (num_hashes)·2^56) inside int64
# for any num_hashes ≤ 127, with identical % semantics on both engines
# (operands non-negative).
MINHASH_MOD = 1 << 56

# Band-key hash-scheme version, stamped into every index's column
# metadata and VALIDATED at incremental-join time: band keys from
# different schemes (e.g. the pre-round-5 salted-md5 hex keys vs the
# current Kirsch-Mitzenmacher decimal keys) never collide, so an
# unversioned scheme change would silently admit every new doc. Bump on
# ANY change to how band keys are computed.
MINHASH_SCHEME = "md5-km56/1"


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature columns h0..h{k-1} (int64).

    ONE md5 per shingle, not k: the k permutation proxies derive from the
    digest's two 56-bit halves via h_i = (h1 + i·h2) mod 2^56 (the
    Kirsch-Mitzenmacher construction — standard for MinHash/Bloom
    families). At corpus scale hashing dominates the signature map cost,
    so this is ~k× cheaper than salting md5 per permutation, and every
    step (hex slice → int64, multiply-add, mod) is exactly reproducible
    in an external SQL oracle. Shape: explode shingles (map) → groupBy
    doc (shuffle on doc id with map-side combine).

    ``shingles`` (round-16, guide §6 read-once): a prebuilt (id, shingle)
    table — normally a checkpointed ``shingle_rows`` output a caller
    shares across the LSH side and an exact-verify/detector side, so the
    corpus is shingled once per query instead of once per consumer. MUST
    be the same rows ``shingle_rows(df, text_col, id_col, shingle_n)``
    would produce (same ``shingle_n``!); the parameter only changes where
    the rows come from, never their values.
    """
    sh = shingle_rows(df, text_col, id_col, shingle_n) if shingles is None else shingles
    md = F.md5(F.col("shingle"))
    hashed = sh.select(
        F.col(id_col),
        F.conv(F.substring(md, 1, 14), 16, 10).cast("long").alias("_h1"),
        F.conv(F.substring(md, 17, 14), 16, 10).cast("long").alias("_h2"),
    )
    return hashed.groupBy(id_col).agg(
        *[
            F.min(
                F.pmod(F.col("_h1") + F.lit(i) * F.col("_h2"), F.lit(MINHASH_MOD))
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, band, band_key) — the LSH index rows for a corpus. The
    reusable half of :func:`minhash_lsh_pairs`: at warehouse scale this
    IS the persisted dedup index (write it partitioned by band), and
    incremental ingestion joins new batches against it
    (:func:`incremental_lsh_dedup`)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "trailing hash columns would be silently dropped"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, shingles)
    # parameter fingerprint rides on the band_key column's metadata: it
    # survives a parquet round-trip (Spark persists field metadata in the
    # footer; band_key is a DATA column, unlike band, which is typically the
    # partitionBy column and reads back from directory names without
    # metadata), so a PERSISTED index can be validated against the
    # batch-side parameters at join time (see incremental_lsh_dedup)
    # instead of silently yielding empty candidates when
    # (num_hashes, bands, shingle_n) drifted
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|", *[F.col(f"h{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("band_key")
    ).select(
        id_col,
        "band",
        stamp(
            "band_key",
            MINHASH_SCHEME,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + banded LSH.

    Pipeline shape (the standard scale-out design): signature (map +
    combine-agg) → explode to ``bands`` band keys (map) → self-join on
    band key (shuffle on small string keys) → distinct pairs. Full
    documents are never shuffled; only (band_key, id). Returns
    (id_a, id_b) with id_a < id_b.
    """
    banded = minhash_band_keys(df, text_col, id_col, num_hashes, bands, shingle_n, shingles)
    # a DataFrame self-join re-executes the whole subplan per branch —
    # materialize the band table once and both sides read it
    banded = materialize(banded)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """N-gram Jaccard similarity pairs ≥ threshold over an inverted index.

    Inverted-index join: explode distinct shingles → self-join on shingle
    → count common shingles per pair → Jaccard = common/(|A|+|B|-common).
    The shuffle key is the shingle string, so a shingle appearing in d
    documents fans out to d·(d-1)/2 candidate rows — quadratic in the
    hottest key.

    ``max_shingle_df`` is the scale guard: shingles whose document
    frequency exceeds it are dropped from the universe before sizes and
    intersections (stopword-shingle removal — a shingle in thousands of
    documents carries no near-duplicate signal, exactly like a stopword in
    retrieval). This bounds the per-key fan-out to max_shingle_df²/2 and
    makes the standalone operator safe at corpus scale; ``None`` keeps the
    exact all-shingles semantics (the oracle form — or compose with
    :func:`minhash_lsh_pairs` for candidate generation instead).
    """
    # the tokenize→shingle subplan is the expensive part and is consumed by
    # the df-cap derivation AND (sizes + both join branches) → materialize
    # it FIRST; the cap's broadcast anti-join is cheap to re-apply per
    # consumer compared to recomputing the shingling
    sh = materialize(shingle_rows(df, text_col, id_col, shingle_n))
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        # hot set is tiny by construction (only keys above the cap) → broadcast anti-join
        sh = materialize(sh.join(F.broadcast(hot), "shingle", "left_anti"))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", _pround6(F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The production near-dup pipeline: MinHash+LSH candidate generation,
    then EXACT Jaccard verification computed only for candidate pairs.

    This is the composition the standalone operators document: the
    all-pairs inverted-index join never happens — the shingle self-join is
    constrained to the LSH candidate set, so the verify cost is
    O(|candidates| · shingles-per-doc) instead of O(hot-shingle²).
    Output: (id_a, id_b, jaccard) for candidates whose TRUE Jaccard ≥
    threshold (LSH false positives are filtered; false negatives are the
    documented recall trade of banding).
    """
    # round-16 (guide §6): ONE shingle table feeds both stages — the r15
    # shape shingled the corpus twice (once inside minhash_signatures,
    # once for the exact verify); stage profiles showed the two identical
    # shingle aggregations back to back. Same rows, same results.
    sh = materialize(shingle_rows(df, text_col, id_col, shingle_n))
    cand = minhash_lsh_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_n, shingles=sh
    )
    return jaccard_on_candidates(
        df, cand, text_col, id_col, shingle_n, threshold,
        assume_distinct=True,  # band-join output is already .distinct()
        shingles=sh,
    )


def jaccard_on_candidates(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.0,
    assume_distinct: bool = False,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard computed ONLY for the given (id_a, id_b) candidate
    pairs — the verify stage any blocking scheme (LSH bands, SimHash
    bands, embedding cells) composes with. Shuffle cost is
    O(|candidates| · shingles-per-doc); the all-pairs inverted index never
    materializes. The shingle table (consumed by sizes + both join sides)
    is materialized once. ``assume_distinct=True`` skips the
    defensive dedup of the candidate list — pass it when the caller
    already emits distinct pairs (LSH band joins do), saving one shuffle
    per invocation."""
    if assume_distinct:
        cand = candidates.select("id_a", "id_b")
    else:
        cand = materialize(candidates.select("id_a", "id_b").distinct())
    # ``shingles``: caller-shared prebuilt (id, shingle) table (already
    # materialized by the caller) — see minhash_signatures for the value
    # contract
    sh = (
        shingles
        if shingles is not None
        else materialize(shingle_rows(df, text_col, id_col, shingle_n))
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingle"))
    b = sh.select(F.col(id_col).alias("_idb"), F.col("shingle").alias("_shb"))
    common = (
        cand.join(a, "id_a")
        .join(b, (F.col("id_b") == F.col("_idb")) & (F.col("shingle") == F.col("_shb")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", _pround6(F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_lsh_dedup(
    corpus: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.2,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Dedupe an incoming batch against an already-indexed corpus — the
    production ingestion pattern (a new crawl arrives; only documents NOT
    near-duplicating the existing corpus should be admitted).

    Ids must be globally unique across both frames (standard for an
    indexed corpus + batch). Shape: band keys for each side
    (:func:`minhash_band_keys`), equi-join on (band, band_key) for
    candidates — new × index only, never index × index — then exact
    Jaccard verification on candidates only. Output: one row per new doc
    with ``is_dup``, the best corpus match (highest Jaccard, ties to the
    smallest corpus id), and its score.

    At warehouse scale pass ``corpus_bands`` — the PERSISTED band index
    (``minhash_band_keys`` output written partitioned by ``band``) — so
    each arriving batch joins against the stored index instead of
    re-hashing the whole corpus. The verify stage then only tokenizes the
    documents that appear in a candidate pair: a semi-join against the
    candidate id set restricts the shingle scan BEFORE any tokenization,
    so verify cost scales with the batch (candidates ≤ |batch| × band
    collisions), never with the corpus. The stored index must have been
    built under the SAME (num_hashes, bands, shingle_n) as the incoming
    batch — band keys from different parameters never collide and every
    new doc would be silently admitted; indexes written by
    :func:`minhash_band_keys` carry the parameters as column metadata
    (parquet-durable) and are checked here.
    """
    if corpus_bands is not None:
        missing = {id_col, "band", "band_key"} - set(corpus_bands.columns)
        if missing:
            raise ValueError(
                f"corpus_bands is missing required columns {sorted(missing)}; expected the "
                f"({id_col}, band, band_key) layout produced by minhash_band_keys"
            )
        # mismatched band keys never collide: every new doc would be
        # silently admitted as non-duplicate
        stored_params(
            corpus_bands,
            "band_key",
            "corpus_bands (persisted LSH band index)",
            MINHASH_SCHEME,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
        )
    cb = (
        corpus_bands
        if corpus_bands is not None
        else minhash_band_keys(corpus, text_col, id_col, num_hashes, bands, shingle_n)
    )
    nb = minhash_band_keys(new_docs, text_col, id_col, num_hashes, bands, shingle_n)
    # consumed three times below (id_a side, id_b side, verify stage) —
    # materialize once instead of re-running the band join per branch
    cand = materialize(
        cb.select(F.col(id_col).alias("id_a"), "band", "band_key")
        .join(nb.select(F.col(id_col).alias("id_b"), "band", "band_key"), ["band", "band_key"])
        .select("id_a", "id_b")
        .distinct()
    )
    # row-level restriction BEFORE tokenization: only documents that occur
    # in a candidate pair are shingled in the verify stage. The candidate
    # id set is batch-proportional, so at 100 TB an arriving batch never
    # pays a full-corpus tokenize+shingle pass.
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    both = (
        corpus.select(id_col, text_col)
        .unionByName(new_docs.select(id_col, text_col))
        .join(cand_ids, id_col, "left_semi")
    )
    # cand is already distinct + checkpointed above → skip the verify
    # stage's defensive re-distinct (one less shuffle per arriving batch)
    verified = jaccard_on_candidates(
        both, cand, text_col, id_col, shingle_n, threshold, assume_distinct=True
    )
    w = Window.partitionBy("id_b").orderBy(F.desc("jaccard"), F.asc("id_a"))
    best = (
        verified.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("id_b").alias(id_col),
            F.col("id_a").alias("match_id"),
            F.col("jaccard"),
        )
    )
    return (
        new_docs.select(id_col)
        .join(best, id_col, "left")
        .select(
            F.col(id_col),
            F.col("match_id").isNotNull().alias("is_dup"),
            F.col("match_id"),
            F.col("jaccard"),
        )
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 2,
) -> DataFrame:
    """SimHash near-duplicate pairs within a Hamming radius.

    Pigeonhole blocking: with 4 byte-bands, any pair within distance ≤ 2
    shares at least 2 bands — joining on ANY shared band is a complete
    candidate set. Candidates then verify with bit_count(xor) ≤ radius.
    Fingerprints (one int64 per doc) are the only shuffled payload.
    """
    if bits % 8 != 0:
        raise ValueError(f"bits ({bits}) must be a multiple of 8 (byte-band blocking)")
    n_bands = bits // 8
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bits//8 ({n_bands}): the pigeonhole "
            "guarantee (every pair within the radius shares a band) only holds below "
            "the band count — a larger radius would silently return an incomplete set"
        )
    fp = materialize(simhash64(df, text_col, id_col, bits))
    banded = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftright("simhash", 8 * k).bitwiseAND(F.lit(255)).alias("val"),
                    )
                    for k in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.val").alias("band_val"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def gram_occurrences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    max_tokens: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(occurrences, doc_lens): POSITIONAL n-gram occurrences — unlike
    :func:`shingle_rows` these are NOT per-doc distinct and carry the
    0-based start position, so downstream operators can reason about which
    token spans a gram covers. ``occurrences`` is (id, pos, gram);
    ``doc_lens`` is (id, n_tokens) for EVERY input doc (including docs
    shorter than ``n`` tokens, which contribute no occurrence rows).

    Both frames derive from ONE tokenize: the tokenized projection is
    materialized before fanning out to the lens/occurrence branches —
    at 100 TB tokenization is the dominant map cost and must not run per
    consumer (same discipline as BM25's single-tokenize avgdl).
    ``max_tokens`` is the giant-doc skew guard for the per-doc window.
    """
    toked = materialize(
        _spread(df).select(F.col(id_col), tokens(text_col, max_tokens).alias("_toks"))
    )
    doc_lens = toked.select(F.col(id_col), F.size("_toks").cast("bigint").alias("n_tokens"))
    exploded = toked.select(
        F.col(id_col), F.size("_toks").alias("_sz"), F.posexplode("_toks").alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    occ = (
        exploded.select(
            F.col(id_col),
            F.col("_sz"),
            F.col("pos"),
            F.concat_ws(" ", F.col("tok"), *[F.lead("tok", k).over(w) for k in range(1, n)]).alias(
                "gram"
            ),
        )
        # only full-width grams: the last n-1 positions have null leads
        # (concat_ws would silently emit short grams — filter by position)
        .filter(F.col("pos") <= F.col("_sz") - F.lit(n))
        .select(id_col, "pos", "gram")
    )
    return occ, doc_lens


def repeated_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_count: int = 2,
    max_tokens: int | None = None,
) -> DataFrame:
    """Exact-substring duplication profile per document (the Lee et al.
    2021 "Deduplicating Training Data Makes Language Models Better"
    signal, at n-token granularity): find every n-gram occurring ≥
    ``min_count`` times ANYWHERE in the corpus (cross-doc boilerplate and
    within-doc self-repeats both count), merge the token intervals its
    occurrences cover into maximal spans per doc, and report

        (doc_id, n_tokens, n_spans, dup_tokens, longest_span,
         dup_fraction)

    one row per input doc (docs with no duplicated span report zeros).
    Training pipelines cut on ``dup_fraction`` (how much of the doc is
    corpus-duplicated text) or excise the spans themselves.

    Scale shape — no all-pairs stage anywhere:
    - ONE tokenize (materialized, see :func:`gram_occurrences`), one
      per-doc window to form positional grams (``max_tokens`` bounds the
      hottest doc);
    - gram counting is a map-side-combined groupBy on the gram string
      (vocabulary-sized output); production would group on
      ``xxhash64(gram)`` to shuffle 8-byte keys — same counts, hash-width
      keys — kept as the string here for bit-exact oracle parity;
    - occurrences join the duplicated-gram set on an equi key (AQE
      splits a pathologically hot gram; no broadcast assumption);
    - interval merge is the classic gaps-and-islands: per-doc running
      MAX(end) over preceding rows marks island starts, a running SUM
      numbers them — window partitioned by doc, never global.
    """
    occ, doc_lens = gram_occurrences(df, text_col, id_col, n, max_tokens)
    dup_grams = (
        occ.groupBy("gram")
        .agg(F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("gram")
    )
    dup_occ = occ.join(dup_grams, "gram").withColumn("_end", F.col("pos") + F.lit(n - 1))
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("_end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = dup_occ.withColumn(
        "_new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn("_island", F.sum("_new").over(w))
    spans = marked.groupBy(id_col, "_island").agg(
        (F.max("_end") - F.min("pos") + F.lit(1)).cast("bigint").alias("_covered")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("_covered").alias("dup_tokens"),
        F.max("_covered").alias("longest_span"),
    )
    return (
        doc_lens.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.coalesce(F.col("n_spans"), F.lit(0).cast("bigint")).alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0).cast("bigint")).alias("dup_tokens"),
            F.coalesce(F.col("longest_span"), F.lit(0).cast("bigint")).alias("longest_span"),
        )
        .withColumn(
            "dup_fraction",
            _pround6(F.col("dup_tokens") / F.greatest(F.col("n_tokens"), F.lit(1))),
        )
    )


def fixed_token_segments(text_col: Column | str, width: int = 24) -> Column:
    """Non-overlapping ``width``-token segments as array<string> — the
    segmentation to use when a corpus carries no natural paragraph
    delimiters (real pipelines pass a '\\n\\n' split instead). The last
    segment keeps the tail (may be short); empty docs yield []."""
    toks = tokens(text_col)
    starts = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - F.lit(1), F.lit(width))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(starts, lambda s: F.array_join(F.slice(toks, s + 1, width), " "))


def dedup_segments(
    df: DataFrame,
    segments_col: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Segment-level exact dedup WITH document reassembly — the C4/CCNet
    cleanup shape: drop every repeated paragraph/segment corpus-wide
    (keep-first by (doc id, position) — boilerplate survives exactly
    once, in its earliest document) and rebuild each document from its
    surviving segments in order. This is the TRANSFORM counterpart to
    :func:`repeated_span_stats` (which only measures duplication).

    ``segments_col`` is any array<string> expression — a paragraph split
    (``F.split(text, '\\n\\n')``) for corpora with structure, or
    :func:`fixed_token_segments` for flat text. Output: one row per input
    doc — (id, n_segments, n_kept, cleaned_text), cleaned_text '' when
    everything was dropped (or the doc was empty).

    Scale shape: one segmentation pass (materialized, because both the
    totals and the keep-first branch consume it); keep-first is
    a top-1 window partitioned by the segment text (WindowGroupLimit
    pushes the rank-1 cut map-side; production would key the window on
    ``xxhash64(segment)`` to shuffle 8-byte keys — identical survivors,
    kept as the string here for oracle parity); reassembly is a per-doc
    sort of the kept segments (array_sort of (pos, seg) structs —
    collect_list order is partition-nondeterministic and must never be
    trusted).
    """
    exploded = materialize(
        _spread(df)
        .select(F.col(id_col), segments_col.alias("_segs"))
        .select(F.col(id_col), F.posexplode("_segs").alias("pos", "seg"))
    )
    totals = exploded.groupBy(id_col).agg(F.count("*").cast("bigint").alias("n_segments"))
    w = Window.partitionBy("seg").orderBy(F.asc(id_col), F.asc("pos"))
    kept = exploded.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("seg")))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return (
        df.select(F.col(id_col))
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_segments"), F.lit(0).cast("bigint")).alias("n_segments"),
            F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        )
    )


def edit_distance_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    max_ratio: float = 0.2,
) -> DataFrame:
    """Character-level near-duplicates: SimHash-blocked candidates
    verified by TRUE edit distance (``levenshtein``), keeping pairs whose
    distance is ≤ ``max_ratio`` of the longer text. The strictest verify
    tier — shingle Jaccard tolerates reordering, edit distance does not —
    for the "template with one field changed" duplicates that matter in
    crawl data.

    Scale shape: Levenshtein is O(len_a·len_b) PER PAIR, so it must never
    run all-pairs; the SimHash byte-band block bounds it to candidate
    pairs (fingerprints are the only corpus-wide shuffle), and only the
    candidate ids' texts are re-read (semi-join pushdown, same posture as
    the LSH verify stage). Both engines implement the same classic DP, so
    distances are exact integers — no rounding concerns until the final
    ratio (portable round-6). Output: (id_a, id_b, hamming, dist, ratio).
    """
    # three consumers below (two id projections + the verify join) would
    # re-run the band self-join per branch without this
    cand = materialize(
        simhash_near_dup_pairs(df, text_col, id_col, bits, max_hamming)
    )
    ids = cand.select(F.col("id_a").alias(id_col)).union(
        cand.select(F.col("id_b").alias(id_col))
    ).distinct()
    texts = df.join(ids, id_col, "left_semi").select(
        F.col(id_col), F.col(text_col).alias("_t")
    )
    ratio = F.col("dist") / F.greatest(
        F.length("_ta"), F.length("_tb"), F.lit(1)
    )
    from data_warehouse_punta_fina_spark.functions.money import pround

    return (
        cand.join(texts.select(F.col(id_col).alias("id_a"), F.col("_t").alias("_ta")), "id_a")
        .join(texts.select(F.col(id_col).alias("id_b"), F.col("_t").alias("_tb")), "id_b")
        .withColumn("dist", F.levenshtein("_ta", "_tb").cast("int"))
        .withColumn("ratio", pround(ratio, 6, 12).cast("double"))
        .filter(F.col("ratio") <= max_ratio)
        .select("id_a", "id_b", "hamming", "dist", "ratio")
    )


def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected-component clustering of duplicate pairs — the step that
    turns near-dup PAIRS into a keep/drop decision (one canonical doc per
    component). Iterative min-label propagation: each round every node
    adopts the smallest label among itself and its neighbors; converges in
    O(component diameter) rounds (checked via an exact count per round —
    the standard distributed connected-components loop; for web-scale
    graphs swap in the large-star/small-star variant).

    ``ids`` = one row per document (singletons become their own cluster);
    ``pairs`` = (id_a, id_b) undirected edges. Returns (id, cluster_id,
    is_canonical).
    """
    edges = materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the pre-round label through the checkpoint so the
        # convergence check is a bare filter-count over the materialized
        # blocks instead of a new-vs-old self-join — one fewer join +
        # exchange per round (round-15; same fixed point, same rounds)
        new_labels = materialize(
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                F.col("node"),
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
                F.col("label").alias("_prev"),
            )
        )
        changed = new_labels.filter(F.col("label") != F.col("_prev")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


def dedup_clusters_star(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the web-scale variant of :func:`dedup_clusters`.

    Min-label propagation converges in O(component diameter) rounds; a
    path-shaped duplicate chain of length 10⁶ (common in scraped corpora:
    A≈B≈C≈…) would need 10⁶ rounds. The star operations contract paths in
    O(log n) rounds instead:

    - large-star: every node's strictly-larger neighbors re-attach to the
      minimum of its closed neighborhood;
    - small-star: every node and its ≤ neighbors attach to that minimum.

    Each round is two groupBy-min aggregations + joins on the edge list —
    no per-node state, no driver data. Converges when the edge multiset
    is a fixed point (all stars flat); labels then read directly off the
    final edges. Output schema matches :func:`dedup_clusters`:
    (id, cluster_id, is_canonical).
    """
    und = materialize(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def sym(e: DataFrame) -> DataFrame:
        return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()

    def closed_min(adj: DataFrame) -> DataFrame:
        return adj.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))

    edges = und
    for _ in range(max_iter):
        adj = sym(edges)
        mins = closed_min(adj)
        # large-star: {u,v} with v > u  →  (v, min(Γ⁺(u)))
        large = (
            adj.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        adj2 = sym(large)
        mins2 = closed_min(adj2)
        # small-star: ≤ neighbors AND the node itself attach to the min
        small_nbrs = (
            adj2.filter(F.col("v") <= F.col("u"))
            .join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_links = mins2.select(F.col("u"), F.col("m").alias("v"))
        new_edges = materialize(
            small_nbrs.unionByName(self_links)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        if (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).count() == 0
        ):
            edges = new_edges
            break
        edges = new_edges
    # at the fixed point every edge is (node, component_min)
    labels = sym(edges).groupBy("u").agg(F.min("v").alias("label"))
    labels = labels.withColumn("label", F.least("label", "u"))
    out = (
        ids.select(F.col(id_col).alias("node"))
        .join(labels, F.col("node") == F.col("u"), "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
        )
    )
    return out.withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash fingerprint (default 32 bits for portable arithmetic).

    Per token, md5 hex chars supply the bit source; each occurrence votes
    ±1 per bit; the sign of the vote sum sets the fingerprint bit.
    Shape: explode tokens (map) → one codegen hash aggregate with
    ``bits`` sum expressions (map-side combined, shuffle on the doc id).
    The round-1 version folded the token array once PER BIT — 32
    interpreted array traversals per row; the explode+aggregate form is
    one traversal inside whole-stage codegen. Values are identical, so
    the SQL oracle is unchanged. Near-dup candidates = fingerprints
    grouped by byte bands (:func:`simhash_near_dup_pairs`)."""
    hex_chars = bits // 4
    digits = "0123456789abcdef"
    ex = _spread(df).select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("_tok")
    )
    hx = ex.select(id_col, F.substring(F.md5(F.col("_tok")), 1, hex_chars).alias("_hx"))

    def vote(j: int) -> Column:
        ch = F.substring(F.col("_hx"), j // 4 + 1, 1)
        val = F.instr(F.lit(digits), ch) - 1
        bit = F.shiftright(val, 3 - (j % 4)) % 2
        return (bit * 2 - 1).cast("long")

    per_doc = hx.groupBy(id_col).agg(
        *[F.sum(vote(j)).alias(f"_v{j}") for j in range(bits)]
    )
    fingerprint = F.lit(0).cast("long")
    for j in range(bits):
        fingerprint = fingerprint + F.when(
            F.col(f"_v{j}") > 0, F.lit(1 << (bits - 1 - j)).cast("long")
        ).otherwise(F.lit(0))
    return per_doc.select(F.col(id_col), fingerprint.alias("simhash"))
