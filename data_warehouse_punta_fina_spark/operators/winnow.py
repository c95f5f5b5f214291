"""Winnowing document fingerprints + fingerprint-overlap detection.

The third local-fingerprint family next to MinHash (set resemblance) and
SimHash (vector similarity): winnowing (Schleimer, Wilkerson, Aiken,
SIGMOD 2003 — the MOSS algorithm) selects, from the rolling k-gram hash
stream of a document, the minimum hash of every w-length window
(rightmost minimum on ties). The selection guarantees that any shared
substring of at least w+k-1 tokens between two documents contributes at
least one IDENTICAL selected fingerprint to both — position-robust local
evidence that MinHash (whole-document resemblance) and SimHash (global
bit profile) cannot give. Real curation pipelines use it for
quote/boilerplate/plagiarism overlap at paragraph granularity.

Engine-exactness: k-gram hashes are the first 8 hex digits of md5 (exact
32-bit integers on any engine); window minima are over exact integers;
the rightmost-min tie rule is encoded arithmetically (see
``winnow_fingerprints``) so no engine-specific window tie behavior can
leak in. Density is ~2/(w+1) fingerprints per k-gram (the paper's bound),
so the fingerprint table is a constant fraction of the token stream.

Scale shape: fingerprint extraction is one explode + per-document windows
(partitioned by the document id — bounded partitions, no global window);
the overlap join shuffles on the fingerprint hash (the same blocked-join
shape as the LSH band join), with a document-frequency cap dropping
ubiquitous fingerprints (corpus-wide boilerplate) before the self-join so
a viral fingerprint cannot quadratic-blow the join at 100 TB.

Not in the reference (no text tier there); semantics per the public
SIGMOD 2003 paper only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround6
from data_warehouse_punta_fina_spark.functions.text import tokens
from data_warehouse_punta_fina_spark.operators.materialize import materialize

# positions are packed below the 32-bit k-gram hash in one bigint:
# comb = hash * 2^31 + (2^31 - 1 - pos). Minimizing comb minimizes the
# hash first and, among equal hashes, PREFERS THE LARGER POSITION — the
# paper's rightmost-minimum tie rule — while staying inside a signed
# 64-bit integer ((2^32-1)*2^31 + 2^31-1 = 2^63-1 exactly).
_POS_SPAN = 1 << 31


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Select winnowing fingerprints: one row per selected k-gram —
    ``(id_col, fp_hash, fp_pos)`` with ``fp_hash`` the 32-bit k-gram hash
    and ``fp_pos`` the 0-based k-gram position it was selected at.

    Every window of ``w`` consecutive k-gram hashes contributes its
    minimum (rightmost on ties); a document with fewer than ``w`` k-grams
    contributes the minimum of what it has (one truncated window);
    documents with fewer than ``k`` tokens have no k-grams and no rows.
    Duplicate selections (the same (hash, pos) chosen by overlapping
    windows) collapse via DISTINCT — the standard winnowing output.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    from data_warehouse_punta_fina_spark.operators.dedup import _spread

    # spread the RAW rows first: tokenize + gram building + md5 are the
    # heavy steps and must not run on a small scan's single split
    # (projections don't migrate across the exchange). Grams build via
    # posexplode + window lead — the whole-stage-codegen shape
    # (ngram_rows/shingle_rows' measured ~4× win over the interpreted
    # transform+slice HOF) — and the lead window shares its
    # (id, pos) exchange+sort with the selection windows below.
    ex = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    wlead = Window.partitionBy(id_col).orderBy("pos")
    led = ex.select(
        F.col(id_col),
        F.col("pos"),
        *[F.lead("tok", j).over(wlead).alias(f"_t{j}") for j in range(k)],
    )
    g = led.filter(F.col(f"_t{k - 1}").isNotNull()).select(
        F.col(id_col),
        F.col("pos"),
        F.concat_ws(" ", *[F.col(f"_t{j}") for j in range(k)]).alias("gram"),
    )
    h32 = F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
    comb = h32 * F.lit(_POS_SPAN) + (F.lit(_POS_SPAN - 1) - F.col("pos"))
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    last = Window.partitionBy(id_col)
    sel = (
        g.select(F.col(id_col), F.col("pos"), comb.alias("_comb"))
        .withColumn("_sel", F.min("_comb").over(win))
        .withColumn("_last", F.max("pos").over(last))
        .filter((F.col("pos") >= w - 1) | (F.col("pos") == F.col("_last")))
        .select(id_col, "_sel")
        .distinct()
    )
    return sel.select(
        F.col(id_col),
        F.shiftright(F.col("_sel"), 31).alias("fp_hash"),
        (F.lit(_POS_SPAN - 1) - F.pmod(F.col("_sel"), F.lit(_POS_SPAN)))
        .cast("int")
        .alias("fp_pos"),
    )


def winnow_overlap(
    fp: DataFrame,
    id_col: str = "doc_id",
    max_df: int = 50,
    min_shared: int = 3,
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints: ``(id_a, id_b,
    shared_fp, fp_a, fp_b, overlap)`` where ``overlap`` = shared distinct
    hashes / min(|fp_a|, |fp_b|) (containment-style, round-6, double).

    Fingerprint hashes seen in more than ``max_df`` documents are dropped
    BEFORE the self-join (corpus boilerplate — their pair lists grow
    quadratically and carry no discriminative signal; the same cap the
    LSH band join applies). ``fp_a``/``fp_b`` count each document's
    distinct hashes over the SAME capped vocabulary, so ``overlap`` stays
    a true containment in [0, 1].
    """
    # the fingerprint table feeds four consumers (df cap, sizes, both join
    # sides) — materialize once so the explode+window extraction runs once
    hashes = materialize(fp.select(F.col(id_col), "fp_hash").distinct())
    rare = (
        hashes.groupBy("fp_hash")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fp_hash")
    )
    capped = materialize(hashes.join(rare, "fp_hash"))
    sizes = capped.groupBy(id_col).agg(F.count("*").alias("_n"))
    a = capped.select(F.col(id_col).alias("id_a"), "fp_hash")
    b = capped.select(F.col(id_col).alias("id_b"), "fp_hash")
    pairs = (
        a.join(b, "fp_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )
    return (
        pairs.join(sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("fp_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("fp_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("shared_fp").cast("int").alias("shared_fp"),
            F.col("fp_a").cast("int").alias("fp_a"),
            F.col("fp_b").cast("int").alias("fp_b"),
            pround6(
                F.col("shared_fp").cast("double")
                / F.least("fp_a", "fp_b").cast("double")
            )
            .cast("double")
            .alias("overlap"),
        )
    )
