"""Byte-pair-encoding merge training over a corpus (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").

Tokenizer training is a corpus-scale job in any LLM data pipeline: the
merge table that defines a BPE tokenizer is learned by repeatedly
counting adjacent symbol pairs over the corpus vocabulary and merging
the most frequent pair. The classic scale-out decomposition (the one
Hugging Face ``tokenizers`` and SentencePiece use) is:

1. ONE corpus-scale pass: word frequencies (a word count — explode +
   map-side-combined groupBy; the only stage that touches documents);
2. per-merge iterations over the VOCABULARY table (distinct words +
   freq), which is millions of rows where the corpus is billions —
   pair counting weighted by word freq, argmax, merge rewrite.

Everything here is exact integer counting + literal string rewrites, so
an external SQL oracle reproduces the learned merges bit-for-bit
(ties break lexicographically on the pair string).

Merge rewrite without a UDF: symbols are space-joined strings
("l o w </w>"). A literal ``replace(sym, 'a b', 'ab')`` would corrupt
adjacent overlaps ("a b a b": the consumed boundary space hides the
second occurrence), so the rewrite doubles the separators first —
``' ' + replace(sym,' ','  ') + ' '`` — where every occurrence of
`` a  b `` is disjoint; replace is then greedy-left non-overlapping
(exactly BPE's merge order), and collapsing double spaces restores the
canonical form. Pure string builtins, whole-stage codegen, identical
semantics in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.text import tokens
from data_warehouse_punta_fina_spark.operators.materialize import materialize

# single end-of-word marker symbol (standard BPE: distinguishes word-final
# subwords); tokens are [a-z0-9]+ so it can never collide with content
EOW = "</w>"


def word_frequency(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, freq) over the corpus — the one corpus-scale stage of BPE
    training. Plain word count: explode + groupBy with map-side combine;
    the shuffle carries (word, partial count), never documents."""
    from data_warehouse_punta_fina_spark.operators.dedup import _spread

    # spread the RAW text rows, tokenize above the exchange — a projection
    # below the repartition would run the tokenize on the scan's splits
    # (ONE task for small files)
    ex = _spread(df.select(F.col(text_col))).select(
        F.explode(tokens(text_col)).alias("word")
    )
    return ex.groupBy("word").agg(F.count("*").alias("freq"))


def _merge_rewrite(sym, pair, merged):
    """Greedy-left non-overlapping pair merge on a space-joined symbol
    string via the doubled-separator trick (module docstring)."""
    doubled = F.concat(F.lit(" "), F.replace(sym, F.lit(" "), F.lit("  ")), F.lit(" "))
    pat = F.concat(F.lit(" "), F.replace(pair, F.lit(" "), F.lit("  ")), F.lit(" "))
    rep = F.concat(F.lit(" "), merged, F.lit(" "))
    return F.trim(F.replace(F.replace(doubled, pat, rep), F.lit("  "), F.lit(" ")))


def bpe_train(words: DataFrame, merges: int = 6) -> DataFrame:
    """Learn the first ``merges`` BPE merge rules from a (word, freq)
    table. Returns one row per merge: (rank, pair, merged, pair_count) —
    the merge table that DEFINES the tokenizer.

    Each iteration over the vocabulary table:
    - adjacent-pair counts weighted by word freq (split + one explode,
      map-side-combined groupBy on the pair string);
    - argmax pair via TakeOrdered-1 (count desc, pair asc — the
      deterministic tie-break; no global sort materializes);
    - vocabulary rewrite: the argmax row rides in as a broadcast
      1-row crossJoin, so the whole train is ONE lazy plan — no
      ``collect`` anywhere, the standard plan-building discipline.

    The vocabulary is checkpointed per iteration (ephemeral, lazy) to
    keep the iteration chain linear — same posture as PageRank's
    supersteps. At web scale the vocab is millions of rows (the corpus
    is billions — only :func:`word_frequency` ever sees it), so
    per-iteration shuffles are vocabulary-sized.

    If the vocabulary exhausts (every word fully merged) before
    ``merges`` rounds, later ranks emit no row.
    """
    vocab = materialize(
        words.select(
            "word",
            "freq",
            F.concat(
                F.rtrim(F.regexp_replace(F.col("word"), "(.)", "$1 ")), F.lit(" " + EOW)
            ).alias("sym"),
        )
    )

    merge_rows = []
    for k in range(1, merges + 1):
        syms = vocab.select(F.split("sym", " ").alias("_l"), "freq")
        pairs = (
            syms.select(
                F.explode(
                    F.transform(
                        # guard: Spark sequence(1, 0) infers step -1 and
                        # yields [1, 0] — single-symbol words must emit NO
                        # pairs, not a reversed range
                        F.when(
                            F.size("_l") >= 2, F.sequence(F.lit(1), F.size("_l") - F.lit(1))
                        ).otherwise(F.array().cast("array<int>")),
                        lambda i: F.concat(
                            F.element_at("_l", i.cast("int")),
                            F.lit(" "),
                            F.element_at("_l", (i + F.lit(1)).cast("int")),
                        ),
                    )
                ).alias("pair"),
                "freq",
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = materialize(  # consumed by the rewrite AND the output
            pairs.orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .select(
                F.col("pair"),
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
        )
        merge_rows.append(best.select(F.lit(k).alias("rank"), "pair", "merged", "pair_count"))
        vocab = materialize(
            vocab.crossJoin(F.broadcast(best)).select(
                "word",
                "freq",
                _merge_rewrite(F.col("sym"), F.col("pair"), F.col("merged")).alias("sym"),
            )
        )

    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


def bpe_apply(words: DataFrame, merge_table: DataFrame, merges: int) -> DataFrame:
    """Apply a learned merge table to a (word, ...) frame: returns the
    input plus ``sym`` — the word's BPE segmentation as a space-joined
    symbol string. Merges MUST apply in rank order (later merges build on
    earlier ones), so the table pivots to one broadcast row of rank-
    indexed columns and the rewrites chain in-plan. ``merges`` bounds the
    unroll (the plan is static; extra ranks beyond the table are no-ops
    via the empty-pattern guard)."""
    one_row = merge_table.groupBy().agg(
        *[
            F.max(F.when(F.col("rank") == k, F.col("pair"))).alias(f"_p{k}")
            for k in range(1, merges + 1)
        ],
        *[
            F.max(F.when(F.col("rank") == k, F.col("merged"))).alias(f"_m{k}")
            for k in range(1, merges + 1)
        ],
    )
    out = words.crossJoin(F.broadcast(one_row))
    sym = F.concat(F.rtrim(F.regexp_replace(F.col("word"), "(.)", "$1 ")), F.lit(" " + EOW))
    for k in range(1, merges + 1):
        # missing rank (exhausted vocab) → NULL pair; coalesce to a
        # never-matching pattern so the rewrite is a no-op
        sym = _merge_rewrite(
            sym,
            F.coalesce(F.col(f"_p{k}"), F.lit("\x00 \x00")),
            F.coalesce(F.col(f"_m{k}"), F.lit("\x00\x00")),
        )
    return out.select(*words.columns, sym.alias("sym"))


def bpe_segmentation_oracle_sql(word_counts_sql: str, merges: int = 6) -> str:
    """Oracle for the APPLIED tokenizer: (word, sym) after ``merges``
    rounds — i.e. the final vocab CTE of :func:`bpe_oracle_sql`'s unroll,
    exposed so composed queries (per-doc token counts) can reuse the
    exact same training chain."""
    full = bpe_oracle_sql(word_counts_sql, merges)
    # keep the WITH chain, swap the final merge-table SELECT for the vocab
    head = full.rsplit("\nSELECT 1 AS rank", 1)[0]
    return head + f"\nSELECT word, sym FROM v{merges}"


def bpe_oracle_sql(word_counts_sql: str, merges: int = 6) -> str:
    """DuckDB twin of :func:`bpe_train`, generated for the same number of
    merges from the same (word, freq) source SQL — the unrolled-iteration
    pattern (trained-IVF precedent). One CTE pair per merge: pair counts
    from the current vocab, argmax (count desc, pair asc), rewrite."""
    ctes = [
        f"""v0 AS (
  SELECT word, freq,
         rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' {EOW}' AS sym
  FROM ({word_counts_sql}) wc
)"""
    ]
    for k in range(1, merges + 1):
        prev = f"v{k-1}"
        ctes.append(
            f"""p{k} AS (
  SELECT pair, SUM(freq) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(L)), i -> L[i] || ' ' || L[i+1])) AS pair, freq
    FROM (SELECT string_split(sym, ' ') AS L, freq FROM {prev}) t
  ) GROUP BY pair
)"""
        )
        ctes.append(
            f"""b{k} AS (SELECT pair, replace(pair, ' ', '') AS merged, cnt FROM p{k} ORDER BY cnt DESC, pair LIMIT 1)"""
        )
        ctes.append(
            f"""v{k} AS (
  SELECT word, freq,
         trim(replace(replace(
             ' ' || replace(sym, ' ', '  ') || ' ',
             (SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM b{k}),
             (SELECT ' ' || merged || ' ' FROM b{k})
         ), '  ', ' ')) AS sym
  FROM {prev}
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {k} AS rank, pair, merged, CAST(cnt AS BIGINT) AS pair_count FROM b{k}"
        for k in range(1, merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects
