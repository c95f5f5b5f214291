"""What a persisted index or model was built from, checked on every read.

Every persisted artifact — the LSH band table, the BM25, positional and
IVF-PQ indexes, the NB model — has to prove two things to a reader, and
this module is the only code that knows how either proof is stored:

**Parameters.** The build knobs ride as parquet column metadata on one
data column of the artifact (``band_key``, ``tf``/``df``, ``scid`` or
the stream codebook's ``cid``, the NB model's ``_c``): a ``scheme``
version plus the parameters a reader must agree with. Writers stamp it
with :func:`stamp`; every reader goes through :func:`stored_params`,
which raises when the metadata is absent, the scheme differs, or any
expected parameter is missing or different, and otherwise returns the
stored dict (readers take ``n_buckets``, ``m``, ``dims``, ``n_cells``
from it). There is no opt-out: an artifact that cannot show what it was
built under is rejected, because a mismatched tokenizer, hash scheme or
codebook silently skews every result instead of failing.

**Content.** Parameters cannot see a STALE index: the corpus mutated
after the build, and the stored postings/codes describe a snapshot that
no longer exists. The content half is a fingerprint of the indexed
corpus, stored with the index at build time, XOR/sum-merged exactly on
append, and compared against the live corpus on demand. This module is
the only code that knows how it is stored, merged and compared; an
index family names only the 1-row table that holds it (``stats/`` for
BM25 and positional, where the count column is ``n_docs``;
``fingerprint/`` for IVF-PQ, where it is ``fp_n``):

- :func:`content_fingerprint` — one aggregate over the corpus producing
  (row count, bit-XOR of per-row xxhash64, exact decimal SUM of the same
  hashes). XOR alone is blind to even-multiplicity swaps (two rows
  duplicated in one snapshot, two different rows duplicated in another:
  same count, XOR cancels both); the decimal sum — exact, commutative,
  overflow-free below ~1e18 rows — closes that class. The triple is
  collision-RESISTANT, not exact (ADVICE r11): distinct hash multisets
  can agree on all three components (e.g. {0,3} vs {1,2} share count=2,
  xor=3, sum=3), and xxhash64 itself can collide — ~2^-64-scale
  accidental odds, negligible operationally but not a guarantee.
  Order- and partitioning-independent by construction.
- :func:`stored_fingerprint` reads a stored table (None when it is
  missing or any component is absent or NULL); :func:`is_fresh`
  compares it with the live corpus, and :func:`require_fresh` raises
  the one :class:`StaleIndexError`. Each ``*_index_is_fresh`` is one
  call to :func:`is_fresh`, and a missing index is stale in every
  family. There is no refresh function: a caller that finds an index
  stale rebuilds it with the family's ``*_build_index``.
- :func:`merge_fingerprints` and :func:`fingerprint_columns` are the
  append side: the exact merge of a stored fingerprint with a batch's,
  and the typed columns every writer stores it as.

Cost note: a freshness check is one full corpus scan (count + two
hash aggregates, no shuffle beyond the final 1-row reduce) — it is the
refresh-orchestration primitive (run once per ingest cycle), NOT a
per-query guard. Per-query staleness at 100 TB is a snapshot-versioning
concern (the corpus path encodes the snapshot id); the content
fingerprint is the defense for corpora that mutate in place.

Reference parity note: the reference engine rebuilds its artifacts from
scratch every run (single-process pandas), so staleness cannot arise
there; this discipline exists because OUR indexes are durable.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.sources.readers import data_entries, read_parquet


def stamp(col: str, scheme: str, **params) -> Column:
    """``col`` carrying the artifact's build parameters as column metadata
    (``scheme`` first, then ``params`` in the order given). Parquet keeps
    field metadata in the footer, so it survives the write and every
    read, partitioned or not."""
    return F.col(col).alias(col, metadata={"scheme": scheme, **params})


def stored_params(
    df: DataFrame, col: str, where: str, scheme: str, **expected
) -> dict:
    """The build parameters stamped on ``df[col]``, checked against the
    reader's ``scheme`` and ``expected`` values. Raises ``ValueError``
    naming ``where`` (the artifact) when the metadata is absent, or
    listing every stored-vs-expected pair that differs (a key missing
    from the stored dict differs). Returns the stored dict."""
    stored = dict(df.schema[col].metadata or {}) if col in df.columns else {}
    if not stored:
        raise ValueError(
            f"{where} carries no parameter metadata on {col!r} (expected scheme "
            f"{scheme!r}): it was not written by this engine, predates the "
            "versioned scheme, or was copied without its column metadata. An "
            "artifact that cannot show what it was built under is rejected; "
            "rebuild it."
        )
    drift = [
        f"{k}: stored {repr(stored[k]) if k in stored else '<missing>'} "
        f"!= expected {v!r}"
        for k, v in {"scheme": scheme, **expected}.items()
        if k not in stored or stored[k] != v
    ]
    if drift:
        raise ValueError(
            f"{where} was built under different parameters than this call "
            f"({'; '.join(drift)}); its results would be silently wrong. "
            "Rebuild it or pass matching parameters."
        )
    return stored


class StaleIndexError(ValueError):
    """A persisted index's stored corpus fingerprint does not match the
    live corpus, or the index has none: it describes a snapshot that no
    longer exists. Raised only by :func:`require_fresh`; rebuild the
    index with its family's ``*_build_index`` instead of searching it."""


class Fingerprint(NamedTuple):
    """A corpus content fingerprint as Python ints: row count, bit-XOR
    and exact sum of the per-row xxhash64. A component read from a
    stored table is None where its column is absent or NULL."""

    n: int | None
    xor: int | None
    sum: int | None


#: the fingerprint of an empty corpus, what a maintenance stream's
#: first batch merges into
EMPTY = Fingerprint(0, 0, 0)


def content_fingerprint(df: DataFrame, *cols: str, count: str = "fp_n") -> DataFrame:
    """1-row (count, fp_xor, fp_sum) content fingerprint of ``df``
    projected to ``cols``, its count column named ``count`` (the BM25
    and positional ``stats`` tables call it ``n_docs``) —
    collision-resistant in practice (~2^-64-scale accidental-collision
    odds; see module docstring — NOT a multiset identity),
    order/partitioning independent (count/XOR/sum are all commutative +
    associative), and mergeable under DISJOINT union (counts and sums
    add, XORs xor), which is what lets an append update the stored
    fingerprint in O(batch) without rescanning the indexed corpus."""
    h = F.xxhash64(*[F.col(c) for c in cols])
    return df.agg(
        F.count("*").cast("long").alias(count),
        F.coalesce(F.bit_xor(h), F.lit(0)).cast("long").alias("fp_xor"),
        F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0))
        .cast("decimal(38,0)")
        .alias("fp_sum"),
    )


def fingerprint_of(row: Row) -> Fingerprint:
    """The fingerprint a stored 1-row table holds. The count is read
    from ``fp_n`` or its ``n_docs`` alias; a component whose column is
    absent (an index built before fingerprints) or NULL (an append chain
    that started there) is None."""
    fields = row.asDict()
    n = fields.get("fp_n", fields.get("n_docs"))
    parts = (n, fields.get("fp_xor"), fields.get("fp_sum"))
    return Fingerprint(*(None if v is None else int(v) for v in parts))


def live_fingerprint(df: DataFrame, *cols: str) -> Fingerprint:
    """Collect the fingerprint of ``df`` over ``cols`` (three scalars)."""
    return fingerprint_of(content_fingerprint(df, *cols).collect()[0])


def stored_fingerprint(spark: SparkSession, path: str) -> Fingerprint | None:
    """The complete fingerprint stored in the 1-row table at ``path``,
    or None when the table is missing (no index, or a stream-built
    positional index) or any component is absent or NULL."""
    if not data_entries(spark, path):
        return None
    fp = fingerprint_of(read_parquet(spark, path).collect()[0])
    return None if None in fp else fp


def is_fresh(corpus: DataFrame, path: str, *cols: str) -> bool:
    """True iff the fingerprint stored at ``path`` equals ``corpus``'s
    over ``cols``. An index without a complete fingerprint is stale —
    unknowable freshness is staleness — and costs no corpus scan."""
    stored = stored_fingerprint(corpus.sparkSession, path)
    return stored is not None and stored == live_fingerprint(corpus, *cols)


def require_fresh(corpus: DataFrame, path: str, *cols: str, where: str) -> None:
    """Raise :class:`StaleIndexError` naming ``where`` unless
    :func:`is_fresh` — the ``verify_corpus=``/``verify_corpora=`` check
    of every persisted-index search."""
    if not is_fresh(corpus, path, *cols):
        raise StaleIndexError(
            f"{where} does not match its live corpus (content fingerprint "
            "mismatch or absent): it describes a snapshot that no longer exists. "
            "Rebuild it with its *_build_index before searching."
        )


def merge_fingerprints(old: Fingerprint, batch: Fingerprint) -> Fingerprint:
    """Exact fingerprint of ``old ∪ batch`` for DISJOINT row sets. The
    count adds whenever ``old``'s is known (the BM25 and positional
    ``n_docs`` must keep counting); the XOR and sum merge only when both
    of ``old``'s are known, else they stay None — the unknown poisons
    the chain, and a later freshness check reports stale, forcing a
    rebuild that re-establishes it."""
    known = old.xor is not None and old.sum is not None
    return Fingerprint(
        None if old.n is None else old.n + batch.n,
        old.xor ^ batch.xor if known else None,
        old.sum + batch.sum if known else None,
    )


def fingerprint_columns(fp: Fingerprint, count: str = "fp_n") -> list[Column]:
    """``fp`` as the three typed literal columns every fingerprint table
    stores — ``count`` and ``fp_xor`` long, ``fp_sum`` decimal(38,0) — a
    None component as a typed NULL."""
    return [
        F.lit(fp.n).cast("long").alias(count),
        F.lit(fp.xor).cast("long").alias("fp_xor"),
        F.lit(None if fp.sum is None else str(fp.sum)).cast("decimal(38,0)").alias("fp_sum"),
    ]
