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
append, and compared against the live corpus on demand:

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
- ``*_index_is_fresh`` / ``*_refresh_index`` live next to their index
  (``operators/retrieval.py`` for BM25, ``operators/similarity.py`` for
  IVF-PQ) and implement the reject-then-rebuild cycle: stale → rebuild,
  fresh → no-op.

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

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


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
    live corpus — the index describes a snapshot that no longer exists.
    Rebuild (``*_refresh_index``) instead of searching it."""


#: column names of the fingerprint triple, shared by both index families
FP_COLS = ("fp_n", "fp_xor", "fp_sum")


def content_fingerprint(df: DataFrame, *cols: str) -> DataFrame:
    """1-row (fp_n, fp_xor, fp_sum) content fingerprint of ``df``
    projected to ``cols`` — collision-resistant in practice (~2^-64-scale
    accidental-collision odds; see module docstring — NOT a multiset
    identity), order/partitioning independent (count/XOR/sum are all
    commutative + associative), and mergeable under DISJOINT union
    (counts and sums add, XORs xor), which is what lets an append update
    the stored fingerprint in O(batch) without rescanning the indexed
    corpus."""
    h = F.xxhash64(*[F.col(c) for c in cols])
    return df.agg(
        F.count("*").cast("long").alias("fp_n"),
        F.coalesce(F.bit_xor(h), F.lit(0)).cast("long").alias("fp_xor"),
        F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0))
        .cast("decimal(38,0)")
        .alias("fp_sum"),
    )


def fingerprint_row(df: DataFrame, *cols: str) -> Row:
    """Collect the 1-row fingerprint (three scalars — metadata-sized)."""
    return content_fingerprint(df, *cols).collect()[0]


def rows_match(stored, live) -> bool:
    """Compare two fingerprint rows field-by-field; a ``stored`` row with
    any NULL component (a pre-fingerprint index, or an append chain that
    started before fingerprints existed) is UNKNOWABLE and reported
    stale — the safe default for a refresh decision."""
    for c in FP_COLS:
        s = stored[c] if c in stored.__fields__ else None
        if s is None:
            return False
        if s != live[c]:
            return False
    return True


def merge_fingerprints(old: Row | None, batch: Row):
    """Exact fingerprint of ``old ∪ batch`` for DISJOINT row sets, as a
    (fp_n, fp_xor, fp_sum) tuple — or ``(None, None, None)`` when the
    old fingerprint is absent/partial (the unknown poisons the chain;
    a later freshness check then reports stale, forcing a rebuild that
    re-establishes it)."""
    if old is None:
        return (None, None, None)
    for c in FP_COLS:
        if c not in old.__fields__ or old[c] is None:
            return (None, None, None)
    return (
        int(old["fp_n"]) + int(batch["fp_n"]),
        int(old["fp_xor"]) ^ int(batch["fp_xor"]),
        int(old["fp_sum"]) + int(batch["fp_sum"]),
    )
