"""Persisted-index DIRECTORY lifecycle administration (round-14).

Every compaction in the triptych (``retrieval.bm25_compact_index``,
``retrieval.positional_compact_index``, ``similarity.ivfpq_compact_index``)
deliberately writes src → dst and leaves the cut-over to a caller path
swap — the lakehouse convention, because an in-place overwrite of a live
index is not atomic on object stores. What nothing owned until now is
RETIRING the superseded layout: a maintenance stream that ran for months
leaves thousands of small files plus an epoch history (``prune_epochs``
keeps ≥ 2 epochs forever), and at 100 TB the dead layouts are real money.

:func:`retire_index_dir` closes the lifecycle with the ``TxTable.vacuum``
horizon discipline (``sources/txlog.py``): it REFUSES unless the
superseding index validates against the same family/scheme AND describes
the same corpus content (fingerprint / doc-count cross-check), refuses a
src newer than the age horizon (the grace window for in-flight readers
that resolved the old path before the swap), then tombstones and deletes.
The tombstone (``_RETIRED.json``) is the crucial part: a retired
directory must not look ABSENT, because absent is the legitimate
first-batch state of every maintenance stream — a replayed/resumed
stream pointed at the retired path would silently re-bootstrap a fork.
``streaming.epochs.guard_stream_ownership`` (which every maintenance
batch calls first) raises :class:`~..streaming.epochs.RetiredArtifactError`
on the tombstone instead.

The epoch history dies WITH the fragmented layout — retirement deletes
``*_epochs`` alongside the data directories, which is the terminal
graduation step ``prune_epochs``'s keep-≥2 invariant cannot take on its
own (the newest epoch must stay alive while the stream lives; once the
index is superseded, no batch can ever replay into it, so the whole
chain is dead weight).

Family scope: exactly the three COMPACTION families (bm25 / positional /
ivfpq), because retirement's supersede precondition — "dst is
content-identical to src" — is what compaction guarantees. The other two
persisted artifacts need no retirement owner: the NB model's maintenance
stream publishes flat vocabulary-sized tables in place (no per-batch
fragmentation; its epoch history is bounded by ``prune_epochs``), and
the MinHash band index is a single bucketed table rebuilt/overwritten in
place by ``minhash_band_keys`` writes.

Reference parity note: the reference warehouse has no persisted-index
subsystem at all (it is a PG-backed ETL — see SURVEY.md §3.1); this
module administers the engine's own extension-tier artifacts, modeled on
public lakehouse VACUUM/expire-snapshots semantics.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import SparkSession

from data_warehouse_punta_fina_spark.sources.readers import read_parquet

TOMBSTONE = "_RETIRED.json"

# family -> the artifact subdirectories a healthy superseding (batch-
# shaped, compacted) index must carry. Validation of dst goes through
# each family's own validated reader so scheme/metadata rejection is
# IDENTICAL to what the searches enforce.
FAMILIES = ("bm25", "positional", "ivfpq")


def _hadoop(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, p


def read_tombstone(spark: SparkSession, index_dir: str) -> dict | None:
    """The parsed ``_RETIRED.json`` under ``index_dir``, or None when the
    directory is live (no tombstone)."""
    jvm, fs, p = _hadoop(spark, index_dir)
    t = jvm.org.apache.hadoop.fs.Path(p, TOMBSTONE)
    if not fs.exists(t):
        return None
    stream = fs.open(t)
    raw = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    stream.close()
    return json.loads(raw)


def _newest_mtime_ms(spark: SparkSession, path: str) -> int:
    """Newest file modification time (epoch ms) anywhere under ``path``
    — Hadoop FS recursive listing, scheme-agnostic."""
    _jvm, fs, p = _hadoop(spark, path)
    newest = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        newest = max(newest, int(st.getModificationTime()))
    return newest


def _validate_supersedes(
    spark: SparkSession, src: str, dst: str, family: str
) -> None:
    """Refuse unless ``dst`` is a valid same-family index describing the
    SAME corpus content as ``src``. Parameter validation reuses the exact
    reader the searches use (``_bm25_read_validated`` /
    ``_pos_read_validated`` / ``freshness.stored_params`` on the IVF-PQ
    codes), so a foreign or metadata-stripped dst fails with the same
    rejection a search would give. Content cross-check compares the published
    corpus fingerprints (``freshness.stored_fingerprint``); a positional
    pair where either side carries none (a stream-built src writes no
    ``stats/``) falls back to comparing distinct doc counts — one
    index-sized aggregate each, the admin-job cost class. A BM25 or
    IVF-PQ src without a complete fingerprint refuses."""
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.freshness import stored_fingerprint

    if family == "bm25":
        from data_warehouse_punta_fina_spark.operators.retrieval import (
            _bm25_read_validated,
        )

        _bm25_read_validated(spark, dst)
        a = stored_fingerprint(spark, f"{src}/stats")
        b = stored_fingerprint(spark, f"{dst}/stats")
    elif family == "positional":
        from data_warehouse_punta_fina_spark.operators.retrieval import (
            _pos_read_validated,
        )

        dst_pos, _n = _pos_read_validated(spark, dst)
        src_pos, _sn = _pos_read_validated(spark, src)
        a = stored_fingerprint(spark, f"{src}/stats")
        b = stored_fingerprint(spark, f"{dst}/stats")
        if a is None or b is None:
            # stream-built src has no stats/ — compare distinct doc
            # counts instead (content identity at posting granularity is
            # what compaction preserves; the doc-id column is whatever
            # is not part of the posting layout)
            def _n_docs(df):
                idc = [
                    c
                    for c in df.columns
                    if c not in ("term", "tf", "positions", "bucket", "ingest_batch")
                ][0]
                return (
                    int(
                        df.agg(
                            F.countDistinct(F.col(idc)).alias("n")
                        ).collect()[0]["n"]
                    ),
                    0,
                    0,
                )

            a, b = _n_docs(src_pos), _n_docs(dst_pos)
    elif family == "ivfpq":
        from data_warehouse_punta_fina_spark.operators.freshness import stored_params
        from data_warehouse_punta_fina_spark.operators.similarity import IVFPQ_SCHEME

        stored_params(
            read_parquet(spark, f"{dst}/codes"),
            "scid",
            f"superseding IVF-PQ index at {dst!r}",
            IVFPQ_SCHEME,
        )
        a = stored_fingerprint(spark, f"{src}/fingerprint")
        b = stored_fingerprint(spark, f"{dst}/fingerprint")
    else:
        raise ValueError(f"unknown index family {family!r}; expected one of {FAMILIES}")
    if a is None or a != b:
        raise ValueError(
            f"superseding index at {dst!r} does not describe the same corpus as "
            f"{src!r} (content fingerprint {b} != {a}) — retiring src would delete "
            "the only index over its corpus. Compact src into dst first "
            "(compaction preserves content), then retire."
        )


def retire_index_dir(
    spark: SparkSession,
    src_index_dir: str,
    superseded_by: str,
    family: str,
    min_age_seconds: float = 3600.0,
) -> dict:
    """Retire a superseded index layout: validate ``superseded_by`` is a
    live same-family index over the same corpus, enforce the age
    horizon, then replace ``src_index_dir``'s contents (data directories
    AND the ``*_epochs`` history) with a ``_RETIRED.json`` tombstone.

    - **Validation** reuses each family's search-side reader — see
      :func:`_validate_supersedes`. A dst that is itself retired, absent,
      foreign-schemed, or over a different corpus refuses.
    - **Age horizon** (``min_age_seconds``, default 1 h — the same grace
      class as the entry module's family-dir pruning and
      ``TxTable.vacuum``'s retained-snapshot horizon): refuses while any
      file under src was written more recently, protecting readers that
      resolved the old path just before the caller's swap. Pass 0 only
      when no concurrent readers can exist (tests, single-writer jobs).
    - **Tombstone before delete**: a crash mid-retirement leaves the
      tombstone plus partial data — every maintenance surface already
      refuses tombstoned paths (``guard_stream_ownership``), so the
      partial state is loudly unusable, never silently adopted.

    Returns ``{"retired", "superseded_by", "family", "n_deleted"}``."""
    src = src_index_dir.rstrip("/")
    dst = superseded_by.rstrip("/")
    if src == dst:
        raise ValueError("src_index_dir and superseded_by are the same path")
    if family not in FAMILIES:
        raise ValueError(f"unknown index family {family!r}; expected one of {FAMILIES}")
    jvm, fs, p = _hadoop(spark, src)
    if not fs.exists(p):
        raise FileNotFoundError(f"no index directory at {src!r}")
    if read_tombstone(spark, src) is not None:
        raise ValueError(f"index at {src!r} is already retired")
    if read_tombstone(spark, dst) is not None:
        raise ValueError(
            f"superseding index at {dst!r} is itself retired — refusing"
        )
    _validate_supersedes(spark, src, dst, family)
    age = time.time() - _newest_mtime_ms(spark, src) / 1000.0
    if age < float(min_age_seconds):
        raise ValueError(
            f"index at {src!r} was written {age:.0f}s ago, inside the "
            f"{min_age_seconds:.0f}s retirement horizon — in-flight readers that "
            "resolved this path before the swap may still be scanning it. "
            "Retry after the horizon, or lower min_age_seconds only when no "
            "concurrent readers can exist."
        )
    payload = {
        "superseded_by": dst,
        "family": family,
        "retired_at_epoch_s": int(time.time()),
    }
    t = jvm.org.apache.hadoop.fs.Path(p, TOMBSTONE)
    out = fs.create(t, True)
    out.write(bytearray(json.dumps(payload).encode("utf-8")))
    out.close()
    n_deleted = 0
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name == TOMBSTONE:
            continue
        fs.delete(st.getPath(), True)
        n_deleted += 1
    return {"retired": src, "superseded_by": dst, "family": family, "n_deleted": n_deleted}
