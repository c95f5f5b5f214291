"""A minimal parquet transaction log: lakehouse semantics without a
lakehouse jar.

The reference's `incremental`/`upsert` load strategies are stubs that
fall back to truncate (`loaders/database_loader.py:204-212`), and the
sandbox carries no Delta/Iceberg jar — so this implements the core of
what those formats provide, natively, on top of plain parquet:

- **Atomic commits**: data files are written to a per-commit directory
  first; the commit is the CREATION of ``_txlog/<version>.json`` with
  ``open(..., 'x')`` — exclusive create either fully succeeds or fully
  fails, so readers never observe a half-commit. A losing concurrent
  writer retries against the next version (its already-written files
  belong only to its own commit attempt, so no cleanup hazard).
- **Snapshot isolation + time travel**: a read replays the log up to a
  version — ``append`` adds files, ``overwrite`` resets the set — and
  reads exactly those files. Old versions stay readable forever (until
  a future VACUUM would remove unreferenced files).
- **MERGE-ish upsert**: read-current → ``operators.scd.type1_upsert`` →
  overwrite-commit: the Delta ``MERGE INTO`` (whenMatched update /
  whenNotMatched insert) semantics as one snapshot transition.
- **OPTIMIZE**: ``compact()`` rewrites the current snapshot into few
  fat files as a new overwrite commit — old versions untouched.

Scope honesty: exclusive-create is atomic on POSIX/HDFS; on S3 the real
systems use conditional PUTs / a commit service — same protocol, swap
the primitive. The log stores the schema JSON so an empty table (or an
all-overwritten one) still reads with its schema.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_warehouse_punta_fina_spark.sources.generators import literal_table


class CommitConflict(RuntimeError):
    pass


class TxTable:
    """A transactional parquet table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, "_txlog")
        self.data_dir = os.path.join(path, "data")

    # -- log plumbing -----------------------------------------------------
    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json")
        )

    def _entry(self, v: int) -> dict:
        with open(os.path.join(self.log_dir, f"{v:08d}.json")) as fh:
            return json.load(fh)

    def _commit(
        self, action: str, files: list[str], schema_json: str, expected_base: int | None = None
    ) -> int:
        """Exclusive-create the next version file; retry on conflict."""
        return self._commit_raw(
            {
                "action": action,
                "files": files,
                "schema": schema_json,
                "stats": self._file_stats(files),
            },
            expected_base=expected_base,
        )

    def _file_stats(self, files: list[str]) -> dict:
        """Per-file column min/max from the parquet footers — the
        data-skipping statistics a lakehouse log carries on every
        add-file entry (Delta `stats`, Iceberg manifest bounds). Read
        driver-side from footer metadata only (file-count-sized work, no
        data scan: the writers already computed the stats). Only
        int/float/string/bool leaves are recorded; columns without
        usable footer statistics are simply absent (reads keep such
        files)."""
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for rel in files:
            try:
                md = pq.ParquetFile(os.path.join(self.data_dir, rel)).metadata
            except Exception:  # pragma: no cover — unreadable footer: no stats
                continue
            cols: dict[str, list] = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    st = c.statistics
                    if st is None or not st.has_min_max:
                        continue
                    try:
                        lo, hi = st.min, st.max
                    except Exception:
                        # pyarrow cannot CAST some footer statistics to
                        # Python values (e.g. decimal128 raises
                        # ArrowNotImplementedError) — such columns simply
                        # carry no skip stats, they must not fail a COMMIT
                        continue
                    if isinstance(lo, bytes):
                        try:
                            lo, hi = lo.decode(), hi.decode()
                        except UnicodeDecodeError:
                            continue
                    if not isinstance(lo, (int, float, str, bool)):
                        continue
                    name = c.path_in_schema
                    if name in cols:
                        cols[name] = [min(cols[name][0], lo), max(cols[name][1], hi)]
                    else:
                        cols[name] = [lo, hi]
            if cols:
                out[rel] = cols
        return out

    def files_overlapping(self, col: str, lo, hi, version: int | None = None) -> list[str]:
        """The snapshot's files whose [min, max] for ``col`` intersects
        [lo, hi] — files with no recorded stats are conservatively kept.
        This is log-level data skipping: pruning happens BEFORE Spark
        ever lists or opens a file, from driver-side log metadata alone
        (at 100 TB the difference between "scan 3 files" and "plan over
        800k splits so row-group pruning can reject them")."""
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no transaction log at {self.path}")
        upto = vs[-1] if version is None else version
        files, _, _ = self._snapshot_files(upto)
        # stats ride on the commit that ADDED each file — walk the log
        stats: dict[str, dict] = {}
        for v in self._versions():
            if v > upto:
                break
            stats.update(self._entry(v).get("stats") or {})
        kept = []
        for f in files:
            rng = (stats.get(f) or {}).get(col)
            if rng is None or not (hi < rng[0] or lo > rng[1]):
                kept.append(f)
        return kept

    def read_where(self, col: str, lo, hi, version: int | None = None) -> DataFrame:
        """``read().filter(col BETWEEN lo AND hi)`` with log-level file
        skipping: only footer-stat-overlapping files reach the Spark
        scan; the residual BETWEEN still applies (stats prune files, not
        rows)."""
        files, schema_json, _ = self._snapshot_files(
            self._versions()[-1] if version is None else version
        )
        kept = self.files_overlapping(col, lo, hi, version)
        schema = T.StructType.fromJson(json.loads(schema_json))
        cond = F.col(col).between(lo, hi)
        if not kept:
            return literal_table(self.spark, [], schema).filter(cond)
        paths = [os.path.join(self.data_dir, f) for f in kept]
        return self.spark.read.schema(schema).parquet(*paths).filter(cond)

    def _write_files(self, df: DataFrame) -> list[str]:
        sub = f"commit-{uuid.uuid4().hex}"
        out = os.path.join(self.data_dir, sub)
        df.write.mode("overwrite").parquet(out)
        return [
            os.path.join(sub, f)
            for f in os.listdir(out)
            if f.endswith(".parquet") and not f.startswith(".")
        ]

    # -- public API -------------------------------------------------------
    def append(self, df: DataFrame, evolve: bool = False) -> int:
        """Append with Delta-style SCHEMA ENFORCEMENT: a batch whose
        schema differs from the table's is rejected with the column-level
        diff (`operators.quality.schema_diff`) unless ``evolve=True``,
        which permits ADDITIVE evolution only — existing columns must
        keep their exact types; new columns are allowed, and the commit
        records the widened schema (older files read with NULLs for the
        new columns — parquet schema projection). Removals and type
        changes always raise: silently narrowing a 100 TB table is how
        downstream readers break at 3am."""
        vs = self._versions()
        current = None
        for v in vs:
            e = self._entry(v)
            if e.get("schema"):
                current = e["schema"]
        if current is not None and current != df.schema.json():
            from data_warehouse_punta_fina_spark.operators.quality import schema_diff

            cur_schema = T.StructType.fromJson(json.loads(current))
            diff = schema_diff(cur_schema, df.schema)
            breaking = [d for d in diff if d["change"] != "added"]
            if breaking or not evolve:
                detail = "; ".join(
                    f"{d['column']}: {d['change']}"
                    f" ({d['from_type']} -> {d['to_type']})"
                    for d in diff
                ) or "field order/metadata differs"
                kind = "breaking schema change" if breaking else "schema change"
                raise ValueError(
                    f"append rejected — {kind} vs the table schema: {detail}. "
                    "Additive evolution needs evolve=True; removals/type changes "
                    "need an explicit overwrite."
                )
        return self._commit("append", self._write_files(df), df.schema.json())

    def overwrite(self, df: DataFrame) -> int:
        return self._commit("overwrite", self._write_files(df), df.schema.json())

    def upsert(self, updates: DataFrame, keys: list[str]) -> int:
        """MERGE: matched rows replaced, unmatched inserted — one
        snapshot transition (Delta's whenMatchedUpdateAll /
        whenNotMatchedInsertAll). Conflict-checked: raises
        :class:`CommitConflict` if the log advanced since the snapshot
        was read (see ``_commit_raw``)."""
        from data_warehouse_punta_fina_spark.operators.scd import type1_upsert

        base = self._versions()[-1]
        merged = type1_upsert(self.read(), updates, keys)
        return self._commit(
            "overwrite", self._write_files(merged), merged.schema.json(), expected_base=base
        )

    def scd2_commit(
        self,
        updates: DataFrame,
        key: str,
        tracked: list[str],
        effective_date,
        end_of_time: str = "9999-12-31",
    ) -> int:
        """SCD2 MERGE as one snapshot transition: close changed current
        versions, append new versions/members
        (``operators.scd.scd2_merge``), commit as an overwrite — the
        other Delta MERGE flavor, with every historical dimension state
        still readable via time travel."""
        from data_warehouse_punta_fina_spark.operators.scd import scd2_merge

        base = self._versions()[-1]
        merged = scd2_merge(self.read(), updates, key, tracked, effective_date, end_of_time)
        return self._commit(
            "overwrite", self._write_files(merged), merged.schema.json(), expected_base=base
        )

    def append_stream_batch(self, df: DataFrame, stream_id: str, batch_id: int) -> int | None:
        """Idempotent append for a streaming ``foreachBatch`` sink: the
        commit records (stream_id, batch_id), and a batch that is already
        in the log is SKIPPED (returns None) — so a failure-replayed
        micro-batch lands exactly once even though foreachBatch only
        guarantees at-least-once delivery. This is the Delta
        ``txnAppId``/``txnVersion`` idempotent-writer protocol on the
        native log. ``stream_id`` should be stable per query (e.g. the
        checkpoint path); batch ids come from foreachBatch.
        """
        for v in self._versions():
            e = self._entry(v)
            if e.get("stream_id") == stream_id and e.get("stream_batch_id") == batch_id:
                return None
        files = self._write_files(df)
        return self._commit_raw(
            {
                "action": "append",
                "files": files,
                "schema": df.schema.json(),
                "stats": self._file_stats(files),
                "stream_id": stream_id,
                "stream_batch_id": batch_id,
            }
        )

    def stream_sink(self, stream_id: str):
        """A ready-made ``foreachBatch`` callable:

            q = drain(df, ckpt_path, table.stream_sink(ckpt_path))  # streaming/file_stream

        Every micro-batch becomes one atomic, idempotent log commit —
        the stream lands in a table with snapshot reads, time travel,
        and VACUUM, and replays never duplicate."""

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            self.append_stream_batch(batch_df, stream_id, int(batch_id))

        return sink

    def delete_where(self, condition) -> int:
        """DELETE: remove every row where ``condition`` is TRUE (rows
        where it is false OR NULL are kept — SQL DELETE semantics) as one
        snapshot transition. This is the right-to-be-forgotten primitive:
        combined with :meth:`vacuum`, the bytes physically leave disk
        once no retained snapshot references the rewritten files.

        Copy-on-write with FILE-LEVEL pruning (the Delta/Iceberg DELETE
        shape): ``_metadata.file_path`` identifies which data files
        actually contain a matching row; only those are rewritten —
        every untouched file carries into the new snapshot BY REFERENCE.
        At 100 TB a targeted delete (one user's rows, clustered by the
        write layout) rewrites a handful of files, not the table. The
        driver collects only the hit FILE LIST (file-count-sized, the
        same planning information Delta's driver holds), never rows.

        ``condition`` is a Column or a SQL string. Returns the new
        version — or the current one unchanged if nothing matched
        (no-op deletes don't burn a commit).
        """
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no transaction log at {self.path}")
        cur = vs[-1]
        files, schema_json, _ = self._snapshot_files(cur)
        if not files:
            return cur
        cond = F.expr(condition) if isinstance(condition, str) else condition
        schema = T.StructType.fromJson(json.loads(schema_json))
        hit_rel, keep_rel = self._split_hit_files(files, schema, cond)
        if not hit_rel:
            return cur
        survivors = (
            self.spark.read.schema(schema)
            .parquet(*[os.path.join(self.data_dir, f) for f in hit_rel])
            # SQL DELETE keeps NULL-condition rows: negate via coalesce
            .filter(~F.coalesce(cond, F.lit(False)))
        )
        return self._commit(
            "overwrite", keep_rel + self._write_files(survivors), schema_json, expected_base=cur
        )

    def _split_hit_files(self, files: list[str], schema, cond) -> tuple[list[str], list[str]]:
        """(hit, keep): which snapshot files contain a condition match —
        the shared copy-on-write planning step for DELETE and UPDATE.
        Collects only the file list (file-count-sized), never rows."""
        paths = [os.path.join(self.data_dir, f) for f in files]
        tagged = (
            self.spark.read.schema(schema)
            .parquet(*paths)
            .filter(cond)
            .select(F.col("_metadata.file_path").alias("_f"))
            .distinct()
        )
        hit_uris = [r["_f"] for r in tagged.collect()]
        hit_rel = [f for f in files if any(u.endswith(f) for u in hit_uris)]
        keep_rel = [f for f in files if f not in set(hit_rel)]
        return hit_rel, keep_rel

    def update_where(self, condition, assignments: dict) -> int:
        """UPDATE ... SET ... WHERE ...: rows where ``condition`` is TRUE
        get each ``assignments`` column replaced (values are Columns or
        SQL strings, evaluated against the OLD row — standard UPDATE
        semantics, so swaps like ``{"a": F.col("b"), "b": F.col("a")}``
        work); all other rows and columns are byte-identical. Completes
        the DML triad next to :meth:`delete_where` and :meth:`upsert`,
        with the same copy-on-write file pruning: only files containing a
        match are rewritten, everything else carries by reference.
        Conflict-checked like every snapshot transition. Returns the new
        version (unchanged if nothing matched).
        """
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no transaction log at {self.path}")
        cur = vs[-1]
        files, schema_json, _ = self._snapshot_files(cur)
        if not files:
            return cur
        cond = F.expr(condition) if isinstance(condition, str) else condition
        schema = T.StructType.fromJson(json.loads(schema_json))
        bad = set(assignments) - {f.name for f in schema.fields}
        if bad:
            raise ValueError(f"UPDATE assigns unknown columns: {sorted(bad)}")
        hit_rel, keep_rel = self._split_hit_files(files, schema, cond)
        if not hit_rel:
            return cur
        exprs = {
            k: (F.expr(v) if isinstance(v, str) else v) for k, v in assignments.items()
        }
        hit_df = self.spark.read.schema(schema).parquet(
            *[os.path.join(self.data_dir, f) for f in hit_rel]
        )
        is_hit = F.coalesce(cond, F.lit(False))
        rewritten = hit_df.select(
            *[
                (
                    F.when(is_hit, exprs[f.name].cast(f.dataType)).otherwise(F.col(f.name))
                    if f.name in exprs
                    else F.col(f.name)
                ).alias(f.name)
                for f in schema.fields
            ]
        )
        return self._commit(
            "overwrite", keep_rel + self._write_files(rewritten), schema_json, expected_base=cur
        )

    def restore(self, version: int) -> int:
        """RESTORE: make an old snapshot current again as a NEW commit
        (history is append-only — the restore itself is auditable). The
        old version's files are re-referenced, not copied; fails loudly
        if the target predates the vacuum horizon."""
        self.read(version)  # validates existence + horizon
        base = self._versions()[-1]
        files, schema_json, _ = self._snapshot_files(version)
        return self._commit("overwrite", files, schema_json, expected_base=base)

    def compact(self, n_files: int = 1) -> int:
        """OPTIMIZE: rewrite the current snapshot into ``n_files`` fat
        files as a new overwrite commit (old versions stay readable)."""
        base = self._versions()[-1]
        compacted = self.read().repartition(n_files)
        return self._commit(
            "overwrite", self._write_files(compacted), compacted.schema.json(), expected_base=base
        )

    def optimize_zorder(self, cluster_cols: list[str], n_files: int = 8, bits: int = 16) -> int:
        """OPTIMIZE ZORDER BY: rewrite the current snapshot morton-
        clustered on ``cluster_cols`` (``sources.writers.write_zordered``)
        as one overwrite commit. The payoff compounds with the log's
        data-skipping stats: after the rewrite every file bounds a box in
        EVERY cluster dimension, so the commit's footer min/max entries
        stop overlapping and :meth:`read_where` prunes to ~1/n_files of
        the table on any clustered column — Delta's ``OPTIMIZE ... ZORDER
        BY`` semantics, stats and all, on the native log."""
        from data_warehouse_punta_fina_spark.sources.writers import write_zordered

        base = self._versions()[-1]
        sub = f"commit-{uuid.uuid4().hex}"
        out = os.path.join(self.data_dir, sub)
        write_zordered(self.read(), out, cluster_cols, bits=bits, n_files=n_files)
        files = [
            os.path.join(sub, f)
            for f in os.listdir(out)
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        return self._commit("overwrite", files, self.read().schema.json(), expected_base=base)

    def _snapshot_files(self, upto: int) -> tuple[list[str], str | None, int]:
        """(files, schema_json, horizon) for the snapshot at ``upto``;
        horizon is the lowest still-readable version (raised by vacuum)."""
        files: list[str] = []
        schema_json = None
        horizon = 0
        for v in self._versions():
            if v > upto:
                break
            e = self._entry(v)
            if e["action"] == "vacuum":
                horizon = e["horizon"]
                continue
            if e["action"] == "overwrite":
                files = list(e["files"])
            else:
                files.extend(e["files"])
            schema_json = e["schema"]
        return files, schema_json, horizon

    def read(self, version: int | None = None) -> DataFrame:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no transaction log at {self.path}")
        upto = vs[-1] if version is None else version
        # the horizon is set by the LATEST log state regardless of the
        # requested version — vacuumed files are gone for everyone
        _, _, horizon = self._snapshot_files(vs[-1])
        if upto < horizon:
            raise ValueError(
                f"version {upto} was vacuumed (time-travel horizon is {horizon})"
            )
        files, schema_json, _ = self._snapshot_files(upto)
        schema = T.StructType.fromJson(json.loads(schema_json))
        if not files:
            return literal_table(self.spark, [], schema)
        paths = [os.path.join(self.data_dir, f) for f in files]
        return self.spark.read.schema(schema).parquet(*paths)

    def vacuum(self, retain_versions: int = 1) -> int:
        """Delete data files unreferenced by the last ``retain_versions``
        snapshots and raise the time-travel horizon — the lakehouse
        VACUUM. The horizon rides in a log entry, so a reader asking for
        a pre-horizon version gets a loud error instead of a
        missing-file crash mid-scan."""
        vs = [
            v
            for v in self._versions()
            if self._entry(v)["action"] != "vacuum"
        ]
        if not vs:
            raise FileNotFoundError(f"no transaction log at {self.path}")
        horizon = vs[-1] if retain_versions <= 1 else vs[max(0, len(vs) - retain_versions)]
        keep: set[str] = set()
        schema_json = None
        for v in vs:
            if v >= horizon:
                files, schema_json, _ = self._snapshot_files(v)
                keep.update(files)
        # physical delete of everything unreferenced by retained snapshots
        for sub in os.listdir(self.data_dir) if os.path.isdir(self.data_dir) else []:
            subdir = os.path.join(self.data_dir, sub)
            if not os.path.isdir(subdir):
                continue
            for f in os.listdir(subdir):
                rel = os.path.join(sub, f)
                if f.endswith(".parquet") and rel not in keep:
                    os.remove(os.path.join(subdir, f))
            if not os.listdir(subdir):
                os.rmdir(subdir)
        return self._commit_raw(
            {"action": "vacuum", "horizon": horizon, "files": [], "schema": schema_json}
        )

    def _commit_raw(self, payload: dict, expected_base: int | None = None) -> int:
        """Exclusive-create the next version file.

        Optimistic concurrency: plain APPENDS rebase blindly on a lost
        race (insert-only commits serialize in any order — retry the
        slot). SNAPSHOT TRANSITIONS (MERGE / DELETE / OPTIMIZE /
        RESTORE) pass ``expected_base`` — the version their result was
        computed FROM; if any foreign commit landed since, committing
        would silently erase it (the classic lost update), so the
        transition raises :class:`CommitConflict` and the CALLER must
        recompute against the new snapshot. This is Delta's
        write-serializable conflict rule in miniature."""
        os.makedirs(self.log_dir, exist_ok=True)
        for _ in range(10):
            vs = self._versions()
            v = (vs[-1] + 1) if vs else 0
            if expected_base is not None and v != expected_base + 1:
                raise CommitConflict(
                    f"snapshot transition computed from version {expected_base} but the "
                    f"log has advanced to {v - 1} — a blind commit would erase the "
                    "intervening commit(s); recompute the transition against the "
                    "current snapshot and retry"
                )
            target = os.path.join(self.log_dir, f"{v:08d}.json")
            try:
                with open(target, "x") as fh:
                    json.dump({"version": v, **payload}, fh)
                return v
            except FileExistsError:
                continue
        raise CommitConflict(f"could not commit after 10 attempts at {self.path}")

    def read_changes(
        self, starting_version: int, until_version: int | None = None
    ) -> DataFrame:
        """Change data feed (Delta CDF / Iceberg incremental-read
        semantics): every row INSERTED or DELETED by each commit in
        ``[starting_version, until_version]`` (inclusive start — Delta's
        ``startingVersion`` convention), tagged with
        ``_change_type`` ('insert' | 'delete') and ``_commit_version``.
        A copy-on-write UPDATE surfaces as its delete + insert images.

        Derivation needs no side-channel CDC files: per commit, diff the
        snapshot FILE sets (added vs removed files — driver-side log
        metadata), then take the row-level multiset difference between
        the added-file rows and the removed-file rows. Rows carried
        between rewritten files cancel exactly — which also means pure
        rewrites (OPTIMIZE / ZORDER / compaction) correctly emit ZERO
        changes with no dataChange bookkeeping, because they preserve the
        row multiset by construction.

        Cost scales with each commit's CHANGED files only (appends:
        added files, no diff needed; copy-on-write: the rewritten
        files), never the table. Raises if the range dips below the
        vacuum horizon (the pre-images are gone from disk).
        """
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no transaction log at {self.path}")
        upto = vs[-1] if until_version is None else until_version
        _, _, horizon = self._snapshot_files(vs[-1])
        # commit v's delete images live in files referenced only by
        # snapshot v-1 — vacuum keeps snapshots >= horizon, so any start
        # at or below the horizon would read deleted pre-image files
        if horizon > 0 and starting_version <= horizon:
            raise ValueError(
                f"cannot read changes from {starting_version}: time-travel horizon is "
                f"{horizon} (pre-images at or below it were vacuumed)"
            )
        pieces: list[DataFrame] = []
        out_schema = None
        for v in vs:
            if v < starting_version or v > upto:
                continue
            e = self._entry(v)
            if e["action"] == "vacuum":
                continue
            prev, _, _ = self._snapshot_files(v - 1)
            cur, schema_json, _ = self._snapshot_files(v)
            added = [f for f in cur if f not in set(prev)]
            removed = [f for f in prev if f not in set(cur)]
            if not added and not removed:
                continue
            schema = T.StructType.fromJson(json.loads(schema_json))
            out_schema = schema

            def _rows(rel: list[str]) -> DataFrame:
                if not rel:
                    return literal_table(self.spark, [], schema)
                return self.spark.read.schema(schema).parquet(
                    *[os.path.join(self.data_dir, f) for f in rel]
                )

            rows_added, rows_removed = _rows(added), _rows(removed)
            tag = lambda df, kind: df.select(  # noqa: E731
                "*",
                F.lit(kind).alias("_change_type"),
                F.lit(v).cast("int").alias("_commit_version"),
            )
            pieces.append(tag(rows_added.exceptAll(rows_removed), "insert"))
            pieces.append(tag(rows_removed.exceptAll(rows_added), "delete"))
        if not pieces:
            schema = out_schema or T.StructType.fromJson(
                json.loads(self._snapshot_files(upto)[1])
            )
            empty = literal_table(self.spark, [], schema)
            return empty.select(
                "*",
                F.lit("insert").alias("_change_type"),
                F.lit(0).cast("int").alias("_commit_version"),
            ).limit(0)
        out = pieces[0]
        for pdf in pieces[1:]:
            out = out.unionByName(pdf, allowMissingColumns=True)
        return out

    def history(self) -> list[dict]:
        return [self._entry(v) for v in self._versions()]
