"""Structured Streaming wrapper tests (SURVEY.md §2.11): the streamed
windowed aggregation equals the batch plan, and checkpointed availableNow
runs drain-then-stop with resume semantics."""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import functions as F
from pyspark.sql import types as T


def _events_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )


def test_stream_equals_batch(spark, sf_dir, tmp_path):
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.file_stream import (
        read_file_stream,
        tumbling_window_agg,
    )

    # stage the events table as a clean parquet dir the file source can list
    events = load_table(spark, sf_dir, "events").drop("props")
    staged = str(tmp_path / "events_in")
    events.write.mode("overwrite").parquet(staged)

    stream = read_file_stream(spark, staged, _events_schema(), max_files_per_trigger=4)
    agg = tumbling_window_agg(stream, "1 hour", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # complete mode: the final micro-batch result IS the full aggregation —
    # identical plan batch vs stream (the Structured Streaming contract)
    got = spark.sql("SELECT * FROM stream_out")
    want = tumbling_window_agg(events, "1 hour")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_watermark_drops_late_data_in_append(spark, tmp_path):
    """Append-mode watermark conformance: a second micro-batch carrying
    events far older than the advanced watermark must NOT resurrect or
    create windows below it."""
    import datetime

    from data_warehouse_punta_fina_spark.streaming.file_stream import (
        read_file_stream,
        tumbling_window_agg,
    )

    def ts(h, m=0):
        return datetime.datetime(2024, 1, 1, h, m)

    staged = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    out_dir = str(tmp_path / "out")

    def run_once(_qname):
        stream = read_file_stream(spark, staged, _events_schema())
        agg = tumbling_window_agg(stream, "1 hour", watermark="1 hour")
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["window_start"].hour, float(r["total_value"]))
            for r in spark.read.parquet(out_dir).collect()
        }

    # execution 1: watermark advances to 22:00 → the 10:00 window finalizes
    batch1 = spark.createDataFrame([(1, ts(10), 1, "a", 1.0), (2, ts(23), 1, "a", 1.0)], schema)
    batch1.coalesce(1).write.mode("overwrite").parquet(staged)
    got1 = run_once("late_out_1")
    assert (10, 1.0) in got1

    # execution 2 (same checkpoint): a 10:30 event is now LATE and must be
    # dropped; the 23:30 event is on time
    batch2 = spark.createDataFrame([(3, ts(10, 30), 1, "a", 5.0), (4, ts(23, 30), 1, "a", 1.0)], schema)
    batch2.coalesce(1).write.mode("append").parquet(staged)
    got2 = run_once("late_out_2")
    assert not any(v in (5.0, 6.0) for _, v in got2)  # late row never surfaces
    # nothing new finalizes in exec 2 (watermark 22:30 < 23:00 window end) —
    # the cumulative sink is unchanged: the late event updated no window
    assert got2 == got1


def test_available_now_checkpoint_resume(spark, sf_dir, tmp_path):
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.file_stream import (
        read_file_stream,
        run_available_now,
    )

    events = load_table(spark, sf_dir, "events").drop("props")
    staged = str(tmp_path / "in")
    events.limit(100).write.mode("overwrite").parquet(staged)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    stream = read_file_stream(spark, staged, _events_schema())
    q = run_available_now(stream.select("event_id", "event_type", "value"), ckpt, out)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == 100

    # re-run with the same checkpoint: nothing new → no duplicates (resume)
    stream2 = read_file_stream(spark, staged, _events_schema())
    q2 = run_available_now(stream2.select("event_id", "event_type", "value"), ckpt, out)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1

    shutil.rmtree(ckpt, ignore_errors=True)
    assert os.path.exists(out)


def test_session_window_stream_equals_batch(spark, sf_dir, tmp_path):
    """Native session_window aggregation: identical results from the batch
    plan and the checkpointed stream (the op exists FOR streaming; batch
    twin is what the oracle checks)."""
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.file_stream import read_file_stream

    events = load_table(spark, sf_dir, "events").drop("props")
    staged = str(tmp_path / "events_in")
    events.write.mode("overwrite").parquet(staged)

    def sessions(df):
        return df.groupBy(
            F.session_window("ts", "6 hours").alias("w"), F.col("user_id")
        ).agg(F.count("*").alias("n_events"))

    stream = read_file_stream(spark, staged, _events_schema(), max_files_per_trigger=4)
    q = (
        sessions(stream.withWatermark("ts", "1 hour"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("session_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("SELECT user_id, w.start AS s, w.end AS e, n_events FROM session_out")
    want = sessions(events).select(
        "user_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n_events"
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_drop_duplicates_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once event feed: watermarked dropDuplicates on the stream
    collapses replayed events to the batch-distinct result."""
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.file_stream import read_file_stream

    events = load_table(spark, sf_dir, "events").drop("props").limit(500)
    staged = str(tmp_path / "events_dup")
    # write the feed TWICE: replayed/duplicated delivery
    events.write.mode("overwrite").parquet(staged)
    events.write.mode("append").parquet(staged)

    stream = read_file_stream(spark, staged, _events_schema(), max_files_per_trigger=4)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("SELECT event_id FROM dedup_out")
    assert got.count() == events.count()
    assert got.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_stream_foreach_batch_idempotent_jdbc_sink(spark, sf_dir, tmp_path):
    """The warehouse-load pattern end to end: stream → foreachBatch →
    conflict-ignoring JDBC insert (embedded Derby). Replayed input rows
    land exactly once in the target table."""
    from data_warehouse_punta_fina_spark.sources.readers import load_table, read_jdbc
    from data_warehouse_punta_fina_spark.sources.writers import (
        idempotent_append_jdbc,
        write_jdbc,
    )
    from data_warehouse_punta_fina_spark.streaming.file_stream import read_file_stream

    derby_url = f"jdbc:derby:{tmp_path / 'db'};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    events = load_table(spark, sf_dir, "events").drop("props").limit(300)
    staged = str(tmp_path / "events_feed")
    events.write.mode("overwrite").parquet(staged)
    events.write.mode("append").parquet(staged)  # duplicated delivery

    # seed the target so the anti-join has a real existing-keys side
    write_jdbc(events.limit(50), derby_url, "t_sink", mode="overwrite", driver=driver)

    def upsert(batch_df, batch_id):
        existing = read_jdbc(batch_df.sparkSession, derby_url, table="t_sink", driver=driver)
        idempotent_append_jdbc(
            batch_df.dropDuplicates(["event_id"]),
            existing,
            ["event_id"],
            derby_url,
            "t_sink",
            driver=driver,
        )

    stream = read_file_stream(spark, staged, _events_schema(), max_files_per_trigger=3)
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt_fb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    final = read_jdbc(spark, derby_url, table="t_sink", driver=driver)
    assert final.count() == events.count()
    assert final.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_continuous_dedup_ingest_stream(spark, tmp_path):
    """Streaming ingestion dedup: micro-batches screen against the
    persisted band index and extend it; the stream's verdicts equal a
    batch-mode replay of the same batch grouping, and replaying a batch
    (failure-retry) is idempotent thanks to partitioned overwrite."""
    from pyspark.sql import types as T

    from data_warehouse_punta_fina_spark.streaming.dedup_stream import (
        BATCH_COL,
        dedup_ingest_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.file_stream import drain, read_file_stream

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron"
    )
    other = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen"
    )
    uniq = "u{} v{} w{} x{} y{} z{} p{} q{} r{} s{} t{} a{} b{} c{} d{}"

    def udoc(i):
        return uniq.format(*([i] * 15))

    batches = [
        # batch file 0: two distinct families + uniques
        [(1, base), (2, other), (3, udoc(3)), (4, udoc(4))],
        # batch file 1: 11 near-copies base (one token changed) -> dup;
        # 12 is byte-identical to other -> dup; 13 unique
        [(11, base.replace("kappa", "KAPPAX")), (12, other), (13, udoc(13))],
        # batch file 2: 21 near-copies 13 (admitted earlier) -> dup;
        # 22 copies 11's text -> dup (vs CORPUS doc 1, since 11 was
        # never admitted); 23 unique
        [(21, udoc(13).replace(f"d{13}", "dXX")), (22, base.replace("kappa", "KAPPAX")), (23, udoc(23))],
    ]
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{in_dir}/batch{i}", mode="overwrite"
        )
        # distinct mtimes give a deterministic file-source order
        import time as _t

        _t.sleep(1.1)
        for f in os.listdir(f"{in_dir}/batch{i}"):
            if f.endswith(".parquet") and not f.startswith("."):
                shutil.move(f"{in_dir}/batch{i}/{f}", f"{in_dir}/b{i}_{f}")
        shutil.rmtree(f"{in_dir}/batch{i}")

    paths = {
        "admitted_path": str(tmp_path / "admitted"),
        "index_path": str(tmp_path / "index"),
        "verdicts_path": str(tmp_path / "verdicts"),
    }
    q = drain(
        read_file_stream(spark, in_dir, schema, max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        partial(dedup_ingest_batch, **paths),
    )
    q.awaitTermination(120)

    verdicts = spark.read.parquet(paths["verdicts_path"])
    got = {r["doc_id"]: (r["is_dup"], r["match_id"]) for r in verdicts.collect()}
    # every input doc classified exactly once
    assert verdicts.count() == 10 and len(got) == 10
    assert got[11][0] is True and got[11][1] == 1
    assert got[12][0] is True and got[12][1] == 2
    assert got[21][0] is True and got[21][1] == 13
    assert got[22][0] is True and got[22][1] == 1  # 11 was never admitted
    for i in (1, 2, 3, 4, 13, 23):
        assert got[i][0] is False, i
    admitted_ids = {
        r["doc_id"] for r in spark.read.parquet(paths["admitted_path"]).collect()
    }
    assert admitted_ids == {1, 2, 3, 4, 13, 23}

    # batch-mode replay of the stream's OWN batch grouping -> same verdicts
    grouping = {
        r["doc_id"]: r[BATCH_COL] for r in verdicts.select("doc_id", BATCH_COL).collect()
    }
    replay_paths = {
        "admitted_path": str(tmp_path / "r_admitted"),
        "index_path": str(tmp_path / "r_index"),
        "verdicts_path": str(tmp_path / "r_verdicts"),
    }
    all_rows = {i: (i, t) for rows in batches for i, t in rows}
    for b in sorted(set(grouping.values())):
        rows = [all_rows[i] for i, g in grouping.items() if g == b]
        dedup_ingest_batch(spark.createDataFrame(rows, schema), b, **replay_paths)
    replayed = {
        r["doc_id"]: (r["is_dup"], r["match_id"])
        for r in spark.read.parquet(replay_paths["verdicts_path"]).collect()
    }
    assert replayed == got

    # idempotent retry: re-running the last batch overwrites its own
    # partition, leaving totals unchanged
    last = max(set(grouping.values()))
    rows = [all_rows[i] for i, g in grouping.items() if g == last]
    dedup_ingest_batch(spark.createDataFrame(rows, schema), last, **replay_paths)
    assert spark.read.parquet(replay_paths["verdicts_path"]).count() == 10
    assert {
        r["doc_id"] for r in spark.read.parquet(replay_paths["admitted_path"]).collect()
    } == admitted_ids


def test_dedup_ingest_batch_rejects_unstamped_band_index(spark, tmp_path):
    """The stream's persisted band index is checked like any other: a
    partitioned band table written by ``minhash_band_keys`` keeps its
    parameter metadata through the ``ingest_batch`` partitioning and is
    accepted, while one whose ``band_key`` carries no metadata is
    rejected instead of screening the batch with band keys of unknown
    parameters."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.dedup import minhash_band_keys
    from data_warehouse_punta_fina_spark.streaming.dedup_stream import (
        BATCH_COL,
        dedup_ingest_batch,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame([(1, text)], "doc_id long, text string")
    batch = spark.createDataFrame([(2, text)], "doc_id long, text string")
    for name, strip in (("stamped", False), ("unstamped", True)):
        root = tmp_path / name
        corpus.withColumn(BATCH_COL, F.lit(0)).write.partitionBy(BATCH_COL).parquet(
            str(root / "admitted")
        )
        bands = minhash_band_keys(corpus)
        if strip:
            bands = bands.select(
                "doc_id", "band", F.col("band_key").alias("band_key", metadata={})
            )
        bands.withColumn(BATCH_COL, F.lit(0)).write.partitionBy(BATCH_COL).parquet(
            str(root / "index")
        )
        paths = {
            "admitted_path": str(root / "admitted"),
            "index_path": str(root / "index"),
            "verdicts_path": str(root / "verdicts"),
        }
        if strip:
            with pytest.raises(ValueError, match="no parameter metadata"):
                dedup_ingest_batch(batch, 1, **paths)
        else:
            dedup_ingest_batch(batch, 1, **paths)
            verdict = spark.read.parquet(paths["verdicts_path"]).collect()
            assert [(r["doc_id"], r["is_dup"], r["match_id"]) for r in verdict] == [
                (2, True, 1)
            ]


def test_continuous_dedup_stream_resumes_from_checkpoint(spark, tmp_path):
    """Drain, then land NEW files and re-run with the SAME checkpoint:
    only the new docs are classified (no re-processing), and a new doc
    duplicating an admitted one is caught by the index built in run 1."""
    import time as _t

    from pyspark.sql import types as T

    from data_warehouse_punta_fina_spark.streaming.dedup_stream import (
        dedup_ingest_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.file_stream import drain, read_file_stream

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_b = "one two three four five six seven eight nine ten"
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)

    def land(fname, rows):
        tmp = f"{in_dir}/_stage"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet") and not f.startswith("."):
                shutil.move(f"{tmp}/{f}", f"{in_dir}/{fname}")
        shutil.rmtree(tmp)
        _t.sleep(1.1)  # distinct mtimes

    paths = {
        "admitted_path": str(tmp_path / "admitted"),
        "index_path": str(tmp_path / "index"),
        "verdicts_path": str(tmp_path / "verdicts"),
    }
    ckpt = str(tmp_path / "ckpt")

    def run():
        return drain(
            read_file_stream(spark, in_dir, schema, max_files_per_trigger=1),
            ckpt,
            partial(dedup_ingest_batch, **paths),
        )

    land("f0.parquet", [(1, text_a), (2, text_b)])
    q = run()
    q.awaitTermination(120)
    v1 = spark.read.parquet(paths["verdicts_path"])
    assert v1.count() == 2

    # run 2, same checkpoint: one near-dup of an admitted doc + one fresh
    land("f1.parquet", [(10, text_a.replace("kappa", "KAPPAX")), (11, "totally fresh content words here")])
    q2 = run()
    q2.awaitTermination(120)
    v2 = {r["doc_id"]: (r["is_dup"], r["match_id"]) for r in
          spark.read.parquet(paths["verdicts_path"]).collect()}
    assert len(v2) == 4  # 2 old (untouched) + 2 new, no reprocessing
    assert v2[10] == (True, 1)  # caught by the run-1 index
    assert v2[11][0] is False
    admitted = {r["doc_id"] for r in spark.read.parquet(paths["admitted_path"]).collect()}
    assert admitted == {1, 2, 11}


def test_dedup_stream_collapses_and_rejects_exact_copies(spark, tmp_path):
    """Planted exact copies through the continuous dedup loop, one parquet
    file per micro-batch: a copy that shares its original's micro-batch
    is collapsed before screening (no verdict), a copy landing in a later
    micro-batch is rejected against the index with ``match_id`` naming
    its original, nothing else is flagged at threshold 0.9, and the
    admitted corpus is every doc but the copies."""
    import random

    from pyspark.sql import types as T

    from data_warehouse_punta_fina_spark.streaming.dedup_stream import (
        dedup_ingest_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.file_stream import drain, read_file_stream

    words = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    ).split()

    def text(i):
        # doc 10k+1 is an exact copy of doc 10k
        base = i - 1 if i % 10 == 1 else i
        return " ".join(random.Random(base).choices(words, k=24))

    planted = {1, 11, 21, 31, 41, 51}
    files = [
        [i for i in range(20) if i != 11],  # 1 shares a batch with 0
        [*range(20, 40), 11, 50],  # 11 follows 10; 21, 31 share a batch
        [i for i in range(40, 60) if i != 50],  # 51 follows 50; 41 shares
    ]
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for n, ids in enumerate(files):
        stage = str(tmp_path / f"stage{n}")
        spark.createDataFrame([(i, text(i)) for i in ids], schema).coalesce(1).write.parquet(
            stage
        )
        (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        dest = str(in_dir / f"f{n}.parquet")
        shutil.move(f"{stage}/{part}", dest)
        os.utime(dest, (1_700_000_000 + n, 1_700_000_000 + n))  # file-source order

    paths = {
        "admitted_path": str(tmp_path / "admitted"),
        "index_path": str(tmp_path / "index"),
        "verdicts_path": str(tmp_path / "verdicts"),
    }
    q = drain(
        read_file_stream(spark, str(in_dir), schema, max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        partial(dedup_ingest_batch, threshold=0.9, **paths),
    )
    q.awaitTermination(180)

    verdicts = {
        r["doc_id"]: (r["is_dup"], r["match_id"])
        for r in spark.read.parquet(paths["verdicts_path"]).collect()
    }
    assert set(range(60)) - set(verdicts) == {1, 21, 31, 41}
    assert verdicts[11] == (True, 10) and verdicts[51] == (True, 50)
    for i in set(verdicts) - planted:
        assert verdicts[i][0] is False, (i, verdicts[i])
    admitted = {r["doc_id"] for r in spark.read.parquet(paths["admitted_path"]).collect()}
    assert admitted == set(range(60)) - planted


def test_drop_duplicates_within_watermark_bounds_state(spark, tmp_path):
    """State-BOUNDED streaming dedup (Spark 3.5+): duplicates arriving
    within the watermark window are dropped, and — unlike classic
    dropDuplicates whose key state grows forever — a duplicate of an
    event older than the advanced watermark is treated as new (its state
    was evicted). Both behaviors asserted across two checkpointed runs."""
    import datetime

    from data_warehouse_punta_fina_spark.streaming.file_stream import read_file_stream

    def ts(h, m=0):
        return datetime.datetime(2024, 1, 1, h, m)

    staged = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def run_once():
        stream = read_file_stream(spark, staged, _events_schema())
        q = (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (r["event_id"], r["ts"].hour) for r in spark.read.parquet(out).collect()
        )

    # run 1: id 1 twice within the watermark window -> one survivor;
    # id 2 advances the watermark to 21:00
    b1 = spark.createDataFrame(
        [(1, ts(10), 1, "a", 1.0), (1, ts(10, 30), 1, "a", 1.0), (2, ts(22), 1, "a", 1.0)],
        schema,
    )
    b1.coalesce(1).write.mode("overwrite").parquet(staged)
    got1 = run_once()
    assert [e for e, _ in got1] == [1, 2]

    # run 2: id 1 again — its dedup state expired (event time far below
    # the watermark), so state-bounded dedup re-admits it; id 2 repeated
    # near the watermark would still be dropped if state survived, but
    # 22:00 - 1h = 21:00 > 10:00 evicts id 1's state only
    b2 = spark.createDataFrame(
        [(1, ts(23), 1, "a", 9.0), (3, ts(23, 30), 1, "a", 1.0)], schema
    )
    b2.coalesce(1).write.mode("append").parquet(staged)
    got2 = run_once()
    ids = [e for e, _ in got2]
    assert ids.count(1) == 2  # re-admitted: exactly the state bound's trade
    assert 3 in ids


def test_progress_ledger_captures_microbatch_metrics(spark, sf_dir, tmp_path):
    """The listener ledger records every micro-batch's row counts (the
    reference's per-chunk metrics, emitted by the engine for free) and
    the JSONL mirror is shipper-ready."""
    import json as _json
    import time as _t

    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.file_stream import (
        read_file_stream,
        run_available_now,
    )
    from data_warehouse_punta_fina_spark.streaming.observer import ProgressLedger

    events = load_table(spark, sf_dir, "events").drop("props")
    staged = str(tmp_path / "in")
    events.limit(200).write.mode("overwrite").parquet(staged)

    jsonl = str(tmp_path / "progress.jsonl")
    ledger = ProgressLedger(jsonl_path=jsonl)
    spark.streams.addListener(ledger)
    try:
        stream = read_file_stream(spark, staged, _events_schema())
        q = run_available_now(
            stream.select("event_id", "value"),
            str(tmp_path / "ck"),
            str(tmp_path / "out"),
        )
        q.awaitTermination(120)
        # listener callbacks are async — allow them to drain
        deadline = _t.time() + 30
        while _t.time() < deadline and ledger.total_input_rows() < 200:
            _t.sleep(0.5)
    finally:
        spark.streams.removeListener(ledger)
    assert ledger.total_input_rows() >= 200
    assert all("duration_ms" in e and e["batch_id"] >= 0 for e in ledger.events)
    lines = [
        _json.loads(ln) for ln in open(jsonl).read().splitlines() if ln.strip()
    ]
    assert sum(l["num_input_rows"] for l in lines) >= 200


def test_txlog_stream_sink_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch into the transaction log: each micro-batch is one
    atomic commit tagged (stream_id, batch_id); a replayed batch is
    skipped (idempotent-writer protocol), the final table equals the
    batch-side rows, and every intermediate snapshot time-travels."""
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.sources.txlog import TxTable

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    staged = str(tmp_path / "in")
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(staged)
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(staged)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    t = TxTable(spark, str(tmp_path / "tx"))
    ck = str(tmp_path / "ck")
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .writeStream.foreachBatch(t.stream_sink(ck))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    n_commits = len(t.history())
    assert n_commits == 2  # one commit per micro-batch
    assert t.read().count() == events.count()

    # failure replay: re-deliver batch 0 by hand -> skipped, nothing changes
    replay = spark.read.schema(schema).parquet(staged)
    assert t.append_stream_batch(replay, ck, 0) is None
    assert len(t.history()) == n_commits
    assert t.read().count() == events.count()

    # a DIFFERENT stream id is not confused with this one
    v = t.append_stream_batch(replay.limit(1), "other-stream", 0)
    assert v is not None and t.read().count() == events.count() + 1

    # time travel: the first micro-batch's snapshot is still readable
    assert 0 < t.read(version=0).count() < events.count()


def test_stream_static_scd2_enrichment_equals_batch_pit_lookup(spark, tmp_path):
    """Stream-static temporal enrichment: a fact stream joined per
    micro-batch against a STATIC SCD2 dimension through the same
    pit_lookup plan (equi key + half-open interval residual) must emit
    exactly the batch pit_lookup rows. Stream-static joins are stateless
    (the static side is re-planned per micro-batch, no watermark needed)
    — the standard deployment for dimension enrichment at ingest."""
    import datetime as dt

    from pyspark.sql import types as T

    from data_warehouse_punta_fina_spark.operators.scd import pit_lookup
    from data_warehouse_punta_fina_spark.streaming.file_stream import read_file_stream

    d = dt.date
    dim = spark.createDataFrame(
        [
            (1, "bronze", d(2020, 1, 1), d(2021, 1, 1)),
            (1, "gold", d(2021, 1, 1), d(9999, 12, 31)),
            (2, "silver", d(2020, 6, 1), d(9999, 12, 31)),
        ],
        "k long, tier string, valid_from date, valid_to date",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, d(2020, 12, 31)),  # last bronze day
            (101, 1, d(2021, 1, 1)),    # boundary: NEW version in effect
            (102, 2, d(2022, 3, 3)),
            (103, 3, d(2022, 1, 1)),    # no dim match -> null tier
        ],
        "fact_id long, k long, as_of date",
    )
    staged = str(tmp_path / "facts_in")
    facts.write.mode("overwrite").parquet(staged)
    schema = T.StructType(
        [
            T.StructField("fact_id", T.LongType()),
            T.StructField("k", T.LongType()),
            T.StructField("as_of", T.DateType()),
        ]
    )
    stream = read_file_stream(spark, staged, schema, max_files_per_trigger=1)
    enriched = pit_lookup(stream, dim, "k", "k", "as_of", broadcast=True).select(
        "fact_id", F.col("f.k").alias("k"), "as_of", "tier"
    )
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("scd2_enriched")
        .option("checkpointLocation", str(tmp_path / "ckpt_scd2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {tuple(r) for r in spark.sql("SELECT * FROM scd2_enriched").collect()}
    want = {
        tuple(r)
        for r in pit_lookup(facts, dim, "k", "k", "as_of", broadcast=True)
        .select("fact_id", F.col("f.k").alias("k"), "as_of", "tier")
        .collect()
    }
    assert got == want
    tiers = {r[0]: r[3] for r in got}
    assert tiers[100] == "bronze" and tiers[101] == "gold" and tiers[103] is None


def test_classify_stream_matches_batch_and_is_idempotent(spark, tmp_path):
    """Streaming filter-model scoring (streaming/classify_stream.py):
    drain chunked docs availableNow against a PERSISTED NB model — the
    union of per-batch verdicts must equal one batch-mode scoring of all
    docs (the model is static, so batch grouping cannot matter), and a
    replayed batch overwrites its own partition (exactly-once)."""
    import os
    import shutil

    from pyspark.sql import types as T

    from data_warehouse_punta_fina_spark.operators.classify import (
        nb_save_model,
        nb_score_model,
    )
    from data_warehouse_punta_fina_spark.streaming.classify_stream import (
        BATCH_COL,
        classify_stream_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.file_stream import drain, read_file_stream

    train = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en"),
            (2, "a dog and the house", "en"),
            (3, "el gato en la casa", "es"),
            (4, "un perro y la alfombra", "es"),
        ],
        "doc_id bigint, text string, label string",
    )
    mdl = str(tmp_path / "model")
    nb_save_model(train, mdl)

    batches = [
        [(10, "the cat and the dog"), (11, "el gato y el perro")],
        [(12, "la casa de la alfombra"), (13, "a mat in the house")],
        [(14, "zzz qqq"), (15, "")],  # unseen terms / empty doc
    ]
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{in_dir}/batch{i}", mode="overwrite"
        )
        import time as _t

        _t.sleep(1.1)
        for f in os.listdir(f"{in_dir}/batch{i}"):
            if f.endswith(".parquet") and not f.startswith("."):
                shutil.move(f"{in_dir}/batch{i}/{f}", f"{in_dir}/b{i}_{f}")
        shutil.rmtree(f"{in_dir}/batch{i}")

    scores_path = str(tmp_path / "scores")
    q = drain(
        read_file_stream(spark, in_dir, schema, max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        partial(
            classify_stream_batch,
            model_dir=mdl,
            scores_path=scores_path,
            keep_class="en",
        ),
    )
    q.awaitTermination(120)

    verdicts = spark.read.parquet(scores_path)
    got = {
        r["doc_id"]: (r["predicted"], r["margin"], r["n_tokens"], r["keep"])
        for r in verdicts.collect()
    }
    assert verdicts.count() == 6 and len(got) == 6

    # stream == batch: one scoring of all docs with the same model
    all_docs = spark.createDataFrame(
        [r for rows in batches for r in rows], schema
    )
    want = {
        r["doc_id"]: (r["predicted"], r["margin"], r["n_tokens"], r["predicted"] == "en" and r["margin"] >= 0.0)
        for r in nb_score_model(all_docs, mdl, label_col=None).collect()
    }
    assert got == want
    assert got[10][3] and not got[11][3]  # en kept, es dropped

    # idempotent retry: re-running one batch through the foreachBatch body
    # overwrites its own partition, leaving the union unchanged
    grouping = {
        r["doc_id"]: r[BATCH_COL]
        for r in verdicts.select("doc_id", BATCH_COL).collect()
    }
    last = max(set(grouping.values()))
    all_rows = {i: (i, t) for rows in batches for i, t in rows}
    rows = [all_rows[i] for i, g in grouping.items() if g == last]
    classify_stream_batch(
        spark.createDataFrame(rows, schema), last, mdl, scores_path, "en"
    )
    again = spark.read.parquet(scores_path)
    assert again.count() == 6
    assert {
        r["doc_id"]: (r["predicted"], r["margin"], r["n_tokens"], r["keep"])
        for r in again.collect()
    } == got


def test_ann_stream_matches_batch_and_is_idempotent(spark, tmp_path):
    """Streaming similarity search (streaming/ann_stream.py): drain
    chunked query vectors availableNow against a PERSISTED IVF-PQ index —
    the union of per-batch neighbor lists must equal one batch-mode
    search of all queries (searches are per-query independent and the
    index is static), and a replayed batch overwrites its own partition
    (exactly-once)."""
    import os
    import shutil
    import time as _t

    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_search_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.ann_stream import (
        BATCH_COL,
        ann_stream_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.file_stream import drain, read_file_stream

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    params = dict(n_cells=8, m=8, n_centroids=8, iters=1)
    idx = str(tmp_path / "ivfpq")
    ivfpq_build_index(emb, idx, **params)

    qids = [[1, 2], [3, 4], [5, 6]]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for i, ids in enumerate(qids):
        emb.filter(F.col("vec_id").isin(ids)).coalesce(1).write.parquet(
            f"{in_dir}/batch{i}", mode="overwrite"
        )
        _t.sleep(1.1)
        for f in os.listdir(f"{in_dir}/batch{i}"):
            if f.endswith(".parquet") and not f.startswith("."):
                shutil.move(f"{in_dir}/batch{i}/{f}", f"{in_dir}/b{i}_{f}")
        shutil.rmtree(f"{in_dir}/batch{i}")

    results_path = str(tmp_path / "results")
    q = drain(
        read_file_stream(spark, in_dir, emb.schema, max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        partial(
            ann_stream_batch,
            index_dir=idx,
            corpus=emb,
            results_path=results_path,
            k=3,
            probes=2,
            rerank=10,
            **params,
        ),
    )
    q.awaitTermination(120)

    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in spark.read.parquet(results_path).collect()
    }
    all_q = emb.filter(F.col("vec_id").isin([i for ids in qids for i in ids]))
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in ivfpq_search_index(
            all_q, emb, idx, k=3, probes=2, rerank=10, **params
        ).collect()
    }
    assert len(got) == 6 * 3 and got == want

    # idempotent retry: re-running one batch through the foreachBatch body
    # overwrites its own partition, leaving the union unchanged
    verdicts = spark.read.parquet(results_path)
    grouping = {
        r["query_id"]: r[BATCH_COL]
        for r in verdicts.select("query_id", BATCH_COL).collect()
    }
    last = max(set(grouping.values()))
    replay_ids = [i for i, g in grouping.items() if g == last]
    ann_stream_batch(
        emb.filter(F.col("vec_id").isin(replay_ids)),
        last,
        idx,
        emb,
        results_path,
        k=3,
        probes=2,
        rerank=10,
        **params,
    )
    again = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in spark.read.parquet(results_path).collect()
    }
    assert again == want


def test_classify_stream_single_class_model_drops_explicitly(spark, tmp_path):
    """ADVICE r8: a model trained on ONE class yields NULL margin (lead()
    over a single candidate row) — the verdict must coalesce to an
    explicit keep=False, never a NULL that silently vanishes from a
    downstream filter(keep)."""
    from data_warehouse_punta_fina_spark.operators.classify import nb_save_model
    from data_warehouse_punta_fina_spark.streaming.classify_stream import (
        classify_stream_batch,
    )

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat", "en"), (2, "a dog and the house", "en")],
        "doc_id bigint, text string, label string",
    )
    mdl = str(tmp_path / "model1c")
    nb_save_model(train, mdl)

    batch = spark.createDataFrame(
        [(10, "the cat and the dog")], "doc_id bigint, text string"
    )
    scores_path = str(tmp_path / "scores1c")
    classify_stream_batch(batch, 0, mdl, scores_path, keep_class="en")
    rows = spark.read.parquet(scores_path).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["predicted"] == "en" and r["margin"] is None
    # the load-bearing assertion: False, not None
    assert r["keep"] is False
