"""Streaming property tests (SURVEY.md §2.9/§5.2): watermark late-row
drops, stateful ops, and per-micro-batch lineage via the Python
StreamingQueryListener.
"""

import os
import tempfile
import time
import uuid

import pytest
from pyspark.sql import functions as F


def _run_stream(df, mode="append"):
    from spark_lineage_spark.streaming.queries import run_to_memory

    return run_to_memory(df, mode=mode)


def _add_batch(df, src: str, name: str):
    """The file stream source lists plain files in the monitored dir —
    it does not recurse into the directory a parquet write creates, so
    stage the write and move its part file in as <name>.parquet."""
    import glob
    import shutil

    stage = src + f"_stage_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(stage + "/part-*.parquet")[0]
    shutil.move(part, os.path.join(src, f"{name}.parquet"))
    shutil.rmtree(stage)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Two micro-batches: batch 2 contains a row far older than the
    watermark advanced by batch 1 — append-mode agg must drop it."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    sink = f"late_{uuid.uuid4().hex[:8]}"
    ckpt = str(tmp_path / "ckpt")

    rows1 = [(i, f"2024-01-01 10:{i:02d}:00") for i in range(10)] + [
        (99, "2024-01-01 23:59:00")
    ]
    _add_batch(
        spark.createDataFrame(rows1, "id long, ts_s string")
        .withColumn("ts", F.to_timestamp("ts_s"))
        .drop("ts_s"),
        src,
        "b1",
    )

    stream = spark.readStream.schema("id long, ts timestamp").parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: watermark advances to 23:49
        emitted_b1 = spark.table(sink).agg(F.sum("n")).collect()[0][0] or 0

        # batch 2: one row at 10:00:30 — far behind the watermark
        _add_batch(
            spark.createDataFrame([(100, "2024-01-01 10:00:30")], "id long, ts_s string")
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s"),
            src,
            "b2",
        )
        q.processAllAvailable()
        final_rows = spark.table(sink).collect()
    finally:
        q.stop()

    # processAllAvailable runs the watermark-flush batch too: rows
    # 10:00..10:09 fall in two 5-min windows (5 rows each), both closed
    # once the watermark hits 23:49; the 23:59 window stays open
    assert emitted_b1 == 10, f"expected 10 rows across closed windows, got {emitted_b1}"
    # the late 10:00:30 row arrives behind the watermark and must be
    # DROPPED: same two windows, still n=5 (n=6 would mean it leaked in)
    assert len(final_rows) == 2, f"expected two closed windows, got {len(final_rows)}"
    assert all(r.n == 5 for r in final_rows), f"late row leaked: {final_rows}"


def test_stateful_apply_in_pandas_with_state(spark, tmp_path):
    """Custom stateful operator: running count per user via
    applyInPandasWithState (SURVEY §2.9 stateful map row)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = str(tmp_path / "src")
    os.makedirs(src)
    _add_batch(
        spark.createDataFrame([(1, 3), (1, 4), (2, 5)], "user long, v long"), src, "b1"
    )

    def running(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user": [key[0]], "n": [total]})

    stream = spark.readStream.schema("user long, v long").parquet(src)
    out = stream.groupBy("user").applyInPandasWithState(
        running,
        outputStructType="user long, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = f"state_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.user: r.n for r in spark.table(sink).collect()}
    assert got == {1: 2, 2: 1}


def test_stream_transform_with_state_matches_batch(spark, sf_dir):
    """The registered stream_transform_with_state query (real
    transformWithStateInPandas when protobuf is importable, identical
    applyInPandasWithState state machine otherwise — see its docstring)
    must equal the batch GROUP BY over the same events."""
    from spark_lineage_spark.streaming.queries import stream_transform_with_state
    from spark_lineage_spark.tables import load

    got = {
        r.user_id: (r.n_events, r.total_value, r.n_event_types)
        for r in stream_transform_with_state(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (r.n_events, r.total_value, r.n_event_types)
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.count_distinct("event_type").alias("n_event_types"),
        )
        .collect()
    }
    assert got == want


def test_stream_simhash_drops_planted_near_dup(spark, tmp_path):
    """A near-duplicate planted in a LATER micro-batch must be dropped
    by the accumulating-index probe (VERDICT r6 item 8): doc 5 (batch
    5%3=2) is doc 0 (batch 0) with one word changed — simhash hamming
    well under 6 — while doc 1 (batch 1) is unrelated and survives."""
    import pandas as pd

    from spark_lineage_spark.streaming.queries import stream_dedup_simhash

    base = " ".join(f"word{i}" for i in range(60))
    near = base.replace("word30", "changed", 1)
    other = " ".join(f"other{i}" for i in range(60))
    pdf = pd.DataFrame({"doc_id": [0, 1, 5], "text": [base, other, near]})
    path = str(tmp_path / "docs")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        path + "/documents.parquet"
    )
    rows = {r.doc_id: r.batch_id for r in stream_dedup_simhash(spark, path).collect()}
    assert 0 in rows and rows[0] == 0
    assert 1 in rows and rows[1] == 1
    assert 5 not in rows, "planted near-dup in a later batch must be dropped"


def test_foreach_batch_sink(spark, sf_dir, tmp_path):
    """foreachBatch: the exactly-once escape hatch (SURVEY §2.9 sinks
    row) — each micro-batch lands as a parquet write we can re-read."""
    from spark_lineage_spark.streaming.queries import events_stream

    out = str(tmp_path / "fb_out")
    seen = []

    def handle(batch_df, epoch_id: int):
        seen.append(epoch_id)
        batch_df.groupBy("event_type").count().write.mode("overwrite").parquet(
            f"{out}/epoch={epoch_id}"
        )

    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert seen, "foreachBatch never invoked"
    total = (
        spark.read.parquet(f"{out}/epoch={seen[0]}").agg(F.sum("count")).collect()[0][0]
    )
    assert total == 1000  # sf0.001 events rows


def test_transform_with_state_in_pandas(spark, tmp_path):
    """Spark 4 transformWithStateInPandas (SURVEY §2.9 stateful map
    row): ValueState-backed running count per key."""
    import pandas as pd

    try:
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )
        # the state-server protocol needs protobuf, not shipped in
        # this container (pip installs forbidden) — the worker would
        # crash at StateMessage_pb2 import
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401
    except ImportError:
        pytest.skip(
            "transformWithStateInPandas needs protobuf (absent here); "
            "applyInPandasWithState covers SURVEY §2.9 stateful map"
        )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._count.update((n,))
            yield pd.DataFrame({"user": [key[0]], "n": [n]})

        def close(self) -> None:
            pass

    src = str(tmp_path / "src")
    os.makedirs(src)
    _add_batch(
        spark.createDataFrame([(1, 3), (1, 4), (2, 5)], "user long, v long"), src, "b1"
    )
    stream = spark.readStream.schema("user long, v long").parquet(src)
    out = stream.groupBy("user").transformWithStateInPandas(
        statefulProcessor=RunningCount(),
        outputStructType="user long, n long",
        outputMode="Update",
        timeMode="None",
    )
    sink = f"tws_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {r.user: r.n for r in spark.table(sink).collect()}
        # second batch: state continues within the same query
        _add_batch(spark.createDataFrame([(1, 6)], "user long, v long"), src, "b2")
        q.processAllAvailable()
        rows = spark.table(sink).collect()
    finally:
        q.stop()
    assert got1 == {1: 2, 2: 1}
    latest = {}
    for r in rows:
        latest[r.user] = max(latest.get(r.user, 0), r.n)
    assert latest == {1: 3, 2: 1}


def test_rate_source_smoke(spark):
    """rate source (SURVEY §2.1 streaming source row): unbounded
    synthetic (timestamp, value) rows; content is wall-clock-driven so
    only schema and liveness are asserted."""
    name = f"rate_{uuid.uuid4().hex[:8]}"
    df = spark.readStream.format("rate").option("rowsPerSecond", 500).load()
    assert [f.name for f in df.schema.fields] == ["timestamp", "value"]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 15
        while time.time() < deadline and spark.table(name).count() == 0:
            time.sleep(0.3)
        assert spark.table(name).count() > 0, "rate source produced no rows"
    finally:
        q.stop()


def test_streaming_listener_emits_per_batch(spark, sf_dir):
    from spark_lineage_spark import InMemoryReporter
    from spark_lineage_spark.streaming.listener import LineageStreamingListener
    from spark_lineage_spark.streaming.queries import events_stream, run_to_memory

    rep = InMemoryReporter()
    listener = LineageStreamingListener(rep, app_id="test", app_name="sls_tests")
    spark.streams.addListener(listener)
    try:
        agg = (
            events_stream(spark, sf_dir)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )
        run_to_memory(agg, mode="complete")
        deadline = time.time() + 30
        while time.time() < deadline and not rep.reports:
            time.sleep(0.5)  # listener delivery is async
    finally:
        spark.streams.removeListener(listener)

    assert rep.reports, "no micro-batch lineage reports delivered"
    r = rep.reports[0]
    assert r.run.func_name.startswith("microbatch:")
    assert r.inputs and r.inputs[0].kind == "streaming"
    assert "FileStreamSource" in (r.inputs[0].name or "")
    assert r.output is not None and "Memory" in (r.output.name or "")


def test_foreach_batch_listener_epochs(spark, sf_dir, tmp_path):
    """foreachBatch lineage (VERDICT r4 item 5): one report per EPOCH.
    Two input files + maxFilesPerTrigger=1 force two micro-batches; the
    listener must emit a report per batch with distinct batch ids, the
    file source as input, and the ForeachBatch sink as output."""
    from spark_lineage_spark import InMemoryReporter
    from spark_lineage_spark.streaming.listener import LineageStreamingListener
    from spark_lineage_spark.tables import load

    src = str(tmp_path / "src")
    os.makedirs(src)
    ev = load(spark, sf_dir, "events").select("event_type", "value").limit(40)
    _add_batch(ev.limit(20), src, "b0")
    _add_batch(ev.limit(40), src, "b1")

    rep = InMemoryReporter()
    listener = LineageStreamingListener(rep, app_id="test", app_name="sls_tests")
    spark.streams.addListener(listener)
    seen_epochs = []
    out = str(tmp_path / "out")

    def handle(batch_df, epoch_id):
        seen_epochs.append(epoch_id)
        batch_df.groupBy("event_type").count().write.mode("overwrite").parquet(
            f"{out}/epoch={epoch_id}"
        )

    try:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        deadline = time.time() + 30
        while time.time() < deadline and len(rep.reports) < 2:
            time.sleep(0.5)  # listener delivery is async
    finally:
        spark.streams.removeListener(listener)

    assert sorted(seen_epochs) == [0, 1], seen_epochs
    batch_ids = sorted(
        r.run.func_name for r in rep.reports if r.run.func_name.startswith("microbatch:")
    )
    assert batch_ids[:2] == ["microbatch:0", "microbatch:1"], batch_ids
    for r in rep.reports[:2]:
        assert r.inputs and "FileStreamSource" in (r.inputs[0].name or "")
        assert r.output is not None and "ForeachBatch" in (r.output.name or "")


def test_foreach_batch_facade_column_lineage(spark, sf_dir, tmp_path):
    """LineageSession.foreach_batch: the handler gets a wrapped batch
    DataFrame, so in-batch writes emit FULL reports — epoch-tagged
    func_name, output path, and column edges — which the listener's
    progress reports (source/sink strings only) cannot provide."""
    from spark_lineage_spark import InMemoryReporter, LineageSession
    from spark_lineage_spark.tables import load

    rep = InMemoryReporter()
    eng = LineageSession(spark, reporter=rep)

    src = str(tmp_path / "src")
    os.makedirs(src)
    ev = load(spark, sf_dir, "events").select("event_type", "value").limit(40)
    _add_batch(ev.limit(20), src, "b0")
    _add_batch(ev.limit(40), src, "b1")
    out = str(tmp_path / "out")

    def handle(batch_df, epoch_id):
        (
            batch_df.groupBy("event_type")
            .agg(F.round(F.sum("value"), 4).alias("total_value"))
            .write.mode("overwrite")
            .parquet(f"{out}/epoch={epoch_id}")
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(eng.foreach_batch(handle))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    names = [r.run.func_name for r in rep.reports]
    assert "foreachBatch[0]:write.parquet" in names, names
    assert "foreachBatch[1]:write.parquet" in names, names
    r0 = next(r for r in rep.reports if r.run.func_name.startswith("foreachBatch[0]"))
    assert r0.output is not None and r0.output.kind == "path"
    assert r0.output.paths and r0.output.paths[0].endswith("epoch=0")
    edges = {c.output: set(c.inputs) for c in r0.columns}
    # the micro-batch plan's leaf is a LogicalRDD over the batch slice;
    # edges must still resolve through the aggregate to the leaf column
    assert edges["total_value"] == {"LogicalRDD.value"}, edges
    assert edges["event_type"] == {"LogicalRDD.event_type"}, edges


def test_checkpoint_recovery_no_reprocessing(spark, sf_dir, tmp_path):
    """Exactly-once across restart: a second availableNow run on the
    SAME checkpoint must process only files that arrived after the
    first run — the checkpointed file-source offsets skip batch 0."""
    from spark_lineage_spark.tables import load

    src = str(tmp_path / "src")
    os.makedirs(src)
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    _add_batch(ev.limit(30), src, "b0")

    ckpt = str(tmp_path / "ckpt")
    seen = []  # (run, epoch, n_rows)

    def run(tag):
        def handle(batch_df, epoch_id):
            seen.append((tag, epoch_id, batch_df.count()))

        q = (
            spark.readStream.schema(ev.schema)
            .parquet(src)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("first")
    first = [s for s in seen if s[0] == "first"]
    assert sum(n for _, _, n in first) == 30, first

    _add_batch(ev.limit(50), src, "b1")  # 50 MORE rows in a second file
    run("second")
    second = [s for s in seen if s[0] == "second"]
    # only the new file's rows — batch 0's 30 rows are NOT reprocessed
    assert sum(n for _, _, n in second) == 50, second
    assert all(e >= 1 for _, e, _ in second), second  # epochs continue, not restart


def test_checkpoint_recovery_third_run_is_noop(spark, tmp_path):
    """stream_checkpoint_recovery's exactly-once claim, probed one step
    further than the oracle: a THIRD restart from the same checkpoint
    with NO new input files must add nothing — the committed file set
    behind _spark_metadata is byte-for-byte stable, so a scheduler
    double-fire cannot double-count."""
    import os
    import shutil

    from spark_lineage_spark.streaming.queries import _split_events_dir
    from spark_lineage_spark.tables import load

    sf = "/root/testdata/sf0.001"
    split = _split_events_dir(sf)
    schema = load(spark, sf, "events").drop("ts").schema
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    os.makedirs(in_dir)

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(in_dir)
            .select("event_id")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i in (0, 1):
        shutil.copy(os.path.join(split, f"f{i}.parquet"), in_dir)
    run_once()
    n1 = spark.read.parquet(out_dir).count()
    for i in (2, 3):
        shutil.copy(os.path.join(split, f"f{i}.parquet"), in_dir)
    run_once()
    n2 = spark.read.parquet(out_dir).count()
    committed_after_2 = sorted(
        f for f in os.listdir(out_dir) if f.endswith(".parquet")
    )
    run_once()  # third run: no new files — must be a no-op
    n3 = spark.read.parquet(out_dir).count()
    assert n1 < n2, "second run ingested nothing"
    assert n2 == n3 == load(spark, sf, "events").count()
    assert committed_after_2 == sorted(
        f for f in os.listdir(out_dir) if f.endswith(".parquet")
    ), "a no-op restart wrote files"


def test_stream_left_outer_late_match_stays_unmatched(spark, tmp_path):
    """The left-outer eviction contract (VERDICT r7 item 3): once the
    watermark closes a purchase's match window, the purchase emits
    null-extended and a matching click that arrives AFTER that point —
    with an in-bound event time, i.e. genuinely late data — must NOT
    retroactively produce a matched row."""
    import datetime
    import glob
    import shutil

    from spark_lineage_spark.streaming.queries import run_to_memory

    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    h = datetime.timedelta(hours=1)
    schema = "event_id bigint, ts timestamp, user_id bigint"

    def stage(dirname, batches):
        src = str(tmp_path / dirname)
        os.makedirs(src)
        for k, rows in enumerate(batches):
            stagep = str(tmp_path / f"{dirname}_st{k}")
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stagep)
            part = glob.glob(stagep + "/part-*.parquet")[0]
            dst = os.path.join(src, f"b{k}.parquet")
            shutil.move(part, dst)
            os.utime(dst, (1_600_000_000 + k, 1_600_000_000 + k))
        return src

    src_p = stage(
        "p",
        [
            [(1, t0, 100)],  # the purchase
            [(-1, t0 + 48 * h, -1)],  # flush sentinels advance the watermark
            [(-1, t0 + 96 * h, -1)],  # ... whose application evicts the purchase
            [(-1, t0 + 144 * h, -1)],
        ],
    )
    src_c = stage(
        "c",
        [
            [],  # no clicks while the purchase is open
            [(-2, t0 + 48 * h, -2)],
            [(-2, t0 + 96 * h, -2)],
            # the LATE click: event time inside the purchase's 1h
            # lookback, but it arrives a full batch after the watermark
            # evicted the purchase (same-batch input still joins state
            # before end-of-batch eviction, so it must come later)
            [(50, t0 - h / 2, 100), (-2, t0 + 144 * h, -2)],
        ],
    )

    def side(src, prefix, id_alias):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "2 hours")
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
        )

    joined = (
        side(src_p, "p", "purchase_id")
        .join(
            side(src_c, "c", "click_id"),
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts")),
            "leftOuter",
        )
        .select("purchase_id", "click_id")
    )
    rows = {
        (r.purchase_id, r.click_id)
        for r in run_to_memory(joined, mode="append")
        .filter(F.col("purchase_id") >= 0)
        .collect()
    }
    assert rows == {(1, None)}, rows


def test_source_archive_moves_files(spark, sf_dir):
    """cleanSource=archive must actually move committed input files to
    the archive dir. Archiving lags by design (the cleaner runs during
    subsequent batches), so the LAST file may legitimately still sit
    in the inbox when the finite run terminates — require all-but-one
    archived and nothing lost."""
    import glob as g
    import tempfile as tf

    from spark_lineage_spark.streaming.queries import (
        stream_source_archive_cleanup,
    )

    rows = {
        r.event_type: r.n_events
        for r in stream_source_archive_cleanup(spark, sf_dir).collect()
    }
    assert sum(rows.values()) > 0
    run_dirs = sorted(
        g.glob(os.path.join(tf.gettempdir(), "sls_arch_*")), key=os.path.getmtime
    )
    assert run_dirs, "run dir should be left for inspection"
    run = run_dirs[-1]
    inbox_left = [
        f for f in g.glob(os.path.join(run, "inbox", "*.parquet"))
    ]
    archived = [
        f
        for f in g.glob(os.path.join(run, "archive", "**", "*.parquet"), recursive=True)
    ]
    assert len(archived) >= 3, (archived, inbox_left)
    assert len(archived) + len(inbox_left) == 4, (archived, inbox_left)


def test_archive_cleanup_spares_live_foreign_pid(spark, sf_dir):
    """The reap that runs at the query's ``scratch_dir`` call must
    NEVER delete another LIVE process's sls_arch_ staging (a concurrent
    bench/oracle run's inbox mid-stream).  Plant three foreign dirs: a
    live-pid one (this test's own child), a dead-pid one, and an
    un-pidded one, which has no owner to check and is never reaped
    whatever its age.  After a full query run the live-pid and
    un-pidded dirs must survive; the dead-pid dir must be reaped."""
    import subprocess
    import tempfile as tf

    from spark_lineage_spark.streaming.queries import (
        stream_source_archive_cleanup,
    )

    # live foreign owner: a sleeping child process
    child = subprocess.Popen(["sleep", "60"])
    try:
        live_dir = tf.mkdtemp(prefix=f"sls_arch_{child.pid}_")
        # dead owner: a pid that cannot be running (pid_max is
        # typically 4M; 2**22+1 used by the existing reap tests too)
        dead_pid = 2**22 + 1
        dead_dir = tf.mkdtemp(prefix=f"sls_arch_{dead_pid}_")
        # legacy un-pidded dir: no owner to check, so never reaped
        legacy_dir = tf.mkdtemp(prefix="sls_arch_legacyx_")

        stream_source_archive_cleanup(spark, sf_dir).collect()

        assert os.path.isdir(live_dir), "live foreign-pid dir was reaped"
        assert os.path.isdir(legacy_dir), "un-pidded dir was reaped"
        assert not os.path.isdir(dead_dir), "dead-owner dir survived"
        os.rmdir(live_dir)
        os.rmdir(legacy_dir)
    finally:
        child.kill()
        child.wait()
