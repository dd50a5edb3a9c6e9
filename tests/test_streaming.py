"""S1–S5: streaming queries over the bounded events fixture must equal
their batch counterparts (SURVEY §5.2 item 6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from neulix_datahub_spark.plans.queries import QUERIES
from neulix_datahub_spark.streaming import (
    read_events_stream,
    read_upsert_table,
    run_stream_to_memory,
    running_user_totals,
    sessionized,
    stream_dedup,
    stream_upsert_to_parquet,
    tumbling_counts,
)
from tests.compare import assert_frames_match
from tests.conftest import SF_DIR


def test_stream_timestamps_are_absolute(spark):
    """Regression for the round-2 double nanos→µs division: a symmetric
    unit error on both sides passes batch==stream parity, so pin an
    ABSOLUTE value — the fixture's earliest event is in 2024, not 1970
    (nanos over-division) nor year ~5e4 (missed conversion)."""
    stream = read_events_stream(spark, SF_DIR)
    run_stream_to_memory(
        stream.groupBy().agg(F.min("ts").alias("m")), "ts_pin_out", output_mode="complete"
    )
    m = spark.sql("SELECT m FROM ts_pin_out").first().m
    assert m.year == 2024


def test_tumbling_stream_matches_batch(spark):
    stream = tumbling_counts(read_events_stream(spark, SF_DIR))
    run_stream_to_memory(stream, "tumbling_out", output_mode="complete")
    got = spark.sql("SELECT * FROM tumbling_out").toPandas()
    batch = QUERIES["events_hourly"].fn(spark, SF_DIR).toPandas()
    assert_frames_match(got, batch)


def test_session_stream_matches_batch(spark):
    stream = sessionized(read_events_stream(spark, SF_DIR))
    run_stream_to_memory(stream, "sessions_out", output_mode="complete")
    got = spark.sql("SELECT * FROM sessions_out").toPandas()
    batch = QUERIES["user_sessions"].fn(spark, SF_DIR).toPandas()
    assert_frames_match(got, batch)


def test_stream_dedup_keeps_unique_ids(spark):
    stream = stream_dedup(read_events_stream(spark, SF_DIR))
    run_stream_to_memory(stream, "dedup_out", output_mode="append")
    got = spark.sql("SELECT event_id FROM dedup_out").toPandas()
    assert got.event_id.is_unique
    assert len(got) == 1000  # fixture has unique event ids at sf0.001


def test_stateful_running_totals_match_batch(spark):
    stream = running_user_totals(read_events_stream(spark, SF_DIR))
    run_stream_to_memory(stream, "stateful_out", output_mode="update")
    # final emission per user == batch groupBy over the same bounded input
    got = spark.sql(
        """SELECT user_id, n_events, sum_value, max_value FROM (
               SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
               FROM stateful_out) WHERE rn = 1"""
    ).drop("rn").toPandas()
    from neulix_datahub_spark.sources.tables import load_table

    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .toPandas()
    )
    assert_frames_match(got, batch)


def test_stream_upsert_sink_merges_by_key(spark, tmp_path):
    table = str(tmp_path / "upsert_table")
    ckpt = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, SF_DIR)
    q = stream_upsert_to_parquet(stream, table, key="user_id", tiebreak="ts",
                                 checkpoint_dir=ckpt)
    q.awaitTermination()
    out = read_upsert_table(spark, table)
    rows = out.collect()
    # one row per user, and it is that user's latest event
    from neulix_datahub_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    expected = ev.groupBy("user_id").agg(F.max("ts").alias("ts")).count()
    assert len(rows) == expected
    latest = {
        (r.user_id, r.ts)
        for r in ev.groupBy("user_id").agg(F.max("ts").alias("ts")).collect()
    }
    assert {(r.user_id, r.ts) for r in rows} <= latest


def test_stream_upsert_sink_retains_bounded_versions(spark, tmp_path):
    """Each micro-batch publishes one snapshot version; retention must
    cap the table at `keep` versions while the pointer still reads the
    newest — a multi-batch drain (maxFilesPerTrigger=1) ends with at
    most 2 versions and correct merged contents."""
    import glob
    import os

    from neulix_datahub_spark.sources.snapshots import snapshot_versions

    src = str(tmp_path / "src")
    for i, rows in enumerate([[(1, 10), (2, 20)], [(2, 21), (3, 30)], [(1, 11)]]):
        spark.createDataFrame(rows, "k long, v long").coalesce(1).write.parquet(
            f"{src}/part{i}"
        )
    # one file per trigger -> several micro-batches
    files = sorted(glob.glob(f"{src}/part*/*.parquet"))
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(files):
        os.link(f, f"{flat}/{i}.parquet")
    stream = (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    table = str(tmp_path / "tbl")
    q = stream_upsert_to_parquet(
        stream, table, key="k", checkpoint_dir=str(tmp_path / "ck"),
        retain_versions=2,
    )
    q.awaitTermination()
    assert len(snapshot_versions(table)) <= 2
    got = {(r.k, r.v) for r in read_upsert_table(spark, table).collect()}
    # last-write-wins per key across all batches (file order = batch order)
    assert {k for k, _ in got} == {1, 2, 3}


def test_sliding_window_runs(spark):
    stream = tumbling_counts(read_events_stream(spark, SF_DIR), "1 hour", slide="30 minutes")
    run_stream_to_memory(stream, "sliding_out", output_mode="complete")
    n = spark.sql("SELECT count(*) AS n FROM sliding_out").first().n
    # every event lands in exactly 2 sliding windows
    total = spark.sql("SELECT sum(n_events) AS s FROM sliding_out").first().s
    assert n > 0 and total == 2000


def test_interval_join_stream_matches_batch(spark):
    from neulix_datahub_spark.sources.tables import load_table
    from neulix_datahub_spark.streaming.joins import stream_interval_join

    ev = read_events_stream(spark, SF_DIR)
    joined = stream_interval_join(
        ev.filter(F.col("event_type") == "click").select("user_id", "ts"),
        ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value"),
        upper="12 hours",
        watermark="24 hours",
    )
    run_stream_to_memory(joined, "ij_out", output_mode="append")
    got = spark.sql("SELECT * FROM ij_out").toPandas()

    b = load_table(spark, SF_DIR, "events")
    clicks = b.filter(F.col("event_type") == "click").select("user_id", "ts")
    buys = b.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("right_ts"),
        F.col("value").alias("right_value"),
    )
    batch = (
        clicks.join(
            buys,
            (F.col("user_id") == F.col("u2"))
            & F.expr("right_ts BETWEEN ts AND ts + INTERVAL 12 HOURS"),
        )
        .select("user_id", F.col("ts").alias("left_ts"), "right_ts", "right_value")
        .toPandas()
    )
    assert len(got) > 0  # non-degenerate fixture
    assert_frames_match(got, batch)


def test_stream_static_enrich_matches_batch(spark):
    """Stream-static dimension join: the drained micro-batch join over
    the bounded fixture equals the same join as one batch query."""
    from neulix_datahub_spark.sources.tables import load_table
    from neulix_datahub_spark.streaming.joins import stream_static_enrich

    ev = read_events_stream(spark, SF_DIR)
    cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream_static_enrich(ev, cust, stream_key="user_id", dim_key="c_custkey")
    agg = enriched.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_events"))
    run_stream_to_memory(agg, "enrich_out", output_mode="complete")
    got = spark.sql("SELECT * FROM enrich_out").toPandas()

    bev = load_table(spark, SF_DIR, "events")
    batch = (
        bev.join(cust, bev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    assert len(got) > 0
    assert_frames_match(got, batch)


def test_stream_dedup_sink_cross_batch_precedence(spark, tmp_path):
    """The incremental dedup sink must drop content already admitted by
    an EARLIER micro-batch (arrival order wins, even against a lower id)
    and still dedup within each batch by min id."""
    import os
    import time

    from neulix_datahub_spark.streaming.sinks import stream_dedup_to_parquet

    src = tmp_path / "src"
    src.mkdir()
    cols = ["doc_id", "text"]
    # batch 1: ids 10,11 share content -> min-id 10 survives; 12 unique
    spark.createDataFrame(
        [(10, "shared alpha"), (11, "shared  ALPHA"), (12, "only beta")], cols
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    # batch 2: id 1 duplicates batch-1 content (lower id must NOT win);
    # id 13 is new
    spark.createDataFrame(
        [(1, "Shared Alpha"), (13, "fresh gamma")], cols
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))
    # file source orders by modification time: make f2 strictly newer
    now = time.time()
    for d, t in (("f1", now - 60), ("f2", now)):
        for root, _, files in os.walk(str(src / d)):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src / "*"))
    )
    q = stream_dedup_to_parquet(
        stream, str(tmp_path / "corpus"), checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    from neulix_datahub_spark.streaming.sinks import read_stream_corpus

    got = {
        r["doc_id"]: r["text"]
        for r in read_stream_corpus(spark, str(tmp_path / "corpus")).collect()
    }
    assert sorted(got) == [10, 12, 13]
    assert got[10] == "shared alpha"


def test_concurrent_drains_serialize_and_restore_conf(spark):
    """The drain helper's session-conf override is serialized under a
    module lock: two drains racing from different threads (with
    different state-partition overrides) must both complete, never
    observe each other's override mid-drain, and leave the session conf
    exactly where it started."""
    from concurrent.futures import ThreadPoolExecutor

    before = spark.conf.get("spark.sql.shuffle.partitions")
    observed = []

    def drain(args):
        name, parts = args
        stream = read_events_stream(spark, SF_DIR).groupBy("event_type").count()
        run_stream_to_memory(
            stream, name, output_mode="complete", shuffle_partitions=parts
        )
        # under the lock the conf was parts during OUR drain; by the time
        # we can look (post-release) it must be restored
        observed.append(spark.conf.get("spark.sql.shuffle.partitions"))

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(drain, [("drain_a", 3), ("drain_b", 5)]))

    assert observed == [before, before]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    a = spark.sql("SELECT sum(count) AS s FROM drain_a").first().s
    b = spark.sql("SELECT sum(count) AS s FROM drain_b").first().s
    assert a == b and a > 0


def test_stream_to_partitioned_parquet_exactly_once(spark, tmp_path):
    """The native parquet streaming sink lands the date-partitioned
    layout with its _spark_metadata transaction log; a second drain from
    the same checkpoint (nothing new to process) adds no rows — the
    exactly-once restart behavior."""
    import os

    from neulix_datahub_spark.streaming.sinks import stream_to_partitioned_parquet

    stream = read_events_stream(spark, SF_DIR).withColumn(
        "event_date", F.to_date("ts")
    )
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    stream_to_partitioned_parquet(
        stream, out, ["event_date"], ckpt
    ).awaitTermination()

    assert os.path.isdir(os.path.join(out, "_spark_metadata"))
    dirs = [d for d in os.listdir(out) if d.startswith("event_date=")]
    assert len(dirs) >= 25
    landed = spark.read.parquet(out)
    want = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert landed.count() == want

    # restart from the same checkpoint: already-committed input is not
    # re-landed
    stream2 = read_events_stream(spark, SF_DIR).withColumn(
        "event_date", F.to_date("ts")
    )
    stream_to_partitioned_parquet(
        stream2, out, ["event_date"], ckpt
    ).awaitTermination()
    assert spark.read.parquet(out).count() == want


def test_stream_observed_metrics_per_batch(spark, tmp_path):
    """observe_stream + StreamMetricsCollector capture per-micro-batch
    accumulator metrics during the batch's own processing; the batch
    totals sum to the fixture row count and carry the custom
    aggregate."""
    from neulix_datahub_spark.observability import (
        StreamMetricsCollector,
        observe_stream,
    )

    stream = observe_stream(
        read_events_stream(spark, SF_DIR),
        "ingest",
        {"n_rows": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 4)},
    )
    with StreamMetricsCollector(spark, "ingest") as col:
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener events are delivered asynchronously post-termination
        import time

        for _ in range(100):
            if col.batches:
                break
            time.sleep(0.1)

    want = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert sum(b["n_rows"] for b in col.batches) == want
    assert all("sum_value" in b for b in col.batches)


def test_streaming_funnel_state_is_arrival_order_proof():
    """_update_funnel across two simulated micro-batches: batch 2
    delivers an EARLIER view that shifts t1 and must invalidate the
    previously-valid click (now outside the 72 h deadline from the new
    t1? no — now BEFORE t1's click window start moved earlier, the same
    click stays valid but an out-of-window one must drop). Exercise
    both: a click valid against the late t1 only, and one valid against
    the original t1 only."""
    import pandas as pd

    from neulix_datahub_spark.streaming.stateful import _update_funnel

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def batch(rows):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime([r[0] for r in rows]),
                "event_type": [r[1] for r in rows],
            }
        )

    st = FakeState()
    # batch 1: view at day 10, click at day 11 -> funnel complete to t2
    out1 = list(
        _update_funnel((7,), iter([batch([
            ("2024-01-10", "view"), ("2024-01-11", "click"),
        ])]), st)
    )[0]
    assert out1["t1"].iloc[0] is not None and out1["t2"].iloc[0] is not None

    # batch 2: an EARLIER view (day 1) arrives late. New t1 = day 1;
    # the day-11 click is now outside the 72 h deadline -> t2 must
    # become the (also late-arriving) day-2 click instead.
    out2 = list(
        _update_funnel((7,), iter([batch([
            ("2024-01-01", "view"), ("2024-01-02", "click"),
        ])]), st)
    )[0]
    t1_us = pd.Timestamp("2024-01-01").value // 1000
    t2_us = pd.Timestamp("2024-01-02").value // 1000
    assert out2["t1"].iloc[0] == float(t1_us)
    assert out2["t2"].iloc[0] == float(t2_us)

    # batch 3: drop the day-2 click scenario — a purchase within 72 h of
    # the (revised) t2 completes the funnel.
    out3 = list(
        _update_funnel((7,), iter([batch([("2024-01-03", "purchase")])]), st)
    )[0]
    assert out3["t3"].iloc[0] == float(pd.Timestamp("2024-01-03").value // 1000)


def test_stateful_funnel_recovers_from_checkpoint_restart(spark, tmp_path):
    """Keyed state survives a stop/restart: the funnel stream drains a
    source holding only HALF its files (availableNow terminates after
    them — a deterministic interruption, replacing an earlier
    stop-mid-drain poll that raced the commit log under a loaded host),
    then the other half lands and a NEW query on the SAME checkpoint
    drains the rest — per-user funnel results must equal a single
    uninterrupted batch computation (state restored across queries, no
    events reprocessed or lost)."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from neulix_datahub_spark.sources.tables import load_table
    from neulix_datahub_spark.streaming.stateful import streaming_funnel
    from tests.conftest import SF_DIR

    stage = str(tmp_path / "stage")
    src = str(tmp_path / "src")
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # 4 files; split by event_id ranges so arrival order ≠ time order for
    # some users (exercises the arrival-order-proof recompute too)
    ev.withColumn("part", F.col("event_id") % 4).repartition(1).write.mode(
        "overwrite"
    ).partitionBy("part").parquet(stage)
    files = sorted(glob.glob(f"{stage}/part=*/**.parquet"))
    assert len(files) >= 4
    os.makedirs(src, exist_ok=True)

    def land_files(batch: list[str]) -> None:
        # flat UNIQUELY-NAMED copies: partitionBy gives every part dir's
        # file the same job-UUID basename, so a bare-basename copy would
        # silently overwrite (the part=N value is not in the data and
        # not in the stream schema — flattening loses nothing else)
        for f in batch:
            part = os.path.basename(os.path.dirname(f))
            shutil.copy(f, os.path.join(src, f"{part}_{os.path.basename(f)}"))

    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_drain():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .option("maxFilesPerMicroBatch", 1)
            .parquet(src)
            # the re-landed fixture stores TIMESTAMP_NTZ; watermarks need
            # zoned TIMESTAMP (UTC session -> value-preserving cast)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        funnel = streaming_funnel(stream)

        def land(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            funnel.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(land)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land_files(files[:2])
    run_drain()                   # drains ONLY the first half, then stops
    committed_first = len(glob.glob(f"{ckpt}/commits/*"))
    land_files(files[2:])
    run_drain()                   # resume from the same checkpoint
    committed_total = len(glob.glob(f"{ckpt}/commits/*"))
    assert committed_total >= 4 > committed_first >= 1

    # final emission per user (max n_seen) must equal the batch funnel
    landed = spark.read.parquet(out_dir)
    final = (
        landed.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("user_id").orderBy(F.desc("n_seen"))
            ),
        )
        .filter("rn = 1")
    )
    got = {
        r.user_id: (r.t1, r.t2, r.t3) for r in final.collect()
    }
    # batch reference: reuse the batch funnel chain at the same deadline
    from neulix_datahub_spark.plans.queries_analytics import _funnel_step

    base = ev.select("user_id", "event_type", "ts")
    v = base.filter("event_type = 'view'").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    c = _funnel_step(base, v, "click", "t1", "t2")
    p = _funnel_step(base, c, "purchase", "t2", "t3")
    ref_rows = (
        v.join(c.select("user_id", "t2"), "user_id", "left")
        .join(p.select("user_id", "t3"), "user_id", "left")
        .collect()
    )
    to_us = lambda t: None if t is None else float(int(t.timestamp() * 1_000_000))
    for r in ref_rows:
        assert got[r.user_id] == (to_us(r.t1), to_us(r.t2), to_us(r.t3)), r.user_id


def test_stream_interval_join_left_outer_null_extension(spark, tmp_path):
    """Outer interval join emission semantics, pinned deterministically
    with a 2-batch file source: matched pairs emit immediately; an
    unmatched left emits null-extended ONLY after the watermark passes
    its join window (driven forward by batch 2); an unmatched left
    whose window is still open when the bounded drain ends is NOT
    emitted — the documented trailing-emission model."""
    import glob

    import pandas as pd
    from pyspark.sql import functions as F

    from neulix_datahub_spark.streaming.joins import stream_interval_join

    src = str(tmp_path / "src")

    def land(rows, fname):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "side", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf)
        sdf.coalesce(1).write.mode("append").parquet(src)

    # batch 1: u1 click+purchase (match); u2 click alone (never matched);
    # u3 click near the end (window still open at drain end)
    land(
        [
            (1, "2024-01-01 00:00:00", "click", 1.0),
            (1, "2024-01-01 01:00:00", "purchase", 5.0),
            (2, "2024-01-01 00:00:00", "click", 2.0),
            (3, "2024-01-05 00:00:00", "click", 3.0),
        ],
        "b1",
    )
    # batch 2: far-future rows on BOTH sides drive both watermarks past
    # u1/u2's windows (12h window + 24h delay << 4 days)
    land(
        [
            (9, "2024-01-05 00:00:00", "click", 0.0),
            (9, "2024-01-05 00:00:01", "purchase", 0.0),
        ],
        "b2",
    )

    schema = "user_id long, ts timestamp, side string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    joined = stream_interval_join(
        stream.filter("side = 'click'").select("user_id", "ts"),
        stream.filter("side = 'purchase'").select("user_id", "ts", "value"),
        key="user_id", ts_col="ts", lower="0 seconds", upper="12 hours",
        watermark="24 hours", how="left_outer",
    )
    out_dir = str(tmp_path / "out")
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda b, i: b.write.mode("append").parquet(out_dir))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.read.parquet(out_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.right_ts)
    assert by_user[1] == [pd.Timestamp("2024-01-01 01:00:00")]  # matched
    assert by_user[2] == [None]       # expired unmatched -> null-extended
    assert 3 not in by_user           # window still open at drain end
    assert by_user[9][0] is not None  # batch-2 pair matched


def test_stream_json_quarantine_splits_good_and_bad(spark, tmp_path):
    """Malformed JSON payloads land whole in the quarantine with their
    batch id; parseable rows land typed; nothing is lost or doubled."""
    import pandas as pd

    from pyspark.sql import functions as F

    from neulix_datahub_spark.streaming.sinks import stream_json_quarantine

    src = str(tmp_path / "src")
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "props": ['{"k": 7}', "not json", '{"k": 9}', None],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("event_id long, props string").parquet(src)
    q = stream_json_quarantine(
        stream, "props", "k bigint",
        good_path=str(tmp_path / "good"),
        quarantine_path=str(tmp_path / "bad"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    good = {r.event_id: r.k for r in spark.read.parquet(str(tmp_path / "good")).collect()}
    bad = [r.raw_payload for r in spark.read.parquet(str(tmp_path / "bad")).collect()]
    assert good == {1: 7, 3: 9, 4: None}  # null payload passes as good
    assert bad == ["not json"]

    # replay idempotence: foreachBatch is at-least-once, so re-running
    # the SAME batch id must rewrite its directory, not duplicate rows
    from neulix_datahub_spark.streaming.sinks import _quarantine_split

    batch = spark.createDataFrame(pdf)
    for _ in range(2):
        _quarantine_split(
            batch, 0, "props", "k bigint",
            str(tmp_path / "good"), str(tmp_path / "bad"),
        )
    assert spark.read.parquet(str(tmp_path / "good")).count() == 3
    assert spark.read.parquet(str(tmp_path / "bad")).count() == 1


def test_stream_agg_maintain_replay_cannot_double_count(spark, tmp_path):
    """The batch stamp in the snapshot commit makes the delta-fold sink
    exactly-once: a full replay of the source (fresh checkpoint, same batch ids)
    skips every already-committed batch, so the aggregate neither
    double-counts nor drifts — and it equals the batch groupBy."""
    from neulix_datahub_spark.streaming.sinks import (
        read_upsert_table,
        stream_agg_maintain_to_parquet,
    )
    from neulix_datahub_spark.streaming.windows import read_events_stream
    from tests.conftest import SF_DIR

    path = str(tmp_path / "agg")

    def drain(ckpt):
        q = stream_agg_maintain_to_parquet(
            read_events_stream(spark, SF_DIR),
            path,
            group_cols=["event_type"],
            count_col="n",
            sum_map={"s": "value"},
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination()

    drain("ckpt1")
    first = {
        r.event_type: (r.n, round(r.s, 6))
        for r in read_upsert_table(spark, path).collect()
    }
    drain("ckpt2")  # fresh checkpoint == full redelivery of all batches
    second = {
        r.event_type: (r.n, round(r.s, 6))
        for r in read_upsert_table(spark, path).collect()
    }
    assert first == second

    want = {
        r.event_type: (r.n, round(r.s, 6))
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert first == want


def _write_src_file(path, rows, mtime):
    """One parquet file in the streaming source dir, with a pinned mtime
    so the file source's (timestamp, path) ordering is deterministic."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "event_type": [r[0] for r in rows],
                "value": [float(r[1]) for r in rows],
            }
        ),
        path,
    )
    os.utime(path, (mtime, mtime))


def test_stream_agg_maintain_survives_checkpoint_loss_over_grown_source(
    spark, tmp_path
):
    """Checkpoint loss over an ADVANCED source: the fresh run restarts
    at batch 0 and re-delivers everything. The cumulative content
    fingerprint skips exactly the already-committed prefix and folds
    the new tail — no data loss (the naive id guard would drop the new
    files whose batch ids collide with committed ones) and no double
    count."""
    from neulix_datahub_spark.streaming.sinks import (
        read_upsert_table,
        stream_agg_maintain_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    _write_src_file(str(src / "f0.parquet"), [("a", 1.0), ("b", 2.0)], 1_000)
    _write_src_file(str(src / "f1.parquet"), [("a", 3.0)], 2_000)
    path = str(tmp_path / "agg")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = stream_agg_maintain_to_parquet(
            stream, path, group_cols=["event_type"], count_col="n",
            sum_map={"s": "value"}, checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination()

    drain("ckpt1")
    got1 = {
        r.event_type: (r.n, r.s) for r in read_upsert_table(spark, path).collect()
    }
    assert got1 == {"a": (2, 4.0), "b": (1, 2.0)}

    # source grows; the old checkpoint is "lost" (fresh dir)
    _write_src_file(str(src / "f2.parquet"), [("b", 5.0), ("c", 7.0)], 3_000)
    drain("ckpt2")
    got2 = {
        r.event_type: (r.n, r.s) for r in read_upsert_table(spark, path).collect()
    }
    assert got2 == {"a": (2, 4.0), "b": (2, 7.0), "c": (1, 7.0)}


def test_stream_agg_maintain_refuses_divergent_replay(spark, tmp_path):
    """A fresh checkpoint whose re-delivered content DIVERGES from the
    committed prefix must raise, not silently skip or double-fold."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from neulix_datahub_spark.streaming.sinks import stream_agg_maintain_to_parquet

    src = tmp_path / "src"
    src.mkdir()
    _write_src_file(str(src / "f0.parquet"), [("a", 1.0), ("b", 2.0)], 1_000)
    path = str(tmp_path / "agg")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = stream_agg_maintain_to_parquet(
            stream, path, group_cols=["event_type"], count_col="n",
            sum_map={"s": "value"}, checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination()

    drain("ckpt1")
    # rewrite f0 with different content, then replay from scratch
    _write_src_file(str(src / "f0.parquet"), [("a", 9.0), ("b", 9.0)], 1_000)
    with pytest.raises(StreamingQueryException, match="diverges"):
        drain("ckpt2")


def test_stream_agg_maintain_folds_tail_after_prefix_under_colliding_ids(
    spark, tmp_path
):
    """Regression (replay re-entry): after a checkpoint-loss replay
    re-delivers the committed prefix exactly, a LATER genuinely-new
    batch whose restarted id still collides with the dead lineage's
    stamped id must FOLD — the old guard flipped back into replay mode
    and raised, stranding the tail. The restamp with the restarted id
    makes the dead lineage's ids irrelevant."""
    from neulix_datahub_spark.streaming.sinks import (
        read_upsert_table,
        stream_agg_maintain_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    # old lineage: 2 files, one per batch (done stamp = batch id 1)
    _write_src_file(str(src / "f0.parquet"), [("a", 1.0)], 1_000)
    _write_src_file(str(src / "f1.parquet"), [("b", 2.0)], 2_000)
    path = str(tmp_path / "agg")

    def drain(ckpt, mfpt):
        stream = (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", str(mfpt))
            .parquet(str(src))
        )
        q = stream_agg_maintain_to_parquet(
            stream, path, group_cols=["event_type"], count_col="n",
            sum_map={"s": "value"}, checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination()

    drain("ckpt1", 1)
    # source grows by TWO files; fresh checkpoint packs 2 files/batch:
    # batch 0 == committed prefix exactly, batch 1 == new tail with
    # id 1 <= dead lineage's stamped id 1 (the re-entry trigger)
    _write_src_file(str(src / "f2.parquet"), [("a", 5.0)], 3_000)
    _write_src_file(str(src / "f3.parquet"), [("c", 7.0)], 4_000)
    drain("ckpt2", 2)
    got = {
        r.event_type: (r.n, r.s) for r in read_upsert_table(spark, path).collect()
    }
    assert got == {"a": (2, 6.0), "b": (1, 2.0), "c": (1, 7.0)}


def test_stream_agg_maintain_rebuilds_on_straddling_batch_boundaries(
    spark, tmp_path
):
    """Regression (overshoot): a restart that packs the source into
    FEWER batches than the dead lineage delivers a batch straddling
    committed and new rows — unsplittable by fingerprints. The sink
    must rebuild from the re-delivered rows (exactly once), not raise."""
    from neulix_datahub_spark.streaming.sinks import (
        read_upsert_table,
        stream_agg_maintain_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    _write_src_file(str(src / "f0.parquet"), [("a", 1.0)], 1_000)
    _write_src_file(str(src / "f1.parquet"), [("b", 2.0)], 2_000)
    path = str(tmp_path / "agg")

    def drain(ckpt, mfpt=None):
        reader = spark.readStream.schema("event_type string, value double")
        if mfpt:
            reader = reader.option("maxFilesPerTrigger", str(mfpt))
        q = stream_agg_maintain_to_parquet(
            reader.parquet(str(src)), path, group_cols=["event_type"],
            count_col="n", sum_map={"s": "value"},
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination()

    drain("ckpt1", mfpt=1)
    _write_src_file(str(src / "f2.parquet"), [("a", 5.0), ("c", 7.0)], 3_000)
    # no maxFilesPerTrigger: availableNow packs ALL files into one batch
    # whose rows straddle the committed prefix and the new tail
    drain("ckpt2")
    got = {
        r.event_type: (r.n, r.s) for r in read_upsert_table(spark, path).collect()
    }
    assert got == {"a": (2, 6.0), "b": (1, 2.0), "c": (1, 7.0)}
    # a third, continuous run folds new data on top of the rebuilt table
    _write_src_file(str(src / "f4.parquet"), [("b", 1.5)], 5_000)
    drain("ckpt2")
    got2 = {
        r.event_type: (r.n, r.s) for r in read_upsert_table(spark, path).collect()
    }
    assert got2 == {"a": (2, 6.0), "b": (2, 3.5), "c": (1, 7.0)}


def test_stream_agg_maintain_reads_tables_without_content_stamps(
    spark, tmp_path
):
    """An aggregate table written by the older row-stamped layout (stamp
    columns on every row, no stamp file in the snapshot commit) is
    refused loudly when the sink starts — not rebuilt, and not folded
    on as if it had never been stamped — and it is left untouched."""
    import pytest
    from pyspark.sql import functions as F

    from neulix_datahub_spark.sources.snapshots import (
        current_version,
        write_snapshot,
    )
    from neulix_datahub_spark.streaming.sinks import stream_agg_maintain_to_parquet

    path = str(tmp_path / "agg")
    legacy = spark.createDataFrame(
        [("a", 1, 1.0)], "event_type string, n long, s double"
    ).select(
        "*",
        F.lit(0).alias("_last_batch_id"),
        F.lit(1).alias("_last_batch_fp_n"),
        F.lit(42).alias("_last_batch_fp_x"),
    )
    v = write_snapshot(legacy, path)

    src = tmp_path / "src"
    src.mkdir()
    _write_src_file(str(src / "f9.parquet"), [("a", 3.0), ("b", 2.0)], 9_000)
    stream = (
        spark.readStream.schema("event_type string, value double")
        .parquet(str(src))
    )
    with pytest.raises(ValueError, match="fresh table and checkpoint"):
        stream_agg_maintain_to_parquet(
            stream, path, group_cols=["event_type"], count_col="n",
            sum_map={"s": "value"}, checkpoint_dir=str(tmp_path / "ckpt"),
        )
    assert current_version(path) == v


def _drain_agg(spark, src, path, ckpt, mfpt=1):
    from neulix_datahub_spark.streaming.sinks import stream_agg_maintain_to_parquet

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", str(mfpt))
        .parquet(str(src))
    )
    q = stream_agg_maintain_to_parquet(
        stream, path, group_cols=["event_type"], count_col="n",
        sum_map={"s": "value"}, checkpoint_dir=ckpt,
    )
    q.awaitTermination()


def test_stream_agg_maintain_rows_carry_no_stamps(spark, tmp_path):
    """The batch stamp lives in the snapshot commit, so the table holds
    only the group, count and sum columns, and the change feed between
    two versions reports exactly the groups that batch touched."""
    from neulix_datahub_spark.sources.snapshots import (
        read_stamp,
        snapshot_diff,
        snapshot_versions,
    )
    from neulix_datahub_spark.streaming.sinks import read_upsert_table

    src = tmp_path / "src"
    src.mkdir()
    _write_src_file(str(src / "f0.parquet"), [("a", 1.0), ("b", 2.0)], 1_000)
    _write_src_file(str(src / "f1.parquet"), [("a", 3.0)], 2_000)
    path = str(tmp_path / "agg")
    _drain_agg(spark, src, path, str(tmp_path / "ckpt"))

    out = read_upsert_table(spark, path)
    assert sorted(out.columns) == ["event_type", "n", "s"]
    assert read_stamp(path)["id"] == 1
    v1, v2 = snapshot_versions(path)
    feed = snapshot_diff(spark, path, v1, v2, key="event_type").collect()
    assert [(r.event_type, r.n, r.s, r._change_type) for r in feed] == [
        ("a", 2, 4.0, "update")
    ]


def test_stream_agg_maintain_lost_pointer_publish_folds_once(
    spark, tmp_path, monkeypatch
):
    """A publish that dies after the version rename but before the
    pointer moves leaves the data AND the stamp at the old version, so
    the redelivered batch folds exactly once; a publish that dies right
    after the pointer moved leaves the new stamp, so the redelivered
    batch is skipped."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from neulix_datahub_spark.sources import snapshots
    from neulix_datahub_spark.sources.snapshots import current_version, read_stamp
    from neulix_datahub_spark.streaming.sinks import read_upsert_table

    src = tmp_path / "src"
    src.mkdir()
    _write_src_file(str(src / "f0.parquet"), [("a", 1.0)], 1_000)
    path, ckpt = str(tmp_path / "agg"), str(tmp_path / "ckpt")
    _drain_agg(spark, src, path, ckpt)
    v0, stamp0 = current_version(path), read_stamp(path)

    def got():
        return {
            r.event_type: (r.n, r.s)
            for r in read_upsert_table(spark, path).collect()
        }

    real = snapshots._publish_pointer

    def before_pointer(*_a, **_k):
        raise OSError("crash before the pointer moved")

    def after_pointer(*a, **k):
        real(*a, **k)
        raise OSError("crash after the pointer moved")

    _write_src_file(str(src / "f1.parquet"), [("b", 2.0)], 2_000)
    monkeypatch.setattr(snapshots, "_publish_pointer", before_pointer)
    with pytest.raises(StreamingQueryException, match="before the pointer"):
        _drain_agg(spark, src, path, ckpt)
    assert (current_version(path), read_stamp(path)) == (v0, stamp0)
    assert got() == {"a": (1, 1.0)}

    monkeypatch.setattr(snapshots, "_publish_pointer", after_pointer)
    with pytest.raises(StreamingQueryException, match="after the pointer"):
        _drain_agg(spark, src, path, ckpt)  # batch 1 redelivered, folded
    assert read_stamp(path)["id"] == 1
    assert got() == {"a": (1, 1.0), "b": (1, 2.0)}

    monkeypatch.undo()
    _write_src_file(str(src / "f2.parquet"), [("a", 5.0)], 3_000)
    _drain_agg(spark, src, path, ckpt)  # batch 1 again: skipped
    assert got() == {"a": (2, 6.0), "b": (1, 2.0)}


def test_stream_commit_tables_stamp_rides_the_catalog_commit(spark, tmp_path):
    """The catalog sink's manifest lists only the caller's members: the
    batch stamp is the catalog commit's own stamp, not a member table."""
    from neulix_datahub_spark.sources.snapshots import (
        read_catalog_manifest,
        read_stamp,
    )
    from neulix_datahub_spark.streaming.sinks import stream_commit_tables

    src = tmp_path / "src"
    src.mkdir()
    _write_src_file(str(src / "f0.parquet"), [("a", 1.0)], 1_000)
    _write_src_file(str(src / "f1.parquet"), [("b", 2.0)], 2_000)
    root = str(tmp_path / "cat")
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )

    def clean(batch, existing):
        return batch if existing is None else existing.unionByName(batch)

    stream_commit_tables(
        stream, root, {"clean": clean}, checkpoint_dir=str(tmp_path / "ckpt")
    ).awaitTermination()
    assert set(read_catalog_manifest(root)) == {"clean"}
    assert read_stamp(root)["id"] == 1 and read_stamp(root)["cn"] == 2


def test_stream_sinks_refuse_legacy_stamp_layouts(spark, tmp_path):
    """Every exactly-once sink refuses state whose stamps live in the
    data — a catalog with the old ``commit_meta`` member, a dedup store
    or near-dup index with stamp columns on every row — and a stamp
    file of an unknown layout."""
    import json
    import os

    import pytest

    from neulix_datahub_spark.sources.snapshots import (
        STAMP,
        commit_tables,
        current_version,
        write_snapshot,
    )
    from neulix_datahub_spark.streaming.sinks import (
        stream_agg_maintain_to_parquet,
        stream_commit_tables,
        stream_dedup_to_parquet,
        stream_neardup_dedup_to_parquet,
    )

    (tmp_path / "src").mkdir()
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path / "src")
    )
    cat = str(tmp_path / "cat")
    commit_tables(
        {
            "counts": spark.createDataFrame([("a", 1)], "event_type string, n long"),
            "commit_meta": spark.createDataFrame([(0,)], "last_batch_id long"),
        },
        cat,
    )
    with pytest.raises(ValueError, match="'commit_meta' catalog member"):
        stream_commit_tables(stream, cat, {"counts": lambda b, e: e})

    row_stamped = spark.createDataFrame(
        [("f", 0, 1, 7)],
        "fingerprint string, _last_batch_id long, _last_batch_fp_n long, "
        "_last_batch_fp_x long",
    )
    for store, sink in (
        ("_fingerprints", stream_dedup_to_parquet),
        ("_neardup_index", stream_neardup_dedup_to_parquet),
    ):
        corpus = str(tmp_path / sink.__name__)
        write_snapshot(row_stamped, os.path.join(corpus, store))
        with pytest.raises(ValueError, match="column on every row"):
            sink(stream, corpus)

    agg = str(tmp_path / "agg")
    v = write_snapshot(
        spark.createDataFrame([("a", 1)], "event_type string, n long"),
        agg, stamp={"id": 0, "n": 1, "x": 0, "cn": 1, "cx": 0},
    )
    with open(os.path.join(agg, v, STAMP), "w") as f:
        json.dump({"layout": "stamp/2", "id": 0}, f)
    with pytest.raises(ValueError, match="stamp/2"):
        stream_agg_maintain_to_parquet(stream, agg, ["event_type"], "n", {})
    assert current_version(agg) == v


def test_stream_commit_tables_replay_repack_and_straddle(spark, tmp_path):
    """The catalog sink handles both restart regimes the agg sink does:
    prefix-exact repack (restamp, then fold the colliding-id tail) and
    straddling boundaries (rebuild every member from staged rows) —
    with the cross-table atomicity preserved throughout."""
    from neulix_datahub_spark.sources.snapshots import read_catalog
    from neulix_datahub_spark.streaming.sinks import stream_commit_tables

    src = tmp_path / "src"
    src.mkdir()
    _write_src_file(str(src / "f0.parquet"), [("a", 1.0)], 1_000)
    _write_src_file(str(src / "f1.parquet"), [("b", 2.0)], 2_000)
    root = str(tmp_path / "cat")

    def fold_counts(batch, existing):
        delta = batch.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        if existing is None:
            return delta
        return (
            existing.unionByName(delta)
            .groupBy("event_type")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    def fold_total(batch, existing):
        delta = batch.agg(F.sum("value").alias("total"))
        if existing is None:
            return delta
        return existing.unionByName(delta).agg(F.sum("total").alias("total"))

    members = {"counts": fold_counts, "total": fold_total}

    def drain(ckpt, mfpt=None):
        reader = spark.readStream.schema("event_type string, value double")
        if mfpt:
            reader = reader.option("maxFilesPerTrigger", str(mfpt))
        q = stream_commit_tables(
            reader.parquet(str(src)), root, members,
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination()

    drain("c1", mfpt=1)
    # repack: batch 0 == prefix (restamp), batch 1 == tail with id 1
    _write_src_file(str(src / "f2.parquet"), [("a", 5.0)], 3_000)
    _write_src_file(str(src / "f3.parquet"), [("c", 7.0)], 4_000)
    drain("c2", mfpt=2)
    cat = read_catalog(spark, root)
    counts = {r.event_type: r.n for r in cat["counts"].collect()}
    assert counts == {"a": 2, "b": 1, "c": 1}
    assert cat["total"].first().total == 15.0

    # straddle: everything (committed + new) lands in ONE batch
    _write_src_file(str(src / "f5.parquet"), [("d", 10.0)], 5_000)
    drain("c3")
    cat = read_catalog(spark, root)
    counts = {r.event_type: r.n for r in cat["counts"].collect()}
    assert counts == {"a": 2, "b": 1, "c": 1, "d": 1}
    assert cat["total"].first().total == 25.0


def test_stream_neardup_sink_crash_between_data_and_index_is_idempotent(
    spark, tmp_path
):
    """Regression: the near-dup sink used to APPEND admitted docs to a
    flat data/ dir BEFORE publishing the index snapshot — a crash
    between the two meant the replayed batch re-appended the same rows.
    Now admissions land in a per-batch overwrite directory and the
    index carries the batch stamp, so replaying from any crash point
    (simulated by rolling the index pointer back one version while the
    data write survives) reproduces the identical corpus."""
    import os

    from neulix_datahub_spark.sources.snapshots import snapshot_versions
    from neulix_datahub_spark.streaming.sinks import (
        read_stream_corpus,
        stream_neardup_dedup_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    _docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely different content about spark streaming sinks"),
    ]
    spark.createDataFrame(_docs, ["doc_id", "text"]).coalesce(1).write.parquet(
        str(src / "f0")
    )
    spark.createDataFrame(
        [(3, "a third unique document with its own words entirely")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "f1"))
    import time

    now = time.time()
    for d, t in (("f0", now - 60), ("f1", now)):
        for root, _, files in os.walk(str(src / d)):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    corpus = str(tmp_path / "corpus")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        q = stream_neardup_dedup_to_parquet(
            stream, corpus, threshold=0.8, checkpoint_dir=str(tmp_path / ckpt)
        )
        q.awaitTermination()

    drain("ckpt1")
    want = sorted(r.doc_id for r in read_stream_corpus(spark, corpus).collect())
    assert want == [1, 2, 3]

    # crash simulation: batch 1's data directory was written but the
    # index publish "didn't happen" — roll the pointer back a version
    idx = os.path.join(corpus, "_neardup_index")
    versions = snapshot_versions(idx)
    assert len(versions) >= 2
    with open(os.path.join(idx, "_VERSION"), "w") as f:
        f.write(versions[-2])

    drain("ckpt2")  # fresh checkpoint: full redelivery from batch 0
    got = sorted(r.doc_id for r in read_stream_corpus(spark, corpus).collect())
    assert got == want  # no duplicates, nothing lost


def test_stream_dedup_sink_full_redelivery_is_idempotent(spark, tmp_path):
    """Exact-dedup sink: a full redelivery under a fresh checkpoint
    (same ids, same content) reproduces the identical corpus — the
    batch stamp short-circuits committed batches and the per-batch
    overwrite directories absorb any partially-committed one."""
    from neulix_datahub_spark.streaming.sinks import (
        read_stream_corpus,
        stream_dedup_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, "alpha one"), (2, "alpha  ONE"), (3, "beta two")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "f0"))

    corpus = str(tmp_path / "corpus")

    def drain(ckpt):
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(src / "*")
        )
        q = stream_dedup_to_parquet(
            stream, corpus, checkpoint_dir=str(tmp_path / ckpt)
        )
        q.awaitTermination()

    drain("ckpt1")
    want = sorted(r.doc_id for r in read_stream_corpus(spark, corpus).collect())
    assert want == [1, 3]
    drain("ckpt2")
    got = sorted(r.doc_id for r in read_stream_corpus(spark, corpus).collect())
    assert got == want


def test_stream_dedup_sink_multibatch_redelivery_preserves_corpus(
    spark, tmp_path
):
    """Checkpoint-loss redelivery across MULTIPLE batches must not erase
    committed data: the stamp remembers only the LAST batch id, so a
    re-delivered earlier batch (id 0 vs stamped id 1) is recomputed —
    and every doc anti-joins away against the advanced store, making
    the recomputed admitted set EMPTY. Its per-batch directory name
    (id + content fingerprint) collides with the original commit's, so
    an unconditional overwrite would replace the committed docs with
    nothing while the store still claims them admitted — permanent
    silent loss. The sink must leave completed directories alone."""
    from neulix_datahub_spark.streaming.sinks import (
        read_stream_corpus,
        stream_dedup_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, "alpha one")], ["doc_id", "text"]
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(2, "beta two")], ["doc_id", "text"]
    ).coalesce(1).write.parquet(str(src / "f1"))

    corpus = str(tmp_path / "corpus")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)  # one batch per file
            .parquet(str(src / "*"))
        )
        q = stream_dedup_to_parquet(
            stream, corpus, checkpoint_dir=str(tmp_path / ckpt)
        )
        q.awaitTermination()

    drain("ckpt1")
    want = sorted(r.doc_id for r in read_stream_corpus(spark, corpus).collect())
    assert want == [1, 2]
    drain("ckpt2")  # fresh checkpoint: ids restart, both batches replayed
    got = sorted(r.doc_id for r in read_stream_corpus(spark, corpus).collect())
    assert got == want


def test_stream_neardup_sink_multibatch_redelivery_preserves_corpus(
    spark, tmp_path
):
    """Near-dup twin of the exact-dedup multibatch redelivery test: the
    banded-index sink shares _admit_and_publish, and its recomputed
    admitted set shrinks the same way once the index has advanced."""
    from neulix_datahub_spark.streaming.sinks import (
        read_stream_corpus,
        stream_neardup_dedup_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(2, "completely different words about streaming window state")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "f1"))

    corpus = str(tmp_path / "corpus")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = stream_neardup_dedup_to_parquet(
            stream, corpus, checkpoint_dir=str(tmp_path / ckpt)
        )
        q.awaitTermination()

    drain("ckpt1")
    want = sorted(r.doc_id for r in read_stream_corpus(spark, corpus).collect())
    assert want == [1, 2]
    drain("ckpt2")
    got = sorted(r.doc_id for r in read_stream_corpus(spark, corpus).collect())
    assert got == want


def _roll_back_one_version(store_dir):
    import os

    from neulix_datahub_spark.sources.snapshots import snapshot_versions

    versions = snapshot_versions(store_dir)
    assert len(versions) >= 2
    with open(os.path.join(store_dir, "_VERSION"), "w") as f:
        f.write(versions[-2])


def test_stream_dedup_sink_crash_then_repacked_redelivery_no_duplicates(
    spark, tmp_path
):
    """The residual window the content-addressed directories alone can't
    close: crash AFTER a batch's data write but BEFORE its store
    publish (simulated by rolling the store pointer back one version),
    then checkpoint loss with DIFFERENT batch packing. The orphan
    directory's docs have no fingerprints in the store, so the repacked
    redelivery would admit them again under a new directory name —
    duplicating them permanently. The restart-time reconciliation folds
    the newest committed directory back into the store first."""
    from neulix_datahub_spark.streaming.sinks import (
        read_stream_corpus,
        stream_dedup_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, "alpha one")], ["doc_id", "text"]
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(2, "beta two")], ["doc_id", "text"]
    ).coalesce(1).write.parquet(str(src / "f1"))

    corpus = str(tmp_path / "corpus")

    def drain(ckpt, one_file_per_batch):
        stream = spark.readStream.schema("doc_id long, text string")
        if one_file_per_batch:
            stream = stream.option("maxFilesPerTrigger", 1)
        q = stream_dedup_to_parquet(
            stream.parquet(str(src / "*")),
            corpus,
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination()

    drain("ckpt1", one_file_per_batch=True)  # two batches
    want = sorted(r.doc_id for r in read_stream_corpus(spark, corpus).collect())
    assert want == [1, 2]

    # crash: batch 1's data directory committed, its store publish lost
    import os

    _roll_back_one_version(os.path.join(corpus, "_fingerprints"))

    drain("ckpt2", one_file_per_batch=False)  # repack: ONE batch now
    got = sorted(r.doc_id for r in read_stream_corpus(spark, corpus).collect())
    assert got == want  # doc 2 must not be admitted twice


def test_stream_neardup_sink_crash_then_repacked_redelivery_no_duplicates(
    spark, tmp_path
):
    """Near-dup twin of the repacked-redelivery reconciliation test."""
    from neulix_datahub_spark.streaming.sinks import (
        read_stream_corpus,
        stream_neardup_dedup_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(2, "completely different words about streaming window state")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "f1"))

    corpus = str(tmp_path / "corpus")

    def drain(ckpt, one_file_per_batch):
        stream = spark.readStream.schema("doc_id long, text string")
        if one_file_per_batch:
            stream = stream.option("maxFilesPerTrigger", 1)
        q = stream_neardup_dedup_to_parquet(
            stream.parquet(str(src / "*")),
            corpus,
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination()

    drain("ckpt1", one_file_per_batch=True)
    want = sorted(r.doc_id for r in read_stream_corpus(spark, corpus).collect())
    assert want == [1, 2]

    import os

    _roll_back_one_version(os.path.join(corpus, "_neardup_index"))

    drain("ckpt2", one_file_per_batch=False)
    got = sorted(r.doc_id for r in read_stream_corpus(spark, corpus).collect())
    assert got == want


class _FakeState:
    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def test_stateful_totals_all_null_values_emit_sql_nulls():
    """A user whose values are entirely NULL must emit NULL sum/max
    (SQL aggregate semantics, matching the batch oracle) — not 0.0 and
    the -inf init sentinel. n_events still counts every row."""
    import math

    import pandas as pd

    from neulix_datahub_spark.streaming.stateful import _update_user_totals

    st = _FakeState()
    out = list(
        _update_user_totals(
            (1,), iter([pd.DataFrame({"value": [None, None]})]), st
        )
    )[0]
    assert out["n_events"].iloc[0] == 2
    assert out["sum_value"].iloc[0] is None or (
        isinstance(out["sum_value"].iloc[0], float)
        and math.isnan(out["sum_value"].iloc[0])
    )
    assert out["max_value"].iloc[0] is None or math.isnan(out["max_value"].iloc[0])
    # a later non-null batch resumes normal accumulation
    out2 = list(
        _update_user_totals((1,), iter([pd.DataFrame({"value": [3.0]})]), st)
    )[0]
    assert out2["n_events"].iloc[0] == 3
    assert out2["sum_value"].iloc[0] == 3.0
    assert out2["max_value"].iloc[0] == 3.0


def test_stateful_funnel_drops_null_ts_and_bounds_state():
    """NULL event times must not crash the funnel (NaT→int64 raises in
    pandas 2.x), and the per-user buffers must stay bounded: events
    beyond the funnel window (> t1 + 2×deadline) are pruned while the
    answer stays correct, and views collapse to their minimum."""
    import pandas as pd

    from neulix_datahub_spark.streaming.stateful import _update_funnel

    st = _FakeState()
    batch = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-10", None, "2024-01-11"] + ["2024-06-01"] * 50
            ),
            "event_type": ["view", "click", "click"] + ["click"] * 50,
        }
    )
    out = list(_update_funnel((9,), iter([batch]), st))[0]
    assert out["t1"].iloc[0] == float(pd.Timestamp("2024-01-10").value // 1000)
    assert out["t2"].iloc[0] == float(pd.Timestamp("2024-01-11").value // 1000)
    n_seen, views, clicks, purchases = st.get
    assert n_seen == 52  # every non-null funnel event counted
    assert len(views) == 1  # collapsed to min
    assert clicks == [float(pd.Timestamp("2024-01-11").value // 1000)]
    # the 50 June clicks (far beyond t1 + 2x72h) were pruned


# --- the fingerprint rides the publish (_ReplayGuard fold_observes) ----------

def _drain_agg_within(spark, src, path, ckpt, timeout=180):
    """``_drain_agg`` that fails instead of hanging: an Observation whose
    write ran in another session would block the batch forever."""
    import threading

    import pytest

    from neulix_datahub_spark.streaming.sinks import stream_agg_maintain_to_parquet

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = stream_agg_maintain_to_parquet(
        stream, path, group_cols=["event_type"], count_col="n",
        sum_map={"s": "value"}, checkpoint_dir=ckpt,
    )
    if not q.awaitTermination(timeout):
        threading.Thread(target=q.stop, daemon=True).start()
        pytest.fail(f"stream did not finish within {timeout} s")
    assert q.exception() is None


def test_observed_stamp_equals_batch_fingerprint(spark, tmp_path):
    """With no stamp, or a batch id past the stamp's, the stamp comes
    from an Observation on the fold's write: per version it equals the
    up-front fingerprint of that batch's rows, and the cumulative pair
    accumulates them."""
    from neulix_datahub_spark.sources.snapshots import read_stamp, snapshot_versions
    from neulix_datahub_spark.streaming.sinks import _batch_fingerprint

    src = tmp_path / "src"
    src.mkdir()
    files = [
        (str(src / "f0.parquet"), [("a", 1.0), ("b", 2.0), ("a", 2.5)]),
        (str(src / "f1.parquet"), [("c", 3.0)]),
    ]
    for i, (f, rows) in enumerate(files):
        _write_src_file(f, rows, 1_000 * (i + 1))
    path = str(tmp_path / "agg")
    _drain_agg_within(spark, src, path, str(tmp_path / "ckpt"))

    cn, cx = 0, 0
    for bid, (v, (f, _)) in enumerate(zip(snapshot_versions(path), files)):
        n, x = _batch_fingerprint(
            spark.read.schema("event_type string, value double").parquet(f))
        cn, cx = cn + n, cx ^ x
        assert read_stamp(path, v) == {"id": bid, "n": n, "x": x, "cn": cn, "cx": cx}
    assert {r.event_type: (r.n, r.s) for r in read_upsert_table(spark, path).collect()} \
        == {"a": (2, 3.5), "b": (1, 2.0), "c": (1, 3.0)}


def test_same_id_redelivery_fingerprints_up_front_and_skips(spark, monkeypatch):
    """A stamp with the delivery's batch id sends it down the up-front
    path (one fingerprint aggregate), which skips the committed batch;
    the next id folds with the stamp taken from the Observation."""
    from neulix_datahub_spark.streaming import sinks

    batch = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "event_type string, value double")
    n, x = sinks._batch_fingerprint(batch)
    calls, folds = [], []
    real = sinks._batch_fingerprint
    monkeypatch.setattr(
        sinks, "_batch_fingerprint", lambda df: calls.append(1) or real(df))

    def fold(feed, incremental, new_stamp):
        feed.collect()  # the action the Observation rides
        folds.append(new_stamp if isinstance(new_stamp, dict) else new_stamp())

    stamp = {"id": 3, "n": n, "x": x, "cn": 5, "cx": 9}
    run = sinks._ReplayGuard(fold_observes=True)
    run.deliver("unused", batch, 3, stamp, fold, lambda s: folds.append(s))
    assert (calls, folds) == ([1], [])
    run.deliver("unused", batch, 4, stamp, fold, lambda s: folds.append(s))
    assert calls == [1]
    assert folds == [{"id": 4, "n": n, "x": x, "cn": 5 + n, "cx": 9 ^ x}]


def test_zero_row_batch_stamps_zero(spark, tmp_path):
    """A micro-batch of an empty file folds nothing and still commits
    the stamp (0, 0): the Observation completes over zero rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from neulix_datahub_spark.sources.snapshots import read_stamp

    src = tmp_path / "src"
    src.mkdir()
    _write_src_file(str(src / "f0.parquet"), [("a", 1.0)], 1_000)
    empty = str(src / "f1.parquet")
    pq.write_table(pa.table({"event_type": pa.array([], pa.string()),
                             "value": pa.array([], pa.float64())}), empty)
    os.utime(empty, (2_000, 2_000))
    path = str(tmp_path / "agg")
    _drain_agg_within(spark, src, path, str(tmp_path / "ckpt"))
    stamp = read_stamp(path)
    assert (stamp["id"], stamp["n"], stamp["x"], stamp["cn"]) == (1, 0, 0, 1)
    assert [(r.event_type, r.n, r.s) for r in read_upsert_table(spark, path).collect()] \
        == [("a", 1, 1.0)]


def test_sink_base_reads_launch_no_job_from_batch_one(spark, tmp_path, monkeypatch):
    """On an empty table, the first batch publishes from its own
    foreachBatch session, and every later base read, through the
    stream's session, finds the schema that publish recorded: no
    schema-inference job, for the aggregate and the upsert sinks."""
    from neulix_datahub_spark.streaming import sinks

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = []
    real = sinks.read_upsert_table

    def counted(s, p):
        j0 = dag.numTotalJobs()
        out = real(s, p)
        jobs.append(dag.numTotalJobs() - j0)
        return out

    monkeypatch.setattr(sinks, "read_upsert_table", counted)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        _write_src_file(str(src / f"f{i}.parquet"), [("a", float(i)), ("b", 1.0)],
                        1_000 * (i + 1))
    _drain_agg_within(spark, src, str(tmp_path / "agg"), str(tmp_path / "ckpt"))
    assert jobs == [0, 0, 0]  # batch 0 finds no table; batches 1 and 2 read it

    jobs.clear()
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = sinks.stream_upsert_to_parquet(
        stream, str(tmp_path / "up"), key="event_type",
        checkpoint_dir=str(tmp_path / "ckpt_up"))
    assert q.awaitTermination(180)
    assert jobs == [0, 0, 0]
    assert sorted((r.event_type, r.value) for r in real(spark, str(tmp_path / "up")).collect()) \
        == [("a", 2.0), ("b", 1.0)]


def test_fold_planned_outside_the_batch_session_raises(spark, tmp_path, monkeypatch):
    """The hang guard: a maintained frame that belongs to the stream's
    session (here, the stored aggregate returned as is) would run its
    write outside the feed's session and leave the Observation waiting
    forever; the sink raises before writing instead, and the table and
    its stamp stay as they were."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from neulix_datahub_spark.operators import incremental
    from neulix_datahub_spark.sources.snapshots import current_version, read_stamp

    src = tmp_path / "src"
    src.mkdir()
    _write_src_file(str(src / "f0.parquet"), [("a", 1.0)], 1_000)
    path, ckpt = str(tmp_path / "agg"), str(tmp_path / "ckpt")
    _drain_agg_within(spark, src, path, ckpt)
    v0, stamp0 = current_version(path), read_stamp(path)

    monkeypatch.setattr(incremental, "apply_agg_delta", lambda agg, *_a: agg)
    _write_src_file(str(src / "f1.parquet"), [("b", 2.0)], 2_000)
    with pytest.raises(StreamingQueryException, match="batch's session"):
        _drain_agg_within(spark, src, path, ckpt)
    assert (current_version(path), read_stamp(path)) == (v0, stamp0)
