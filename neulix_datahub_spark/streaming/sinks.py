"""Streaming upsert sink (SURVEY §2.3 J2 streaming path, §2.1 IO14):
``foreachBatch`` + keyed MERGE published onto a versioned snapshot
table (``sources/snapshots.py`` — immutable snapshot dirs + atomic
pointer publish).

The reference upserts row-by-row into Firestore with 500-op batches
(``core/utils/db_core.py:272-337``); the streaming engine replaces that
with per-micro-batch set-based MERGE. Each batch merges into the
current snapshot and publishes the next one with an atomic pointer
move, so readers never see a half-written table, concurrent readers of
the previous version keep working, and a checkpoint-replayed batch
re-publishes idempotently (the keyed MERGE is idempotent, so the extra
version carries identical content). With Delta available the same
``foreachBatch`` body becomes ``MERGE INTO`` and the snapshot
bookkeeping disappears.

The exactly-once sinks (aggregate, catalog, exact and near-dup dedup)
keep their batch bookkeeping — batch id, batch content fingerprint and,
where the replay guard needs it, the cumulative fingerprint — as the
snapshot commit's stamp (``snapshots.read_stamp``), the analogue of a
Delta ``txn`` action: one format, published by the same pointer move as
the data, and never a column a reader sees.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from neulix_datahub_spark.operators.upsert import upsert
from neulix_datahub_spark.sources.snapshots import (
    commit_tables,
    current_version,
    read_catalog_manifest,
    read_snapshot_table,
    read_stamp,
    vacuum_snapshots,
    write_snapshot,
)

_LOG = logging.getLogger(__name__)


def read_upsert_table(spark: SparkSession, path: str) -> DataFrame | None:
    """Current contents of a snapshot-versioned upsert table (None while
    nothing has been published)."""
    if current_version(path) is None:
        return None
    return read_snapshot_table(spark, path)


def _start(
    stream_df: DataFrame,
    body,
    checkpoint_dir: str | None,
    output_mode: str | None = None,
) -> StreamingQuery:
    """Run ``body(batch_df, batch_id)`` on every micro-batch as a
    bounded ``Trigger.AvailableNow`` drain; long-lived deployments drop
    the trigger and keep the checkpoint."""
    writer = stream_df.writeStream.foreachBatch(body).trigger(availableNow=True)
    if output_mode:
        writer = writer.outputMode(output_mode)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _publish(
    df: DataFrame, root: str, stamp: dict | None, retain_versions: int | None
) -> None:
    """Publish ``df`` with ``stamp`` as the next snapshot of ``root``,
    then vacuum all but the ``retain_versions`` newest (None keeps
    every version)."""
    write_snapshot(df, root, stamp=stamp)
    if retain_versions is not None:
        vacuum_snapshots(root, keep=retain_versions)


def stream_upsert_to_parquet(
    stream_df: DataFrame,
    path: str,
    key: str,
    tiebreak: str | None = None,
    checkpoint_dir: str | None = None,
    retain_versions: int | None = 8,
    output_mode: str | None = None,
) -> StreamingQuery:
    """Drive ``stream_df`` into a keyed snapshot table with MERGE
    semantics: within and across micro-batches, the last/greatest-
    ``tiebreak`` row per ``key`` wins. Runs with ``Trigger.AvailableNow``
    (bounded drain); long-lived deployments drop that trigger and keep
    the checkpoint. ``output_mode="update"`` turns an AGGREGATED stream
    into a continuous rollup: each micro-batch hands the changed (key,
    latest-total) rows to the MERGE (append mode would hold rows back
    until the watermark finalizes them).

    ``retain_versions`` vacuums all but the N newest snapshot versions
    after each publish — a long-lived stream publishes one version per
    micro-batch, so without retention the table grows without bound.
    The default keeps 8 (long-running readers of recent versions stay
    valid through ~8 further batches); ``None`` disables vacuuming.
    """
    spark = stream_df.sparkSession

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        existing = read_upsert_table(spark, path)
        merged = upsert(existing, batch_df, key, tiebreak) if existing is not None \
            else upsert(batch_df.limit(0), batch_df, key, tiebreak)
        _publish(merged, path, None, retain_versions)

    return _start(stream_df, _merge_batch, checkpoint_dir, output_mode)


def _batch_committed(
    stamp: dict | None, batch_id: int, fp_n: int, fp_x: int
) -> bool:
    """The stamp records this very delivery (same batch id, same content
    fingerprint): the in-flight batch re-delivered under a continuous
    checkpoint, already committed."""
    return stamp is not None and (stamp["id"], stamp["n"], stamp["x"]) == (
        batch_id, fp_n, fp_x
    )


class _ReplayGuard:
    """Per-run replay state machine shared by the exactly-once
    foreachBatch sinks (``stream_agg_maintain_to_parquet``,
    ``stream_commit_tables``). foreachBatch is at-least-once in two
    regimes — an in-flight batch re-delivered under a continuous
    checkpoint, and a full re-delivery after checkpoint loss (ids
    restart at 0). ``decide()`` classifies each delivery against the
    committed stamp ``{id, n, x, cn, cx}``:

    - ``fold`` — genuinely new content: fold and stamp normally.
    - ``skip`` — continuous-checkpoint replay of the stamped in-flight
      batch (same id, same fingerprint): already committed.
    - ``stage`` — inside the committed prefix of a restarted lineage:
      don't fold, but STAGE the raw rows so a later straddling batch
      can rebuild.
    - ``restamp`` — the re-delivered prefix matched the committed
      cumulative fingerprint EXACTLY: publish the unchanged content
      under a stamp carrying the RESTARTED batch id. Without the
      restamp, the next genuinely-new batch whose restarted id is
      still <= the dead lineage's stamped id would re-enter replay
      mode and raise (or a crash right after the prefix completes
      would strand the tail forever) — the old lineage's id must stop
      mattering the moment the prefix is verified.
    - ``rebuild`` — the re-delivered stream overran the committed
      prefix MID-batch (the restart packed the source into different
      batch boundaries, e.g. a default trigger where the old lineage
      ran maxFilesPerTrigger=1): replace the table with a fold of the
      staged rows + this batch. The re-delivered source is the truth,
      folded exactly once; committed-prefix equality cannot be
      verified at fingerprint granularity in this regime (documented
      trade).

    Divergence the fingerprints CAN prove — same cumulative row count,
    different cumulative hash — still raises: that is corrupted or
    mis-wired input, not a boundary artifact. ``replay_done`` makes
    the whole replay protocol run at most once per query lifetime; the
    restamp/rebuild stamps re-align the table with the new lineage so
    later runs never consult the dead one.

    ``fold_observes``: the sink's fold publishes the feed it is handed
    in one write, in the feed's session. A delivery that ``decide``
    can only fold — normal mode, and no stamp or a larger batch id than
    the stamp's — then skips the separate fingerprint aggregate: the
    fingerprint is an ``Observation`` on the feed, read after the write
    and committed as the stamp before the version is renamed final.
    """

    def __init__(self, fold_observes: bool = False) -> None:
        self.fold_observes = fold_observes
        self.mode = "normal"
        self.replay_done = False
        self.cum_n = 0
        self.cum_x = 0
        self.staged: list[str] = []

    def _finish(self) -> None:
        self.mode = "normal"
        self.replay_done = True

    def decide(self, batch_id: int, fp_n: int, fp_x: int, meta: dict | None) -> str:
        if meta is None:
            return "fold"
        if self.mode == "normal":
            if _batch_committed(meta, batch_id, fp_n, fp_x):
                return "skip"
            if self.replay_done or batch_id > meta["id"]:
                return "fold"
            self.mode = "replay"  # ids restarted: full re-delivery
        self.cum_n += fp_n
        self.cum_x ^= fp_x
        cn, cx = meta["cn"], meta["cx"]
        if self.cum_n < cn:
            return "stage"
        if self.cum_n == cn:
            if self.cum_x == cx:
                self._finish()
                return "restamp"
            raise RuntimeError(
                "checkpoint lineage restarted but the re-delivered content "
                f"diverges from the committed prefix at batch {batch_id} "
                f"(identical row count {cn}, different content). Refusing "
                "to skip (data loss) or fold (double count) — restart with "
                "a fresh table + checkpoint."
            )
        # cum_n OVERRAN cn mid-batch: the restart packed the source into
        # different batch boundaries, so committed-prefix equality cannot
        # be verified at fingerprint granularity. Rebuilding treats the
        # re-delivered source as the truth — correct when the source
        # re-delivers everything, SILENTLY LOSSY when the source lost its
        # head (retention expiry / partial re-delivery: committed rows
        # the source no longer holds vanish from the rebuilt table).
        # That loss mode cannot be detected from inside the sink, so it
        # must at minimum be loud; NEULIX_STRICT_REPLAY=1 turns it into
        # a refusal for deployments whose sources have finite retention.
        if os.environ.get("NEULIX_STRICT_REPLAY") == "1":
            raise RuntimeError(
                "checkpoint lineage restarted with different batch "
                f"boundaries (re-delivered {self.cum_n} rows vs {cn} "
                "committed; the prefix cannot be fingerprint-verified). "
                "NEULIX_STRICT_REPLAY=1 forbids the unverified rebuild — "
                "restart with a fresh table + checkpoint, or unset the "
                "flag if the source provably re-delivers from offset 0."
            )
        _LOG.warning(
            "replay guard: re-delivered stream overran the committed "
            "prefix mid-batch (%d rows re-delivered vs %d committed, "
            "batch %d); rebuilding from the re-delivered source WITHOUT "
            "prefix verification. If the restarted source lost its head "
            "(retention expiry), committed rows are being discarded — "
            "set NEULIX_STRICT_REPLAY=1 to refuse instead.",
            self.cum_n, cn, batch_id,
        )
        self._finish()
        return "rebuild"

    def deliver(self, root: str, batch_df: DataFrame, batch_id: int,
                stamp: dict | None, fold, restamp) -> None:
        """Apply ``decide``'s verdict for one delivery against the
        committed ``stamp``. ``fold(feed, incremental, new_stamp)``
        publishes ``feed`` folded onto the committed state
        (``incremental``) or onto an empty one (a rebuild from the
        staged rows); ``restamp(new_stamp)`` republishes the committed
        state unchanged. Every publish carries the stamp of what the
        table then holds: this batch's (id, fingerprint) and the
        cumulative fingerprint. ``new_stamp`` is a callable when the
        fingerprint rides the fold's write (see ``fold_observes``)."""
        cn, cx = (stamp["cn"], stamp["cx"]) if stamp else (0, 0)
        if self.fold_observes and self.mode == "normal" and (
            stamp is None or batch_id > stamp["id"]
        ):
            obs = Observation()
            feed = batch_df.observe(obs, *_fingerprint_exprs(batch_df))

            def observed() -> dict:
                got = obs.get
                n, x = int(got["n"]), int(got["x"])
                return {"id": batch_id, "n": n, "x": x, "cn": cn + n, "cx": cx ^ x}

            fold(feed, True, observed)
            return
        fp_n, fp_x = _batch_fingerprint(batch_df)
        action = self.decide(batch_id, fp_n, fp_x, stamp)
        if action == "skip":
            return
        if action == "stage":
            d = os.path.join(root, "_replay_stage", f"b{batch_id}")
            batch_df.write.mode("overwrite").parquet(d)
            self.staged.append(d)
            return

        def stamped(cn: int, cx: int) -> dict:
            return {"id": batch_id, "n": fp_n, "x": fp_x, "cn": cn, "cx": cx}

        if action == "fold":
            fold(batch_df, True, stamped(cn + fp_n, cx ^ fp_x))
            return
        if action == "restamp":
            # content unchanged; re-align the stamp with the restarted
            # lineage so its ids are authoritative from here on
            restamp(stamped(stamp["cn"], stamp["cx"]))
        else:  # rebuild from the staged rows + this batch
            feed = batch_df if not self.staged else (
                batch_df.sparkSession.read.parquet(*self.staged)
                .unionByName(batch_df)
            )
            fold(feed, False, stamped(self.cum_n, self.cum_x))
        self._clear_staged(root)

    def _clear_staged(self, root: str) -> None:
        """Remove the ENTIRE ``_replay_stage`` directory, not just this
        run's staged paths: a replay that crashed mid-stage leaves
        orphan batch directories no later run ever references (batch
        packing can differ across restarts, so the next replay's ids
        need not cover the old ones), and the replay protocol runs at
        most once per lineage — by the time a restamp/rebuild clears
        the stage, nothing under it is live."""
        import shutil

        shutil.rmtree(os.path.join(root, "_replay_stage"), ignore_errors=True)
        self.staged = []


def _fingerprint_exprs(df: DataFrame) -> list[Column]:
    """The fingerprint's two aggregates over ``df``: ``n`` (row count)
    and ``x`` (bit-XOR of per-row xxhash64 over all columns, 0 when
    there are no rows). One definition for the up-front aggregate and
    the ``Observation`` that rides a fold's write."""
    cols = ", ".join("`" + c.replace("`", "``") + "`" for c in df.columns)
    return [
        F.expr("count(1) AS n"),
        F.expr(f"coalesce(bit_xor(xxhash64({cols})), 0) AS x"),
    ]


def _batch_fingerprint(batch_df: DataFrame) -> tuple[int, int]:
    """Order-independent content fingerprint of a micro-batch:
    (row count, bit-XOR of per-row xxhash64 over all columns). XOR is
    commutative and overflow-free, so the pair is a pure function of the
    batch's multiset of rows (up to XOR-cancelling duplicates) at the
    cost of one aggregate.

    Used by the exactly-once sinks to tell a checkpoint REPLAY of an
    already-committed batch id (same content → safe to skip) from a
    fresh run whose batch ids restarted at 0 over an ADVANCED source
    (different content under the same id → refusing loudly beats
    silently dropping data). A monotonic batch id alone cannot make
    that distinction — ids are only comparable within one continuous
    checkpoint lineage."""
    row = batch_df.agg(*_fingerprint_exprs(batch_df)).first()
    return int(row["n"]), int(row["x"])


#: Where the sinks kept their batch stamps before the stamp moved into
#: the snapshot commit: a column on every row of the table, or a member
#: of the catalog. Read only to refuse such state.
_LEGACY_STAMP_COLUMN = "_last_batch_id"
_LEGACY_STAMP_MEMBER = "commit_meta"


def _refuse_legacy_stamps(root: str, catalog: bool = False) -> None:
    """Raise ``ValueError`` if ``root`` holds state written by a sink
    that kept its exactly-once stamp in the data (a row column, or a
    catalog member) instead of the snapshot commit. Such state has no
    stamp file, so the current code would read it as never stamped and
    fold on top of it — double counting a redelivery, and keeping the
    old stamp columns as data. It is refused, not upgraded. Driver-side:
    reads the stamp file, and only when that is missing the manifest or
    one parquet footer; never a Spark job."""
    v = current_version(root)
    if v is None or read_stamp(root, v) is not None:
        return
    if catalog:
        legacy = _LEGACY_STAMP_MEMBER in read_catalog_manifest(root, v)
        where = f"a {_LEGACY_STAMP_MEMBER!r} catalog member"
    else:
        import pyarrow.parquet as pq

        vdir = os.path.join(root, v)
        parts = sorted(f for f in os.listdir(vdir) if f.endswith(".parquet"))
        legacy = bool(parts) and _LEGACY_STAMP_COLUMN in (
            pq.read_schema(os.path.join(vdir, parts[0])).names
        )
        where = f"a {_LEGACY_STAMP_COLUMN!r} column on every row"
    if legacy:
        raise ValueError(
            f"{root} uses the old stream-sink layout that keeps batch stamps "
            f"in the data ({where}); stamps now live in the snapshot commit "
            "and that layout is not read. Restart with a fresh table and "
            "checkpoint."
        )


def stream_agg_maintain_to_parquet(
    stream_df: DataFrame,
    path: str,
    group_cols: list[str],
    count_col: str,
    sum_map: dict[str, str],
    checkpoint_dir: str | None = None,
    retain_versions: int | None = 8,
) -> StreamingQuery:
    """Continuously maintain a count/sum MATERIALIZED AGGREGATE from an
    append-only stream — the streaming face of
    ``operators/incremental.py``: each micro-batch is treated as a pure
    insert feed, unioned with the aggregate snapshot table and regrouped
    (one shuffle, map-side partial sums), and the result is published
    as the next version in one write. Unlike the
    ``output_mode="update"`` + MERGE rollup (stream_upsert_to_parquet),
    NO Spark aggregation state is held: the accumulated truth lives in
    the snapshot table, so the aggregate survives checkpoint loss and
    is readable (atomically, any version) by any outside consumer
    mid-stream. The table holds only the group, count and sum columns.

    Exactly-once on top of foreachBatch's at-least-once, in BOTH replay
    regimes (batch ids are only comparable within one continuous
    checkpoint lineage, so the id alone cannot carry the guarantee):

    - continuous checkpoint, in-flight batch re-delivered after a
      crash: its id equals the committed stamp's id and its content
      fingerprint matches the stamped one → skip.
    - checkpoint lost/reset (ids restart at 0, the whole source is
      re-delivered): the sink stages the re-run's batches and skips
      until the cumulative content fingerprint EQUALS the committed
      cumulative stamp — the already-folded prefix — then RE-STAMPS
      the table with the restarted batch id (so the dead lineage's id
      stops mattering) and folds every batch after it. A source that
      grew past the old checkpoint is therefore drained without loss
      OR double count. If the restart packs the source into DIFFERENT
      batch boundaries (a batch straddles committed and new rows), the
      table is rebuilt from the staged re-delivered rows — exactly
      once, since the re-delivered source is the truth. A re-run whose
      prefix provably diverges (same cumulative count, different
      content) raises instead of guessing. See ``_ReplayGuard``.

    Fingerprints are order-independent (count + XOR of row hashes,
    ``_fingerprint_exprs``) and are the snapshot commit's stamp
    (``snapshots.read_stamp``), so they publish atomically with the
    data they describe. A delivery that can only fold (no stamp yet, or
    a batch id past the stamp's, outside a replay) computes its
    fingerprint as an ``Observation`` riding the publish write, so a
    steady-state batch costs one shuffle and one write; every other
    delivery fingerprints up front. A table written by the older
    row-stamped layout is refused with a ``ValueError``.
    """
    from neulix_datahub_spark.operators.incremental import apply_agg_delta

    spark = stream_df.sparkSession
    # per-run replay tracker (foreachBatch calls arrive sequentially)
    run = _ReplayGuard(fold_observes=True)

    def _fold(feed: DataFrame, incremental: bool, stamp) -> None:
        base = read_upsert_table(spark, path) if incremental else None
        if base is None:
            base = (
                feed.limit(0)
                .groupBy(*group_cols)
                .agg(
                    F.count(F.lit(1)).cast("long").alias(count_col),
                    *[F.sum(src).cast("double").alias(out)
                      for out, src in sum_map.items()],
                )
            )
        updated = apply_agg_delta(
            base, feed.withColumn("_change_type", F.lit("insert")),
            group_cols, count_col, sum_map,
        )
        if updated.sparkSession is not feed.sparkSession:
            # an Observation on the feed would never complete: the write
            # would run in another session, and the stamp wait forever
            raise RuntimeError(
                "the maintained aggregate must be planned in the batch's "
                "session (the feed first in the union)"
            )
        _publish(updated, path, stamp, retain_versions)

    def _restamp(stamp: dict) -> None:
        _publish(read_snapshot_table(spark, path), path, stamp, retain_versions)

    def _maintain(batch_df: DataFrame, batch_id: int) -> None:
        run.deliver(path, batch_df, batch_id, read_stamp(path), _fold, _restamp)

    _refuse_legacy_stamps(path)
    return _start(stream_df, _maintain, checkpoint_dir)


def stream_commit_tables(
    stream_df: DataFrame,
    catalog_root: str,
    members: "dict[str, object]",
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """TRANSACTIONAL multi-table streaming sink: every micro-batch
    derives new versions of several tables and publishes them in ONE
    atomic catalog commit (sources/snapshots.py commit_tables) — a
    reader can never observe member A updated without member B, at any
    point, under any interleaving. This is the cross-table guarantee
    foreachBatch sinks normally give up (two separate writes = a window
    where the tables disagree).

    ``members`` maps table name -> ``fn(batch_df, existing_df_or_None)
    -> full new DataFrame`` (existing is the member at the catalog's
    current commit; None before the first). Exactly-once rides the same
    commit: the batch id AND content fingerprints are the catalog
    commit's stamp (``snapshots.read_stamp`` on ``catalog_root``),
    published by the same pointer move as the manifest, so there is no
    state in which the data committed but the bookkeeping didn't. Both
    replay regimes are covered (see stream_agg_maintain_to_parquet):
    an in-flight batch re-delivered under a continuous checkpoint skips
    by (id, fingerprint); a fresh checkpoint over a possibly-advanced
    source stages the re-delivered prefix, verifies it by cumulative
    fingerprint, RE-STAMPS the catalog with the restarted batch id once
    the prefix matches (a stamp-only commit; members carry forward),
    folds the new tail — and on mismatched batch BOUNDARIES (a batch
    straddling committed and new rows) rebuilds every member from the
    staged re-delivered rows instead of raising. Provable divergence
    (same cumulative count, different content) still raises. Full
    protocol: ``_ReplayGuard``. A catalog written by the older layout,
    which kept the stamp in a reserved member table, is refused with a
    ``ValueError``.

    Works with incremental member functions (e.g. an
    operators/incremental.py delta fold) so per-batch cost tracks batch
    size, not table size — with one contract the rebuild path leans on:
    a member fn must be a content-deterministic FOLD, i.e. folding the
    union of several batches in one call equals folding them one by
    one (true for every member this module ships). Trigger is
    AvailableNow (bounded drain); long-lived deployments drop it.
    """
    spark = stream_df.sparkSession
    run = _ReplayGuard()

    def _fold(feed: DataFrame, incremental: bool, stamp: dict) -> None:
        v = current_version(catalog_root)
        manifest = read_catalog_manifest(catalog_root, v) if incremental and v else {}
        updates = {
            name: fn(
                feed,
                read_snapshot_table(
                    spark, os.path.join(catalog_root, name), manifest[name]
                ) if name in manifest else None,
            )
            for name, fn in members.items()
        }
        commit_tables(updates, catalog_root, expected=v, stamp=stamp)

    def _restamp(stamp: dict) -> None:
        commit_tables({}, catalog_root, stamp=stamp)

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        run.deliver(
            catalog_root, batch_df, batch_id, read_stamp(catalog_root),
            _fold, _restamp,
        )

    _refuse_legacy_stamps(catalog_root, catalog=True)
    return _start(stream_df, _commit, checkpoint_dir)


def _repair_newest(
    spark: SparkSession,
    data_dir: str,
    store_dir: str,
    store: DataFrame | None,
    stamp: dict | None,
    missing_rows,
    retain_versions: int | None,
) -> DataFrame | None:
    """Crash repair shared by the dedup sinks, run once per query
    lifetime: fold into the store the rows of the newest committed data
    directory that a crash between its data write and its store publish
    left out. Without this, a checkpoint loss + REPACKED redelivery
    admits those docs again under a different (id, fingerprint)
    directory name — a permanent duplicate the content-addressed
    overwrite guard cannot see (same-packing redelivery it handles).
    Only the newest directory can be uncovered (see
    ``_newest_committed_dir``), so the repair reads ONE batch directory
    per stream restart. ``missing_rows(docs, store)`` gives the store
    rows for the directory's docs that the store lacks; the repaired
    store republishes under the existing stamp, so replay
    classification is unchanged. Returns the store to use."""
    newest = _newest_committed_dir(data_dir)
    if newest is None or not _has_parquet_parts(newest):
        return store
    missing = missing_rows(spark.read.parquet(newest), store)
    if missing.isEmpty():
        return store
    repaired = missing if store is None else store.unionByName(missing)
    _publish(repaired, store_dir, stamp, retain_versions)
    return repaired


def stream_dedup_to_parquet(
    stream_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    retain_versions: int | None = 8,
) -> StreamingQuery:
    """Incremental corpus dedup: drain a document stream into an
    append-only parquet corpus that never admits a content duplicate —
    the continuously-ingesting form of :func:`~neulix_datahub_spark.
    operators.dedupe.exact_dedup`.

    Per micro-batch: (1) within-batch exact dedup (min-``id_col``
    survivor per content fingerprint); (2) LEFT ANTI join against the
    persistent fingerprint store, so content seen in *any* earlier batch
    is dropped — arrival order wins across batches, the streaming-native
    precedence; (3) append the admitted docs to ``data/`` and write the
    union of fingerprints as the next ``_fingerprints`` snapshot
    version (atomic pointer publish).
    Readers always see a committed snapshot (same protocol as
    :func:`stream_upsert_to_parquet`).

    Scale: the store holds one 64-char fingerprint per distinct doc —
    at 10^10 docs ~0.6 TB, a fine anti-join build side partitioned the
    same way as the batch. Rewriting the full store each batch is the
    no-Delta concession; with Delta/Iceberg the snapshot becomes a
    MERGE-on-read append and nothing is rewritten.

    Crash safety (see ``_admit_and_publish``): admitted docs land in a
    per-batch directory named by (batch id, content fingerprint) and
    written with OVERWRITE, and the store's snapshot commit carries the
    batch stamp — every crash point replays idempotently. A store
    written by the older row-stamped layout is refused with a
    ``ValueError``. Read the corpus back with
    :func:`read_stream_corpus`.
    """
    from neulix_datahub_spark.operators.dedupe import (
        content_fingerprint,
        exact_dedup,
    )

    spark = stream_df.sparkSession
    fp_dir = os.path.join(path, "_fingerprints")
    data_dir = os.path.join(path, "data")
    run_state = {"reconciled": False}

    def _missing_fps(docs: DataFrame, seen: DataFrame | None) -> DataFrame:
        fps = docs.select(content_fingerprint(text_col).alias("fingerprint")).distinct()
        return fps if seen is None else fps.join(seen, "fingerprint", "left_anti")

    def _dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        fp_n, fp_x = _batch_fingerprint(batch_df.select(id_col, text_col))
        stamp = read_stamp(fp_dir)
        seen = read_upsert_table(spark, fp_dir)
        if not run_state["reconciled"]:
            run_state["reconciled"] = True
            seen = _repair_newest(
                spark, data_dir, fp_dir, seen, stamp, _missing_fps, retain_versions
            )
        if _batch_committed(stamp, batch_id, fp_n, fp_x):
            return  # replay of a fully-committed batch
        batch = exact_dedup(batch_df, text_col, id_col).withColumn(
            "__fp", content_fingerprint(text_col)
        )
        if seen is not None:
            batch = batch.join(
                seen, batch["__fp"] == seen["fingerprint"], "left_anti"
            )
        # one evaluation feeds two writes (corpus append + store snapshot)
        batch = batch.localCheckpoint()
        new_fps = batch.select(F.col("__fp").alias("fingerprint"))
        all_fps = new_fps if seen is None else seen.unionByName(new_fps)
        _admit_and_publish(
            batch.drop("__fp"), all_fps, data_dir, fp_dir,
            batch_id, fp_n, fp_x, retain_versions,
        )

    _refuse_legacy_stamps(fp_dir)
    return _start(stream_df, _dedup_batch, checkpoint_dir)


#: Per-batch data-directory commit marker, written by the sink itself
#: after the parquet job returns (independent of Hadoop's _SUCCESS
#: config — see _admit_and_publish). Underscore prefix keeps Spark's
#: file index from treating it as data.
_COMMIT_MARKER = "_NEULIX_COMMITTED"


def _newest_committed_dir(data_dir: str) -> str | None:
    """The most recently committed per-batch data directory, or None.

    foreachBatch is sequential and each batch's store publish completes
    before the next batch's data write begins, so AT MOST ONE committed
    directory — the newest — can be missing from the store (a crash
    landed between its data write and its store publish). That makes
    newest-only reconciliation (``_repair_newest``) sufficient: every
    older directory is covered by the store."""
    try:
        names = os.listdir(data_dir)
    except FileNotFoundError:
        return None
    best, best_m = None, -1.0
    for n in names:
        sub = os.path.join(data_dir, n)
        for m in (_COMMIT_MARKER, "_SUCCESS"):
            p = os.path.join(sub, m)
            if os.path.exists(p):
                mt = os.path.getmtime(p)
                if mt > best_m:
                    best, best_m = sub, mt
                break
    return best


def _has_parquet_parts(d: str) -> bool:
    """True if the directory holds at least one parquet part file — a
    zero-admission batch writes only markers, and reading such a
    directory cannot infer a schema."""
    return any(f.endswith(".parquet") for f in os.listdir(d))


def read_stream_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Admitted documents of a streaming dedup corpus
    (``stream_dedup_to_parquet`` / ``stream_neardup_dedup_to_parquet``).
    Admissions live in per-batch subdirectories of ``data/`` (the
    idempotent-replay layout), so the read needs recursiveFileLookup."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(os.path.join(path, "data"))
    )


def _admit_and_publish(
    admitted: DataFrame,
    new_store: DataFrame,
    data_dir: str,
    store_dir: str,
    batch_id: int,
    fp_n: int,
    fp_x: int,
    retain_versions: int | None,
) -> None:
    """Two-step commit that is idempotent at EVERY crash point: (1)
    admitted docs overwrite a per-batch directory named by the batch's
    id + content fingerprint — a replay recomputes the identical
    admitted set (the store is unchanged until step 2) and rewrites the
    same directory, and a restarted lineage whose colliding id carries
    different content lands in a DIFFERENT directory instead of
    clobbering; (2) the grown store publishes with the batch stamp
    ``{id, n, x}`` in its snapshot commit, so a replay after full
    commit short-circuits via ``_batch_committed``.
    The previous spelling appended to a flat ``data/`` dir before the
    store publish — a crash between the two duplicated the batch's
    documents on replay.

    A directory that already finished writing (its commit marker
    exists) is NEVER rewritten: the name is a content address, and the
    admitted set recomputed NOW can be smaller than what the directory
    holds. Concretely, after checkpoint loss the re-delivered prefix
    arrives with restarted ids but identical content, ``_batch_
    committed`` is False (the stamp carries the dead lineage's LAST
    id), and every doc anti-joins away against the advanced store — so
    overwriting would replace the original admission with an EMPTY
    set, silently erasing the corpus batch by batch while the store
    still claims the docs are admitted (unrecoverable: they can never
    re-enter). The first completed write for a given (id, content)
    pair is the truth; an incomplete directory (crash mid-write, no
    marker) is rewritten as before — safe, because the marker is
    written BEFORE the store publish, so a marker-less directory's
    store cannot have advanced and the recomputed set is identical.

    The marker is the sink's own ``_NEULIX_COMMITTED`` file, written
    after the parquet job returns, NOT Hadoop's ``_SUCCESS``: deploys
    commonly disable success markers
    (``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``), and a
    guard that silently never fires re-opens the erasure bug. (Legacy
    ``_SUCCESS`` is still honored for directories written before the
    marker existed.) Like the snapshot pointer machinery this module
    builds on, the marker is an os-level file operation — the
    local/posix-fs assumption is repo-wide and documented; object-store
    deployments swap this layer for Delta/Iceberg commits."""
    sub = os.path.join(
        data_dir, f"b{batch_id}_{fp_n}_{fp_x & ((1 << 64) - 1):016x}"
    )
    marker = os.path.join(sub, _COMMIT_MARKER)
    if not (os.path.exists(marker) or os.path.exists(os.path.join(sub, "_SUCCESS"))):
        admitted.write.mode("overwrite").parquet(sub)
        open(marker, "w").close()
    _publish(
        new_store, store_dir, {"id": batch_id, "n": fp_n, "x": fp_x},
        retain_versions,
    )


def stream_to_partitioned_parquet(
    stream_df: DataFrame,
    path: str,
    partition_cols: list[str] | tuple[str, ...],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Native exactly-once streaming landing into the Hive-partitioned
    layout (``sources/io.py::write_partitioned_parquet``'s streaming
    sibling): the built-in parquet streaming sink commits every
    micro-batch through its ``_spark_metadata`` transaction log, so a
    checkpoint-replayed batch re-commits the same entry and Spark
    readers (which consult the log) never see duplicates — the
    exactly-once guarantee the foreachBatch sinks above have to
    reimplement via snapshot publishes.

    ``partitionBy`` yields the same directory-pruned date layout as the
    batch writer. Each micro-batch appends one file per touched
    partition, so a long-lived stream fragments the layout — schedule
    ``compact_partitioned_parquet`` as the maintenance job (reading
    through Spark keeps consistency while compacting into a NEW root).

    ``checkpoint_dir`` is mandatory: the sink's exactly-once story IS
    the checkpoint + metadata log pair.
    """
    return (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy(*partition_cols)
        .trigger(availableNow=True)
        .start()
    )


def _quarantine_split(
    batch_df: DataFrame,
    batch_id: int,
    json_col: str,
    schema: str,
    good_path: str,
    quarantine_path: str,
) -> None:
    """One micro-batch of the quarantine sink, REPLAY-IDEMPOTENT: both
    sinks write into a ``batch_id=N`` subdirectory with overwrite, so a
    checkpoint-replayed batch rewrites its own directory instead of
    appending duplicates (foreachBatch is at-least-once; idempotent
    per-batch output is the sink's job — same rule the dedup sink in
    this module documents). The batch is localCheckpoint'ed once so the
    two writes share one evaluation instead of re-parsing the source
    twice."""
    full = f"{schema}, _corrupt_record string"
    opts = {"columnNameOfCorruptRecord": "_corrupt_record", "mode": "PERMISSIVE"}
    parsed = batch_df.withColumn(
        "__p", F.from_json(F.col(json_col), full, opts)
    ).localCheckpoint(eager=True)
    corrupt = F.col("__p._corrupt_record").isNotNull()
    bad = parsed.filter(corrupt).select(F.col(json_col).alias("raw_payload"))
    good = (
        parsed.filter(~corrupt | F.col(json_col).isNull())
        .select("*", F.col("__p.*"))
        .drop("__p", "_corrupt_record")
    )
    bad.write.mode("overwrite").parquet(f"{quarantine_path}/batch_id={batch_id}")
    good.write.mode("overwrite").parquet(f"{good_path}/batch_id={batch_id}")


def stream_json_quarantine(
    stream_df: DataFrame,
    json_col: str,
    schema: str,
    good_path: str,
    quarantine_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming SC7 with the warn-don't-fail posture: parse
    ``json_col`` against ``schema`` per micro-batch; rows that parse
    land under ``good_path`` with typed columns, rows that DON'T
    (detected via an explicit ``_corrupt_record`` column — from_json's
    PERMISSIVE mode returns a struct of null FIELDS for garbage, which
    a null-struct check would wave through) land WHOLE under
    ``quarantine_path`` — the streaming counterpart of
    sources.io.read_json_permissive, so one poison message can neither
    kill a 24/7 pipeline nor vanish silently. Null payloads count as
    good (nothing to parse).

    Effectively-once per sink: outputs land in hive-style
    ``batch_id=N`` directories written with overwrite, so an
    at-least-once foreachBatch replay rewrites its own directory
    rather than duplicating rows (see _quarantine_split). Readers scan
    the root path; ``batch_id`` arrives as a partition column."""

    def split(batch_df: DataFrame, batch_id: int) -> None:
        _quarantine_split(
            batch_df, batch_id, json_col, schema, good_path, quarantine_path
        )

    return _start(stream_df, split, checkpoint_dir, output_mode="append")


def stream_neardup_dedup_to_parquet(
    stream_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    checkpoint_dir: str | None = None,
    retain_versions: int | None = 8,
) -> StreamingQuery:
    """Incremental NEAR-duplicate corpus dedup — the streaming form of
    the MinHash-LSH pipeline (operators/dedupe.py): a document is
    admitted only if no already-admitted document is a verified near-dup
    (exact shingle Jaccard ≥ ``threshold`` among its LSH candidates).
    Arrival order wins: the first member of a near-dup cluster to arrive
    survives, later members drop — the precedence a continuously-
    ingesting corpus needs (re-running batch dedup from scratch per
    ingest would be O(corpus) per batch; this is O(batch·candidates)).

    Per micro-batch: (1) signature + banded keys for the batch; (2)
    equi-join on (band, band-hash) against the persistent BAND INDEX of
    admitted docs → candidate pairs only (never all-pairs); (3) verify
    candidates by exact Jaccard over stored normalized shingle sets —
    LSH proposes, verification disposes, so false LSH collisions cannot
    drop a unique document; (4) within-batch: same verify over
    banded within-batch candidates, min-id survivor per cluster edge;
    (5) commit admitted docs + the grown band index via the idempotent
    two-step (``_admit_and_publish``): per-batch admitted directory
    written with overwrite, then the index snapshot published with the
    batch stamp in its commit — a crash at any point replays without
    duplicating or dropping documents. An index written by the older
    row-stamped layout is refused with a ``ValueError``. Read the
    corpus with :func:`read_stream_corpus`.

    Scale: the index holds bands·1 rows + one shingle array per
    admitted doc. The shingle store is the honest cost of EXACT
    verification (same trade as dedupe.verify_candidate_pairs); beyond
    memory, store minhash signatures instead and verify by signature
    agreement (estimate, not exact) — one knob, same shape.
    """
    from neulix_datahub_spark.operators.dedupe import (
        _shingles,
        jaccard_expr,
        minhash_signature,
    )

    spark = stream_df.sparkSession
    idx_dir = os.path.join(path, "_neardup_index")
    data_dir = os.path.join(path, "data")

    def _banded(df: DataFrame) -> DataFrame:
        rows = num_hashes // bands
        sig = minhash_signature(F.col(text_col), num_hashes=num_hashes)
        return df.withColumn("__sig", sig).withColumn(
            "__band",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.hash(F.slice("__sig", b * rows + 1, rows)).alias("bh"),
                        )
                        for b in range(bands)
                    ]
                )
            ),
        ).select(
            F.col(id_col), F.col(text_col),
            F.col("__band.band").alias("band"), F.col("__band.bh").alias("bh"),
            _shingles(F.col(text_col), 3).alias("__sh"),
        )

    run_state = {"reconciled": False}

    def _missing_rows(docs: DataFrame, index: DataFrame | None) -> DataFrame:
        docs = docs.select(id_col, text_col)
        if index is not None:
            docs = docs.join(index.select(id_col).distinct(), id_col, "left_anti")
        return _banded(docs).select(
            id_col, "band", "bh", F.col("__sh").alias("shingles")
        )

    def _dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        fp_n, fp_x = _batch_fingerprint(batch_df.select(id_col, text_col))
        stamp = read_stamp(idx_dir)
        index = read_upsert_table(spark, idx_dir)
        if not run_state["reconciled"]:
            run_state["reconciled"] = True
            index = _repair_newest(
                spark, data_dir, idx_dir, index, stamp, _missing_rows,
                retain_versions,
            )
        if _batch_committed(stamp, batch_id, fp_n, fp_x):
            return  # replay of a fully-committed batch
        batch = _banded(batch_df).localCheckpoint()

        # (a) cross-batch: candidates vs the admitted index, verified
        doomed_vs_index = None
        if index is not None:
            cand = batch.join(
                index.select(
                    F.col("band"), F.col("bh"),
                    F.col("shingles").alias("__sh_old"),
                ),
                ["band", "bh"],
            )
            doomed_vs_index = (
                cand.filter(
                    jaccard_expr(F.col("__sh"), F.col("__sh_old")) >= threshold
                )
                .select(id_col)
                .distinct()
            )

        # (b) within-batch: banded candidate pairs, min-id survivor
        a = batch.select(
            F.col(id_col).alias("__ida"), "band", "bh",
            F.col("__sh").alias("__sha"),
        )
        b = batch.select(
            F.col(id_col).alias("__idb"), "band", "bh",
            F.col("__sh").alias("__shb"),
        )
        doomed_within = (
            a.join(b, ["band", "bh"])
            .filter(F.col("__ida") < F.col("__idb"))
            .filter(jaccard_expr(F.col("__sha"), F.col("__shb")) >= threshold)
            .select(F.col("__idb").alias(id_col))
            .distinct()
        )
        doomed = (
            doomed_within
            if doomed_vs_index is None
            else doomed_within.unionByName(doomed_vs_index).distinct()
        )
        admitted = (
            batch.join(doomed, id_col, "left_anti")
            .groupBy(id_col, text_col, "__sh")
            .agg(F.count(F.lit(1)).alias("__nb"))
            .drop("__nb")
            .localCheckpoint()
        )
        # reuse the checkpointed banded rows — re-shingling the admitted
        # docs would redo the expensive signature work per batch
        new_index = batch.join(
            admitted.select(id_col), id_col, "left_semi"
        ).select(id_col, "band", "bh", F.col("__sh").alias("shingles"))
        all_index = (
            new_index if index is None else index.unionByName(new_index)
        )
        _admit_and_publish(
            admitted.select(id_col, text_col), all_index, data_dir, idx_dir,
            batch_id, fp_n, fp_x, retain_versions,
        )

    _refuse_legacy_stamps(idx_dir)
    return _start(stream_df, _dedup_batch, checkpoint_dir)


def stream_dedup_index_ingest(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming twin of the persisted-signature-index ingest
    (``operators/dedupe_index.ingest_dedup_delta``): every micro-batch
    is one daily delta — signatured alone, candidate-joined against the
    at-rest bands, verified off the at-rest shingles, components
    extended through the delta-sized reduced graph, committed by labels
    pointer flip. The index must exist (``build_dedup_index``, possibly
    over an empty prior corpus) before the stream starts.

    Exactly-once on top of foreachBatch's at-least-once lives in the
    STATE here, not in stamps: a replayed or checkpoint-loss-redelivered
    batch re-offers already-indexed ids, the ingest's id anti-join
    reduces it to n_new == 0, and the labels pointer does not move — so
    this sink needs none of the fingerprint/_ReplayGuard machinery the
    content-keyed sinks carry. Batch boundaries are immaterial by the
    operator's composition law (ingest(d1); ingest(d2) ≡
    ingest(d1 ∪ d2) ≡ one batch build — unit- and driver-proven), so
    the final state is invariant to how the trigger slices the stream.
    """
    from neulix_datahub_spark.operators.dedupe_index import (
        ingest_dedup_delta,
    )

    spark = stream_df.sparkSession

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_dedup_delta(spark, batch_df, index_path)

    return _start(stream_df, _ingest, checkpoint_dir)


def stream_semantic_index_ingest(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming twin of the persisted VECTOR index ingest
    (``operators/semantic_index.ingest_semantic_delta``): each
    micro-batch carries joined (embedding-id, vector, doc-id, text)
    rows — the sink splits them into the embedding and document
    projections under the index's OWN sidecar column names and runs one
    daily semantic ingest (delta-only features, broadcast candidate
    join — banded or exact per the sidecar — at-rest Jaccard verify,
    reduced-graph label extension, pointer-flip commit). The index must
    exist (``build_semantic_index``) before the stream starts.

    Exactly-once lives in the state, same argument as
    :func:`stream_dedup_index_ingest`: redelivered ids reduce to
    n_new == 0 through the anti-join and the labels pointer does not
    move; batch boundaries are immaterial by the operator's composition
    law, so the final state is invariant to trigger slicing."""
    from neulix_datahub_spark.operators.semantic_index import (
        ingest_semantic_delta,
        read_semantic_meta,
    )

    spark = stream_df.sparkSession
    # column names are frozen build-time parameters; versions/pointers
    # are re-read inside every ingest call, so reading the sidecar once
    # here is safe
    meta = read_semantic_meta(index_path)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_semantic_delta(
            spark,
            batch_df.select(meta["id_col"], meta["vec_col"]),
            batch_df.select(meta["doc_id_col"], meta["text_col"]),
            index_path,
        )

    return _start(stream_df, _ingest, checkpoint_dir)


def stream_passage_index_ingest(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming twin of the persisted GRAM-COUNT index ingest
    (``operators/passage_index.ingest_passage_delta``): every
    micro-batch is one daily delta — its grams counted alone into a new
    fragment, committed by the sidecar's n_fragments pointer bump. The
    index must exist (``build_passage_index``) before the stream starts.

    Exactly-once lives in the state, same argument as
    :func:`stream_dedup_index_ingest`: redelivered ids reduce to
    n_new == 0 through the id-ledger anti-join (and a crash between
    fragment write and pointer bump leaves an orphan the retried
    ingest sweeps before reusing the slot). Counts are additive, so
    ingest(d1); ingest(d2) ≡ ingest(d1 ∪ d2) exactly — the final
    state is invariant to trigger slicing."""
    from neulix_datahub_spark.operators.passage_index import (
        ingest_passage_delta,
    )

    spark = stream_df.sparkSession

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_passage_delta(spark, batch_df, index_path)

    return _start(stream_df, _ingest, checkpoint_dir)


def stream_ivfpq_index_ingest(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming twin of the persisted IVF-PQ index ingest
    (``operators/ivfpq_index.ingest_ivfpq_delta``): every micro-batch
    of ``(id, vector)`` rows is encoded under the sidecar's FROZEN
    codebooks and appended into its coarse-cell directories. The index
    must exist (``build_ivfpq_index``) before the stream starts.

    Exactly-once lives in the state, same argument as
    :func:`stream_dedup_index_ingest`: redelivered ids reduce to
    n_new == 0 through the id anti-join. Because the codebooks are
    frozen, encode is a pure per-row function — ingest(d1); ingest(d2)
    ≡ ingest(d1 ∪ d2) BYTE-identically, so the final state is
    invariant to trigger slicing (unit- and driver-proven)."""
    from neulix_datahub_spark.operators.ivfpq_index import (
        ingest_ivfpq_delta,
    )

    spark = stream_df.sparkSession

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_ivfpq_delta(spark, batch_df, index_path)

    return _start(stream_df, _ingest, checkpoint_dir)


def stream_text_ivfpq_ingest(
    stream_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming twin of the END-TO-END text→index pipeline (round 13,
    r12-verdict task 7): every micro-batch of raw documents is hashed-
    embedded (``operators/text.hashed_embedding_table`` — md5-portable,
    a pure per-row function of the text) and ingested into the at-rest
    IVF-PQ index under its FROZEN codebooks. The index must exist
    (``build_ivfpq_index`` over the day-0 embedded corpus) before the
    stream starts.

    Exactly-once composes from the parts: the embedding is
    deterministic per row and the ingest anti-joins ids already at
    rest, so a redelivered batch reduces to n_new == 0 — and because
    both stages are pure per-row functions, embed+ingest(d1);
    embed+ingest(d2) ≡ embed+ingest(d1 ∪ d2) byte-identically. The
    final at-rest state therefore converges to the batch composition
    (``text_to_index_retrieval_check``'s build-over-prior +
    one-shot-ingest form) regardless of trigger slicing — the S5
    discipline, driver-proven by ``stream_text_to_index_stats``."""
    from neulix_datahub_spark.operators.ivfpq_index import (
        ingest_ivfpq_delta,
        read_ivfpq_meta,
    )
    from neulix_datahub_spark.operators.text import hashed_embedding_table

    spark = stream_df.sparkSession
    vec_col = read_ivfpq_meta(index_path)["vec_col"]

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        emb = hashed_embedding_table(
            batch_df, text_col, id_col, dim=dim, out_col=vec_col
        )
        ingest_ivfpq_delta(spark, emb, index_path)

    return _start(stream_df, _ingest, checkpoint_dir)


def stream_search_index_ingest(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming twin of the persisted BM25 search-index ingest
    (``operators/search_index.ingest_search_delta``): every micro-batch
    of raw documents is tokenized under the sidecar's frozen parameters
    and committed as one postings/doclens fragment. The index must
    exist (``build_search_index``) before the stream starts.

    Exactly-once lives in the state, same argument as
    :func:`stream_dedup_index_ingest`: redelivered ids reduce to
    n_new == 0 through the doc-ledger anti-join. The search index has
    the STRONGEST convergence claim in the family — no trained
    parameters at all, so ingest(d1); ingest(d2) == build(prior ∪ d1 ∪
    d2) bit-identically (not just slice-invariantly), and the final
    at-rest state equals the one-shot batch build regardless of
    trigger slicing — the S5 discipline, driver-proven by
    ``stream_search_index_stats``."""
    from neulix_datahub_spark.operators.search_index import (
        ingest_search_delta,
    )

    spark = stream_df.sparkSession

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_search_delta(spark, batch_df, index_path)

    return _start(stream_df, _ingest, checkpoint_dir)


def stream_classifier_refresh(
    stream_df: DataFrame,
    model_path: str,
    iters_per_batch: int = 3,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming twin of the classifier refresh
    (``operators/classifier.refresh_classifier``): every micro-batch of
    feature rows warm-starts ``iters_per_batch`` GD iterations from the
    sidecar and commits the advanced weights back. The sidecar must
    exist (``save_classifier`` after the day-0 training) before the
    stream starts.

    Exactly-once needs MORE than the index sinks here: GD is
    order-dependent and NOT idempotent (re-running a batch advances the
    weights again — there is no id anti-join to lean on), so this sink
    uses the transactional-foreachBatch discipline instead: the
    sidecar records the last applied ``batch_id``, and a redelivered
    batch (same id after checkpoint recovery) is SKIPPED. Batch
    ORDER is what the source's offsets already guarantee within one
    query. The advanced weights and the ledger entry land in ONE
    atomic sidecar rename (``refresh_classifier(extra_update=...)``) —
    a crash anywhere leaves either the old (weights, batch_id) pair or
    the new pair, never advanced weights with a stale ledger, so
    redelivery can never double-advance. Net effect: refresh(b1);
    refresh(b2) == the two-phase GD the
    ``stream_classifier_refresh_stats`` oracle unrolls, even under
    redelivery (skip path unit-pinned)."""
    from neulix_datahub_spark.operators.classifier import (
        load_classifier,
        refresh_classifier,
    )

    def _refresh(batch_df: DataFrame, batch_id: int) -> None:
        meta = load_classifier(model_path)
        if batch_id <= meta.get("last_batch_id", -1):
            return  # redelivered after checkpoint recovery: already applied
        refresh_classifier(
            batch_df,
            model_path,
            iters=iters_per_batch,
            extra_update={"last_batch_id": batch_id},
        )

    return _start(stream_df, _refresh, checkpoint_dir)
