"""Versioned snapshot tables (sources/snapshots.py): atomic publish,
reader isolation across publishes, optimistic-concurrency conflicts,
vacuum retention — the guarantees the staged-swap path can't give."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neulix_datahub_spark.sources.snapshots import (
    ConcurrentSnapshotError,
    current_version,
    read_snapshot_table,
    snapshot_versions,
    update_snapshot,
    upsert_snapshot,
    vacuum_snapshots,
    write_snapshot,
)


def _rows(df):
    return sorted((r.id, r.v) for r in df.collect())


def test_write_read_roundtrip_and_versioning(spark, tmp_path):
    root = str(tmp_path / "tbl")
    with pytest.raises(FileNotFoundError):
        read_snapshot_table(spark, root)
    v1 = write_snapshot(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), root)
    assert v1 == "v00000001" and current_version(root) == v1
    assert _rows(read_snapshot_table(spark, root)) == [(1, "a"), (2, "b")]
    v2 = write_snapshot(spark.createDataFrame([(3, "c")], "id long, v string"), root)
    assert v2 == "v00000002" and current_version(root) == v2
    assert _rows(read_snapshot_table(spark, root)) == [(3, "c")]
    # time travel: the old version stays readable by name
    assert _rows(read_snapshot_table(spark, root, version=v1)) == [(1, "a"), (2, "b")]
    assert snapshot_versions(root) == [v1, v2]


def test_reader_isolation_across_publish(spark, tmp_path):
    """A DataFrame resolved against v1 keeps returning v1 rows after v2
    publishes — the property the rmtree+rename swap violates."""
    root = str(tmp_path / "tbl")
    write_snapshot(spark.createDataFrame([(1, "a")], "id long, v string"), root)
    old_reader = read_snapshot_table(spark, root)
    write_snapshot(spark.createDataFrame([(9, "z")], "id long, v string"), root)
    assert _rows(old_reader) == [(1, "a")]
    assert _rows(read_snapshot_table(spark, root)) == [(9, "z")]


def test_upsert_snapshot_last_write_wins_and_idempotent(spark, tmp_path):
    root = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), root
    )
    updates = spark.createDataFrame([(2, "b2"), (3, "c")], "id long, v string")
    upsert_snapshot(spark, root, updates, "id")
    assert _rows(read_snapshot_table(spark, root)) == [(1, "a"), (2, "b2"), (3, "c")]
    upsert_snapshot(spark, root, updates, "id")  # idempotent re-apply
    assert _rows(read_snapshot_table(spark, root)) == [(1, "a"), (2, "b2"), (3, "c")]
    assert current_version(root) == "v00000003"


def test_update_snapshot_matches_update_semantics(spark, tmp_path):
    root = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
            "id long, k string, v double",
        ),
        root,
    )
    update_snapshot(spark, root, {"v": F.col("v") * 2}, where=F.col("k") == "a")
    got = sorted((r.id, r.v) for r in read_snapshot_table(spark, root).collect())
    assert got == [(1, 20.0), (2, 20.0), (3, 60.0)]


def test_concurrent_publish_conflict_is_loud(spark, tmp_path):
    """A writer whose base version moved mid-cycle must CAS-fail instead
    of silently clobbering the other writer's publish."""
    root = str(tmp_path / "tbl")
    write_snapshot(spark.createDataFrame([(1, "a")], "id long, v string"), root)
    stale_base = current_version(root)
    # another writer sneaks a publish in
    write_snapshot(spark.createDataFrame([(2, "b")], "id long, v string"), root)
    with pytest.raises(ConcurrentSnapshotError):
        write_snapshot(
            spark.createDataFrame([(3, "c")], "id long, v string"),
            root,
            expected=stale_base,
        )
    # the interloper's publish survives untouched
    assert _rows(read_snapshot_table(spark, root)) == [(2, "b")]


def test_vacuum_keeps_recent_and_published(spark, tmp_path):
    root = str(tmp_path / "tbl")
    for i in range(4):
        write_snapshot(
            spark.createDataFrame([(i, "x")], "id long, v string"), root
        )
    removed = vacuum_snapshots(root, keep=2)
    assert removed == ["v00000001", "v00000002"]
    assert snapshot_versions(root) == ["v00000003", "v00000004"]
    assert _rows(read_snapshot_table(spark, root)) == [(3, "x")]
    with pytest.raises(ValueError):
        vacuum_snapshots(root, keep=0)


def test_threaded_double_publish_one_loser(spark, tmp_path):
    """The CAS must be atomic under real thread interleaving: two writers
    derived from the same base race their publishes through the O_EXCL
    publish lock — exactly one wins, the loser gets a loud
    ConcurrentSnapshotError (never a silent clobber), and the published
    table is exactly the winner's."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "tbl")
    base = write_snapshot(
        spark.createDataFrame([(0, "base")], "id long, v string"), root
    )

    def publish(tag):
        df = spark.createDataFrame([(1, tag)], "id long, v string")
        try:
            return ("ok", write_snapshot(df, root, expected=base), tag)
        except ConcurrentSnapshotError:
            return ("conflict", None, tag)

    with ThreadPoolExecutor(max_workers=2) as ex:
        results = list(ex.map(publish, ["a", "b"]))
    outcomes = sorted(r[0] for r in results)
    assert outcomes == ["conflict", "ok"], results
    winner_tag = next(r[2] for r in results if r[0] == "ok")
    assert _rows(read_snapshot_table(spark, root)) == [(1, winner_tag)]
    # the losing staging dir (if any survived) is invisible to readers
    assert current_version(root) == next(r[1] for r in results if r[0] == "ok")


def test_vacuum_spares_live_staging_dirs(spark, tmp_path):
    """A fresh `.v*` staging dir is a concurrent writer's in-flight
    parquet write: vacuum must NOT sweep it inside the grace window, and
    must sweep it once it ages past the window (a crashed writer's
    orphan)."""
    import os

    root = str(tmp_path / "tbl")
    write_snapshot(spark.createDataFrame([(1, "a")], "id long, v string"), root)
    staging = os.path.join(root, ".v00000002_inflight")
    os.makedirs(staging)
    # default grace: the fresh dir survives
    removed = vacuum_snapshots(root, keep=1)
    assert removed == [] and os.path.isdir(staging)
    # age it past the window -> swept
    old = 1_000_000_000.0
    os.utime(staging, (old, old))
    removed = vacuum_snapshots(root, keep=1)
    assert removed == [".v00000002_inflight"] and not os.path.isdir(staging)
    # grace=0 (declared writer quiescence) sweeps even a fresh orphan
    os.makedirs(staging)
    removed = vacuum_snapshots(root, keep=1, staging_grace_seconds=0)
    assert removed == [".v00000002_inflight"] and not os.path.isdir(staging)


def test_vacuum_vs_time_travel_reader(spark, tmp_path):
    """A reader pinned to a retained historical version keeps working
    across publishes and a vacuum; a vacuumed-away version fails loudly
    at read time, not silently."""
    root = str(tmp_path / "tbl")
    versions = [
        write_snapshot(
            spark.createDataFrame([(i, "x")], "id long, v string"), root
        )
        for i in range(4)
    ]
    pinned = read_snapshot_table(spark, root, version=versions[2])  # v3, retained
    vacuum_snapshots(root, keep=2)  # removes v1, v2
    assert _rows(pinned) == [(2, "x")]  # lazy plan still resolves post-vacuum
    assert _rows(read_snapshot_table(spark, root, version=versions[2])) == [(2, "x")]
    with pytest.raises(Exception):  # noqa: B017 - vacuumed dir: AnalysisException
        read_snapshot_table(spark, root, version=versions[0]).collect()


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    """snapshot_diff yields exactly the insert/update/delete rows between
    two versions — updates carry the NEW value, deletes the OLD, and
    unchanged rows (including null-for-null columns) are dropped."""
    from neulix_datahub_spark.sources.snapshots import snapshot_diff

    root = str(tmp_path / "tbl")
    v1 = write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None), (4, "d")], "id long, v string"
        ),
        root,
    )
    write_snapshot(
        spark.createDataFrame(
            # 1 unchanged, 2 updated, 3 unchanged (null==null), 4 deleted,
            # 5 inserted
            [(1, "a"), (2, "B"), (3, None), (5, "e")], "id long, v string"
        ),
        root,
    )
    got = {
        (r.id, r.v, r._change_type)
        for r in snapshot_diff(spark, root, from_version=v1, key="id").collect()
    }
    assert got == {
        (2, "B", "update"),
        (4, "d", "delete"),
        (5, "e", "insert"),
    }
    with pytest.raises(ValueError, match="schemas diverge"):
        write_snapshot(spark.createDataFrame([(9, 1.0)], "id long, x double"), root)
        snapshot_diff(spark, root, from_version=v1, key="id").collect()


def test_apply_change_feed_inverts_diff(spark, tmp_path):
    """The CDC round-trip law: applying snapshot_diff(old -> new) onto
    the old table reproduces the new table exactly — inserts landed,
    updates overwritten, deletes gone, unchanged rows untouched."""
    from neulix_datahub_spark.sources.snapshots import (
        apply_change_feed,
        snapshot_diff,
    )

    root = str(tmp_path / "tbl")
    old_rows = [(1, "a"), (2, "b"), (3, None), (4, "d")]
    new_rows = [(1, "a"), (2, "B"), (3, None), (5, "e"), (6, "f")]
    v1 = write_snapshot(
        spark.createDataFrame(old_rows, "id long, v string"), root
    )
    write_snapshot(spark.createDataFrame(new_rows, "id long, v string"), root)
    feed = snapshot_diff(spark, root, from_version=v1, key="id")
    old = read_snapshot_table(spark, root, version=v1)
    replayed = apply_change_feed(old, feed, key="id")
    assert _rows(replayed) == sorted(new_rows)
    with pytest.raises(ValueError, match="_change_type"):
        apply_change_feed(old, old, key="id")


def test_upsert_snapshot_schema_evolution(spark, tmp_path):
    """allow_new_columns widens the table additively: new columns arrive
    null-filled for existing rows, updates missing old columns get
    null, historical versions keep their own schema, type changes
    refuse, and the default stays strict."""
    from neulix_datahub_spark.sources.snapshots import upsert_snapshot

    root = str(tmp_path / "tbl")
    v1 = write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), root
    )
    updates = spark.createDataFrame(
        [(2, "B2", 9.5), (3, None, 1.25)], "id long, v string, score double"
    )
    with pytest.raises(Exception):  # strict by default (unionByName fails)
        upsert_snapshot(spark, root, updates, key="id")
    upsert_snapshot(spark, root, updates, key="id", allow_new_columns=True)
    got = {r.id: (r.v, r.score) for r in read_snapshot_table(spark, root).collect()}
    assert got == {1: ("a", None), 2: ("B2", 9.5), 3: (None, 1.25)}
    # updates may also OMIT table columns now
    upsert_snapshot(
        spark, root,
        spark.createDataFrame([(4,)], "id long"),
        key="id", allow_new_columns=True,
    )
    got = {r.id: (r.v, r.score) for r in read_snapshot_table(spark, root).collect()}
    assert got[4] == (None, None) and got[1] == ("a", None)
    # time travel: v1 keeps the original two-column schema
    assert read_snapshot_table(spark, root, version=v1).columns == ["id", "v"]
    # type change refuses with a named error
    with pytest.raises(ValueError, match="changes type"):
        upsert_snapshot(
            spark, root,
            spark.createDataFrame([(5, 1)], "id long, v int"),
            key="id", allow_new_columns=True,
        )


def test_catalog_commit_is_cross_table_consistent(spark, tmp_path):
    """Readers resolving the catalog see fact+dim move TOGETHER: every
    observed pair is from the same commit (v fields always equal), under
    concurrent commits on a background thread."""
    import threading

    from neulix_datahub_spark.sources.snapshots import (
        commit_tables,
        read_catalog,
        read_catalog_manifest,
    )

    cat = str(tmp_path / "cat")

    def tables(i):
        return {
            "fact": spark.createDataFrame([(i, i * 10)], "v int, x int"),
            "dim": spark.createDataFrame([(i, f"gen{i}")], "v int, label string"),
        }

    commit_tables(tables(0), cat)
    stop = threading.Event()
    errs: list[Exception] = []

    def committer():
        i = 1
        while not stop.is_set() and i <= 4:
            try:
                commit_tables(tables(i), cat)
            except Exception as e:  # pragma: no cover
                errs.append(e)
            i += 1

    t = threading.Thread(target=committer)
    t.start()
    try:
        for _ in range(12):
            view = read_catalog(spark, cat)
            f = view["fact"].collect()[0]
            d = view["dim"].collect()[0]
            assert f.v == d.v, f"mixed commit observed: fact={f.v} dim={d.v}"
    finally:
        stop.set()
        t.join()
    assert not errs
    # time travel: the first commit still reads as the (0, 0) pair
    manifest0 = read_catalog_manifest(cat, "v00000001")
    assert set(manifest0) == {"fact", "dim"}
    old = read_catalog(spark, cat, version="v00000001")
    assert old["fact"].collect()[0].v == 0 == old["dim"].collect()[0].v


def test_catalog_commit_conflicts_and_carry_forward(spark, tmp_path):
    """CAS: two commits from the same expected catalog version — the
    loser raises. Tables absent from a commit carry forward."""
    import pytest as _pytest

    from neulix_datahub_spark.sources.snapshots import (
        ConcurrentSnapshotError,
        commit_tables,
        read_catalog,
        read_catalog_manifest,
    )

    cat = str(tmp_path / "cat2")
    base = commit_tables(
        {
            "a": spark.createDataFrame([(1,)], "x int"),
            "b": spark.createDataFrame([(1,)], "y int"),
        },
        cat,
    )
    # update only `a`; `b` carries forward
    commit_tables({"a": spark.createDataFrame([(2,)], "x int")}, cat)
    m = read_catalog_manifest(cat)
    assert m["b"] == read_catalog_manifest(cat, base)["b"]
    view = read_catalog(spark, cat)
    assert view["a"].collect()[0].x == 2 and view["b"].collect()[0].y == 1

    # stale expected -> loud conflict
    with _pytest.raises(ConcurrentSnapshotError):
        commit_tables(
            {"a": spark.createDataFrame([(3,)], "x int")}, cat, expected=base
        )
    with _pytest.raises(ValueError):
        commit_tables({"v123": spark.range(1)}, cat)


def test_vacuum_catalog_preserves_referenced_versions(spark, tmp_path):
    """Catalog-aware vacuum keeps table versions referenced by retained
    manifests (catalog time travel survives) and drops the rest; plain
    per-table vacuum would have broken the retained old commit."""
    from neulix_datahub_spark.sources.snapshots import (
        commit_tables,
        read_catalog,
        snapshot_versions,
        vacuum_catalog,
    )

    cat = str(tmp_path / "cat")
    for i in range(4):  # catalog v1..v4, table a v1..v4
        commit_tables(
            {"a": spark.createDataFrame([(i,)], "x int")}, cat
        )
    assert snapshot_versions(cat) == [f"v0000000{i}" for i in range(1, 5)]

    # default grace: unreferenced member versions this FRESH are kept —
    # an in-flight commit_tables renames (and may publish) a member
    # version before its catalog CAS lands, and deleting it mid-window
    # would aim the member pointer at nothing
    removed = vacuum_catalog(cat, keep=2)
    assert removed["<catalog>"] == ["v00000001", "v00000002"]
    assert removed["a"] == []
    assert snapshot_versions(f"{cat}/a") == [
        f"v0000000{i}" for i in range(1, 5)
    ]

    # quiescent writers (grace 0): the unreferenced versions drop
    removed = vacuum_catalog(cat, keep=2, staging_grace_seconds=0)
    assert sorted(removed["a"]) == ["v00000001", "v00000002"]
    assert snapshot_versions(f"{cat}/a") == ["v00000003", "v00000004"]

    # retained old commit still reads consistently
    old = read_catalog(spark, cat, version="v00000003")
    assert old["a"].collect()[0].x == 2
    new = read_catalog(spark, cat)
    assert new["a"].collect()[0].x == 3


def test_vacuum_catalog_sweeps_root_staging_orphans(spark, tmp_path):
    """A commit_tables crash between makedirs(staging) and the rename
    leaves a ``.vNNNNNNNN_*`` dir directly under catalog_root; the
    catalog is itself a snapshot table, so vacuum_catalog sweeps it with
    the same grace window as member tables — recent staging survives
    (might be in-flight), aged staging goes."""
    import os
    import time as _time

    from neulix_datahub_spark.sources.snapshots import commit_tables, vacuum_catalog

    cat = str(tmp_path / "cat")
    commit_tables({"a": spark.createDataFrame([(1,)], "x int")}, cat)

    aged = os.path.join(cat, ".v00000099_deadbeef")
    fresh = os.path.join(cat, ".v00000098_cafebabe")
    os.makedirs(aged)
    os.makedirs(fresh)
    old = _time.time() - 7200
    os.utime(aged, (old, old))

    removed = vacuum_catalog(cat, keep=2, staging_grace_seconds=3600.0)
    assert ".v00000099_deadbeef" in removed["<catalog>"]
    assert not os.path.exists(aged)
    assert os.path.exists(fresh)  # inside the grace window


def test_snapshot_history_describes_versions(spark, tmp_path):
    from neulix_datahub_spark.sources.snapshots import (
        snapshot_history,
        write_snapshot,
    )

    root = str(tmp_path / "t")
    write_snapshot(spark.range(10), root)
    write_snapshot(spark.range(25), root)
    hist = snapshot_history(root)
    assert [h["version"] for h in hist] == ["v00000001", "v00000002"]
    assert [h["n_rows"] for h in hist] == [10, 25]
    assert [h["is_current"] for h in hist] == [False, True]
    assert all(h["n_bytes"] > 0 and "T" in h["published_at"] for h in hist)


def test_snapshot_diff_pre_image_protocol(spark, tmp_path):
    """pre_image=True switches to the Delta-CDF row protocol: updates
    emit an update_preimage (old values) AND update_postimage (new
    values) row; inserts/deletes are unchanged; unchanged rows emit
    nothing."""
    from neulix_datahub_spark.sources.snapshots import snapshot_diff, write_snapshot

    root = str(tmp_path / "t")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id int, g string, v double"
    )
    v2 = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", 30.0), (4, "d", 40.0)], "id int, g string, v double"
    )
    ver1 = write_snapshot(v1, root)
    write_snapshot(v2, root)

    feed = snapshot_diff(spark, root, ver1, key="id", pre_image=True)
    rows = {(r.id, r._change_type): (r.g, r.v) for r in feed.collect()}
    assert rows == {
        (1, "delete"): ("a", 10.0),
        (2, "update_preimage"): ("b", 20.0),
        (2, "update_postimage"): ("b", 25.0),
        (4, "insert"): ("d", 40.0),
    }


def test_apply_agg_delta_maintenance_law(spark, tmp_path):
    """apply_agg_delta(agg(v1), diff(v1->v2)) == agg(v2), including a
    group-key MIGRATION (row moves between groups), a group that
    disappears entirely (count reaches 0), and a brand-new group."""
    from neulix_datahub_spark.operators.incremental import apply_agg_delta
    from neulix_datahub_spark.sources.snapshots import snapshot_diff, write_snapshot

    root = str(tmp_path / "t")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "id int, g string, v double",
    )
    v2 = spark.createDataFrame(
        # id2: value update in-group; id3: MIGRATES b->a; id4 ("c")
        # deleted -> group c disappears; id5: new group d
        [(1, "a", 10.0), (2, "a", 22.0), (3, "a", 30.0), (5, "d", 50.0)],
        "id int, g string, v double",
    )
    ver1 = write_snapshot(v1, root)
    write_snapshot(v2, root)
    feed = snapshot_diff(spark, root, ver1, key="id", pre_image=True)

    def agg(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"), F.sum("v").alias("s")
        )

    got = {
        r.g: (r.cnt, r.s)
        for r in apply_agg_delta(agg(v1), feed, ["g"], "cnt", {"s": "v"}).collect()
    }
    want = {r.g: (r.cnt, r.s) for r in agg(v2).collect()}
    assert got == want
    assert "c" not in got and got["a"] == (3, 62.0) and got["d"] == (1, 50.0)


def test_agg_delta_rejects_plain_feed(spark, tmp_path):
    """A feed without pre-images (or without _change_type at all) can't
    maintain sums — the operator refuses instead of silently drifting."""
    import pytest as _pytest

    from neulix_datahub_spark.operators.incremental import apply_agg_delta
    from neulix_datahub_spark.sources.snapshots import snapshot_diff, write_snapshot

    agg = spark.createDataFrame([("a", 1, 1.0)], "g string, cnt bigint, s double")
    with _pytest.raises(ValueError, match="_change_type"):
        apply_agg_delta(agg, spark.createDataFrame([("a", 1.0)], "g string, v double"),
                        ["g"], "cnt", {"s": "v"})

    root = str(tmp_path / "t")
    v1 = spark.createDataFrame([(1, "a", 1.0)], "id int, g string, v double")
    v2 = spark.createDataFrame([(1, "a", 2.0)], "id int, g string, v double")
    ver1 = write_snapshot(v1, root)
    write_snapshot(v2, root)
    plain = snapshot_diff(spark, root, ver1, key="id")  # 'update' rows
    with _pytest.raises(Exception, match="unknown _change_type"):
        apply_agg_delta(agg, plain, ["g"], "cnt", {"s": "v"}).collect()

    # agg missing a maintained column is a loud error too
    feed = snapshot_diff(spark, root, ver1, key="id", pre_image=True)
    bad_agg = spark.createDataFrame([("a", 1)], "g string, cnt bigint")
    with _pytest.raises(ValueError, match="missing columns"):
        apply_agg_delta(bad_agg, feed, ["g"], "cnt", {"s": "v"})


def test_result_cache_hits_and_misses(spark, tmp_path):
    """Plan-fingerprint cache: two independently-built but identical
    queries share one entry (the second call publishes nothing new); a
    changed literal misses; refresh republishes; the cached read returns
    the same rows as computing fresh."""
    from neulix_datahub_spark.sources.result_cache import (
        cache_entries,
        cached_result,
        plan_fingerprint,
    )
    from neulix_datahub_spark.sources.snapshots import snapshot_versions
    from tests.conftest import SF_DIR

    root = str(tmp_path / "cache")

    def q(limit):
        return (
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .filter(F.col("o_totalprice") > limit)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    assert plan_fingerprint(q(1000.0)) == plan_fingerprint(q(1000.0))
    assert plan_fingerprint(q(1000.0)) != plan_fingerprint(q(2000.0))

    want = {(r.o_orderpriority, r.n) for r in q(1000.0).collect()}
    got1 = {(r.o_orderpriority, r.n) for r in cached_result(q(1000.0), root).collect()}
    assert got1 == want
    entries = cache_entries(root)
    assert len(entries) == 1 and entries[0]["n_versions"] == 1

    # hit: rebuilt-from-scratch identical query, no new version published
    got2 = {(r.o_orderpriority, r.n) for r in cached_result(q(1000.0), root).collect()}
    assert got2 == want
    assert cache_entries(root)[0]["n_versions"] == 1

    # different literal -> second entry
    cached_result(q(2000.0), root).collect()
    assert len(cache_entries(root)) == 2

    # refresh republishes a new version of the same entry
    cached_result(q(1000.0), root, refresh=True).collect()
    fp = plan_fingerprint(q(1000.0))
    assert len(snapshot_versions(f"{root}/{fp}")) == 2


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: reads resolve to the latest version published at
    or before the given time; a pre-creation timestamp errors loudly."""
    import os
    import time as _time

    from neulix_datahub_spark.sources.snapshots import (
        read_snapshot_table_as_of,
        version_at,
        write_snapshot,
    )

    root = str(tmp_path / "t")
    t0 = _time.time()
    write_snapshot(spark.createDataFrame([(1,)], "x int"), root)
    write_snapshot(spark.createDataFrame([(2,)], "x int"), root)
    # pin the publish times so the ordering is unambiguous without
    # sleeps: resolution reads the PUBLISH LOG (only CAS-winning
    # versions are history), so that is what the test rewrites
    with open(f"{root}/_PUBLISH_LOG", "w", encoding="utf-8") as f:
        f.write(f"v00000001 {t0 + 10}\nv00000002 {t0 + 20}\n")

    assert version_at(root, t0 + 15) == "v00000001"
    assert version_at(root, t0 + 25) == "v00000002"
    assert read_snapshot_table_as_of(spark, root, t0 + 15).collect()[0].x == 1
    assert read_snapshot_table_as_of(spark, root, t0 + 25).collect()[0].x == 2
    with pytest.raises(FileNotFoundError, match="existed at"):
        version_at(root, t0 + 5)

    # pre-log tables (no _PUBLISH_LOG) fall back to directory mtimes
    os.unlink(f"{root}/_PUBLISH_LOG")
    os.utime(f"{root}/v00000001", (t0 + 10, t0 + 10))
    os.utime(f"{root}/v00000002", (t0 + 20, t0 + 20))
    assert version_at(root, t0 + 15) == "v00000001"
    assert version_at(root, t0 + 25) == "v00000002"


def test_catalog_diff_release_notes(spark, tmp_path):
    """catalog_diff: unchanged tables detected by version equality (no
    scan), changed tables report row deltas and keyed change counts,
    added/dropped manifest entries report as such."""
    from neulix_datahub_spark.sources.snapshots import catalog_diff, commit_tables

    cat = str(tmp_path / "cat")
    a1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, v double")
    b1 = spark.createDataFrame([(7, "x")], "id int, s string")
    v1 = commit_tables({"a": a1, "b": b1}, cat)
    a2 = spark.createDataFrame(
        [(1, 10.0), (2, 25.0), (3, 30.0)], "id int, v double"  # update + insert
    )
    c1 = spark.createDataFrame([(9,)], "id int")
    v2 = commit_tables({"a": a2, "c": c1}, cat)  # b carries forward

    d = catalog_diff(spark, cat, v1, v2, keys={"a": "id"})
    assert d["b"]["status"] == "unchanged" and d["b"]["rows_delta"] == 0
    assert d["c"]["status"] == "added" and d["c"]["rows_delta"] == 1
    assert d["a"]["status"] == "changed" and d["a"]["rows_delta"] == 1
    assert d["a"]["changes"] == {"insert": 1, "update": 1, "delete": 0}


def test_plan_diff_flags_regressions(spark):
    """plan_diff: a broadcast-join query vs the same query with the
    broadcast disabled flags lost_broadcast/new_shuffles; identical
    queries flag nothing."""
    from neulix_datahub_spark.observability import plan_diff
    from tests.conftest import SF_DIR

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    good = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    bad = orders.hint("merge").join(
        cust.hint("merge"), orders.o_custkey == cust.c_custkey
    )
    good.collect()
    bad.collect()

    same = plan_diff(good, good)
    assert not same["lost_broadcast"] and not same["new_shuffles"]
    reg = plan_diff(good, bad)
    assert reg["lost_broadcast"] and reg["new_shuffles"]


def test_deletion_vector_lifecycle(spark, tmp_path):
    """Merge-on-read deletes: a matched delete appends keys (data files
    untouched), a no-match delete writes nothing, deleting an
    already-deleted row is a no-op (counts LIVE rows only), and
    compaction rewrites exactly the survivors then clears the vector."""
    import os

    from pyspark.sql import functions as F

    from neulix_datahub_spark.sources.deletes import (
        apply_deletes,
        compact_deletes,
        delete_where,
        write_table,
    )

    root = str(tmp_path / "t")
    write_table(spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v")), root)
    data_files = sorted(os.listdir(f"{root}/data"))

    assert delete_where(spark, root, "id", F.col("id") < 3) == 3
    assert delete_where(spark, root, "id", F.col("id") < 3) == 0  # already gone
    assert delete_where(spark, root, "id", F.col("id") > 100) == 0
    assert sorted(os.listdir(f"{root}/data")) == data_files  # untouched
    assert sorted(r.id for r in apply_deletes(spark, root, "id").collect()) == list(range(3, 10))

    assert compact_deletes(spark, root, "id") == 3
    from neulix_datahub_spark.sources.deletes import _vector_files

    assert _vector_files(f"{root}/_deletes") == []  # tombstones drained
    assert sorted(r.id for r in apply_deletes(spark, root, "id").collect()) == list(range(3, 10))
    assert compact_deletes(spark, root, "id") == 0  # nothing to fold


def test_data_aware_cache_invalidates_on_rewrite(spark, tmp_path):
    """The data-aware key lifts the plan-only cache's documented limit:
    rewriting an input file changes the fingerprint, so the new data is
    computed fresh while the plain plan key would have served the stale
    entry."""
    import time as _time

    from pyspark.sql import functions as F

    from neulix_datahub_spark.sources.result_cache import (
        cached_result_data_aware,
        data_fingerprint,
        plan_fingerprint,
    )

    src = str(tmp_path / "src")
    root = str(tmp_path / "cache")
    spark.range(10).write.mode("overwrite").parquet(src)

    def q():
        return spark.read.parquet(src).agg(F.sum("id").alias("s"))

    fp1 = data_fingerprint(q())
    assert cached_result_data_aware(q(), root).first()["s"] == 45
    assert cached_result_data_aware(q(), root).first()["s"] == 45  # hit

    _time.sleep(0.01)
    spark.range(100).write.mode("overwrite").parquet(src)  # rewrite input
    assert plan_fingerprint(q()) == plan_fingerprint(q())  # plan key blind
    assert data_fingerprint(q()) != fp1  # data key sees the rewrite
    assert cached_result_data_aware(q(), root).first()["s"] == 4950


def test_commit_tables_rejects_path_escaping_names(spark, tmp_path):
    """'.', '..' and '.v*' member names must be refused: '.' resolves to
    the catalog root itself (its pointer would clobber the catalog's),
    '..' escapes to the parent directory, and a '.v'-prefixed name is
    indistinguishable from a crashed staging dir — the orphan sweep
    would rmtree the live table after the grace window."""
    import pytest as _pytest

    from neulix_datahub_spark.sources.snapshots import commit_tables

    cat = str(tmp_path / "cat")
    df = spark.createDataFrame([(1,)], "x int")
    for bad in (".", "..", ".vault", "_meta", "v00000001", "a/b"):
        with _pytest.raises(ValueError, match="invalid table name"):
            commit_tables({bad: df}, cat)
    # sane names with interior dots stay legal
    commit_tables({"my.table-v2": df}, cat)


def test_aborted_publish_leaves_no_history(spark, tmp_path):
    """A writer that loses the pointer CAS must leave NOTHING readable:
    no clean-named version dir (cleaned on the conflict path) and no
    publish-log entry — so time travel and history can never serve an
    aborted merge as committed state."""
    import time as _time

    import pytest as _pytest

    from neulix_datahub_spark.sources.snapshots import (
        ConcurrentSnapshotError,
        current_version,
        snapshot_history,
        snapshot_versions,
        version_at,
        write_snapshot,
    )

    root = str(tmp_path / "t")
    write_snapshot(spark.createDataFrame([(1,)], "x int"), root)  # v1
    # loser: derived from v1, but the table moves to v2 underneath it
    write_snapshot(spark.createDataFrame([(2,)], "x int"), root)  # v2
    with _pytest.raises(ConcurrentSnapshotError):
        write_snapshot(
            spark.createDataFrame([(99,)], "x int"), root,
            expected="v00000001",
        )
    assert current_version(root) == "v00000002"
    assert snapshot_versions(root) == ["v00000001", "v00000002"]  # no v3
    assert [h["version"] for h in snapshot_history(root)] == [
        "v00000001", "v00000002",
    ]
    assert version_at(root, _time.time() + 1) == "v00000002"


def test_concurrent_commit_tables_cannot_interleave(spark, tmp_path):
    """Two commit_tables racing from the same expected catalog version:
    the loser must fail BEFORE advancing any member pointer, so member
    tables never serve data from a failed commit. The winner holds the
    catalog publish lock for its whole commit; the loser's up-front
    expected check (inside the lock) fires first."""
    import pytest as _pytest

    from neulix_datahub_spark.sources.snapshots import (
        ConcurrentSnapshotError,
        commit_tables,
        current_version,
        read_catalog_manifest,
        read_snapshot_table,
    )

    cat = str(tmp_path / "cat")
    c1 = commit_tables({"t": spark.createDataFrame([(1,)], "x int")}, cat)
    c2 = commit_tables(
        {"t": spark.createDataFrame([(2,)], "x int")}, cat, expected=c1
    )
    # stale committer: based on c1, but the catalog is at c2
    with _pytest.raises(ConcurrentSnapshotError):
        commit_tables(
            {"t": spark.createDataFrame([(99,)], "x int")}, cat, expected=c1
        )
    manifest = read_catalog_manifest(cat)
    # the member pointer agrees with the committed manifest — no
    # rolled-back data live at the per-table pointer
    troot = f"{cat}/t"
    assert current_version(troot) == manifest["t"]
    assert read_snapshot_table(spark, troot).collect()[0].x == 2


def test_vacuum_sweeps_stale_pointer_temp_files(spark, tmp_path):
    """A publisher killed between mkstemp and os.replace leaves a
    '._VERSION.xxxx' temp file; the vacuum sweep must collect it after
    the grace window (nothing else ever removes it)."""
    import os

    from neulix_datahub_spark.sources.snapshots import (
        vacuum_snapshots,
        write_snapshot,
    )

    root = str(tmp_path / "t")
    write_snapshot(spark.createDataFrame([(1,)], "x int"), root)
    stray = os.path.join(root, "._VERSION.deadbeef")
    open(stray, "w").close()
    os.utime(stray, (1, 1))  # ancient
    removed = vacuum_snapshots(root, keep=2)
    assert "._VERSION.deadbeef" in removed
    assert not os.path.exists(stray)


def test_apply_change_feed_handles_preimage_protocol(spark, tmp_path):
    """apply_change_feed on a pre_image=True feed must land the
    POSTIMAGE values — the preimage rows exist for algebraic consumers
    and a replace-style upsert that let both rows in could
    nondeterministically 'update' a key back to its old values."""
    from neulix_datahub_spark.sources.snapshots import (
        apply_change_feed,
        snapshot_diff,
        write_snapshot,
    )

    root = str(tmp_path / "t")
    old = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, v double")
    new = spark.createDataFrame([(1, 10.0), (2, 99.0), (3, 30.0)], "id int, v double")
    v1 = write_snapshot(old, root)
    v2 = write_snapshot(new, root)
    feed = snapshot_diff(spark, root, v1, v2, key="id", pre_image=True)
    replayed = apply_change_feed(old, feed, key="id")
    assert sorted(map(tuple, replayed.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_deletes_reseed_clears_stale_vector(spark, tmp_path):
    """write_table must clear a pre-existing deletion vector: a vector
    surviving a re-seed replays old tombstones against the NEW data,
    silently deleting fresh rows that share keys with historically
    deleted ones."""
    from neulix_datahub_spark.sources.deletes import (
        apply_deletes,
        delete_where,
        write_table,
    )

    root = str(tmp_path / "t")
    write_table(spark.createDataFrame([(5, "old")], "k int, v string"), root)
    assert delete_where(spark, root, "k", F.col("k") == 5) == 1
    # re-seed with fresh data that reuses key 5
    write_table(spark.createDataFrame([(5, "new")], "k int, v string"), root)
    got = apply_deletes(spark, root, "k").collect()
    assert [(r.k, r.v) for r in got] == [(5, "new")]


def test_deletes_compaction_crash_residues_recover(spark, tmp_path):
    """Both crash residues of the compaction swap must self-repair:
    data renamed away but replacement not yet installed (no data dir at
    all), and backup left behind after the replacement went live (which
    used to make the NEXT compaction's rename fail forever)."""
    import os
    import shutil

    from neulix_datahub_spark.sources.deletes import (
        apply_deletes,
        compact_deletes,
        delete_where,
        write_table,
    )

    root = str(tmp_path / "t")
    write_table(
        spark.createDataFrame([(i, "x") for i in range(6)], "k int, v string"),
        root,
    )
    delete_where(spark, root, "k", F.col("k") < 2)

    # residue A: died between the two renames — no data dir
    os.rename(os.path.join(root, "data"), os.path.join(root, "_old_data"))
    got = sorted(r.k for r in apply_deletes(spark, root, "k").collect())
    assert got == [2, 3, 4, 5]  # read recovered the table

    # residue B: backup left next to live data
    shutil.copytree(
        os.path.join(root, "data"), os.path.join(root, "_old_data")
    )
    removed = compact_deletes(spark, root, "k")
    assert removed == 2
    assert not os.path.isdir(os.path.join(root, "_old_data"))
    got = sorted(r.k for r in apply_deletes(spark, root, "k").collect())
    assert got == [2, 3, 4, 5]

    # compaction drained the vector: a FRESH delete still works (the
    # vector dir may survive holding only markers)
    assert delete_where(spark, root, "k", F.col("k") == 2) == 1
    got = sorted(r.k for r in apply_deletes(spark, root, "k").collect())
    assert got == [3, 4, 5]


def test_delete_where_counts_rows_not_matches_on_duplicate_keys(
    spark, tmp_path
):
    """Key-granular deletes: with a non-unique key, delete_where removes
    every live row sharing a matched key — and its return value must
    equal the rows that actually disappear, not the condition matches."""
    from neulix_datahub_spark.sources.deletes import (
        apply_deletes,
        delete_where,
        write_table,
    )

    root = str(tmp_path / "t")
    write_table(
        spark.createDataFrame(
            [(1, "old"), (1, "new"), (2, "old")], "k int, v string"
        ),
        root,
    )
    n = delete_where(spark, root, "k", F.col("v") == "old")
    assert n == 3  # both k=1 rows + the k=2 row actually vanish
    assert apply_deletes(spark, root, "k").collect() == []


def test_compact_partitions_preserves_nested_partitioning(spark, tmp_path):
    """Multi-level hive layouts must survive compaction at every level —
    a top-level-only scan would demote inner partition columns to data
    columns and silently lose their directory pruning."""
    import os

    from neulix_datahub_spark.sources.layout import compact_partitions

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(a, b, i) for a in ("x", "y") for b in (1, 2) for i in range(3)],
        "a string, b int, v int",
    )
    df.write.partitionBy("a", "b").parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    compact_partitions(spark, path, target_files_per_partition=1)
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before
    # both levels still exist as directories
    assert os.path.isdir(os.path.join(path, "a=x", "b=1"))
    # and no stray .__old_* / .__compact_* residue
    parent = os.path.dirname(path)
    assert [d for d in os.listdir(parent) if "__old" in d or "__compact" in d] == []


def test_time_travel_survives_mixed_era_and_torn_publish(spark, tmp_path):
    """Round-9 hardening (r8 ADVICE): (a) a table whose oldest versions
    predate the publish log keeps that history after its first
    post-upgrade publish; (b) a crash between the pointer os.replace
    and the log append leaves the current version visible to time
    travel and DESCRIBE HISTORY anyway."""
    import os
    import time as _time

    from neulix_datahub_spark.sources.snapshots import (
        snapshot_history,
        version_at,
        write_snapshot,
    )

    root = str(tmp_path / "t")
    t0 = _time.time()
    write_snapshot(spark.createDataFrame([(1,)], "x int"), root)
    write_snapshot(spark.createDataFrame([(2,)], "x int"), root)
    write_snapshot(spark.createDataFrame([(3,)], "x int"), root)

    # (a) mixed era: v1/v2 predate the log (pre-upgrade), only v3 is
    # logged. Pin times so ordering is deterministic without sleeps.
    os.utime(f"{root}/v00000001", (t0 + 10, t0 + 10))
    os.utime(f"{root}/v00000002", (t0 + 20, t0 + 20))
    with open(f"{root}/_PUBLISH_LOG", "w", encoding="utf-8") as f:
        f.write(f"v00000003 {t0 + 30}\n")
    assert version_at(root, t0 + 15) == "v00000001"
    assert version_at(root, t0 + 25) == "v00000002"
    assert version_at(root, t0 + 35) == "v00000003"
    hist = snapshot_history(root)
    assert [h["version"] for h in hist] == [
        "v00000001", "v00000002", "v00000003"
    ]
    assert hist[-1]["is_current"]

    # a post-log CAS loser (newer than the first log entry, never won
    # the pointer) must STILL be invisible — the mixed-era union only
    # admits directories older than the first log entry
    write_snapshot(spark.createDataFrame([(4,)], "x int"), root)
    os.utime(f"{root}/v00000004", (t0 + 40, t0 + 40))
    with open(f"{root}/_PUBLISH_LOG", "w", encoding="utf-8") as f:
        f.write(f"v00000003 {t0 + 30}\nv00000004 {t0 + 40}\n")
    write_snapshot(spark.createDataFrame([(5,)], "x int"), root)
    os.utime(f"{root}/v00000005", (t0 + 50, t0 + 50))
    # simulate the loser: v5 staged but pointer + log still at v4
    with open(f"{root}/_PUBLISH_LOG", "w", encoding="utf-8") as f:
        f.write(f"v00000003 {t0 + 30}\nv00000004 {t0 + 40}\n")
    with open(f"{root}/_VERSION", "w", encoding="utf-8") as f:
        f.write("v00000004")
    assert version_at(root, t0 + 60) == "v00000004"
    assert "v00000005" not in [h["version"] for h in snapshot_history(root)]

    # (b) torn publish: pointer moved to v5 but the log append was lost
    with open(f"{root}/_VERSION", "w", encoding="utf-8") as f:
        f.write("v00000005")
    assert version_at(root, t0 + 60) == "v00000005"
    hist = {h["version"]: h for h in snapshot_history(root)}
    assert "v00000005" in hist and hist["v00000005"]["is_current"]


def test_stamp_commits_with_its_version(spark, tmp_path, monkeypatch):
    """A writer stamp lives in the version dir, not in the data: it is
    invisible to readers, time-travels with its version, survives a
    stamp-only catalog commit, is left at the old version by a publish
    that fails after the rename, and an unknown layout is refused."""
    import json
    import os

    from neulix_datahub_spark.sources import snapshots
    from neulix_datahub_spark.sources.snapshots import (
        commit_tables,
        read_catalog,
        read_catalog_manifest,
        read_stamp,
    )

    root = str(tmp_path / "tbl")
    assert read_stamp(root) is None
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    v1 = write_snapshot(df, root, stamp={"id": 0, "n": 1, "x": -5})
    v2 = write_snapshot(df, root)
    assert read_snapshot_table(spark, root).columns == ["id", "v"]
    assert read_stamp(root, v1) == {"id": 0, "n": 1, "x": -5}
    assert read_stamp(root) is None  # v2 carries none

    # the pointer CAS fails after the rename: old data, old stamp
    def lost(*_a, **_k):
        raise OSError("crash before the pointer moved")

    monkeypatch.setattr(snapshots, "_publish_pointer", lost)
    with pytest.raises(OSError):
        write_snapshot(df, root, stamp={"id": 1, "n": 1, "x": 0})
    monkeypatch.undo()
    assert current_version(root) == v2 and read_stamp(root) is None

    # catalog: the stamp sits beside the manifest; {} restamps only
    cat = str(tmp_path / "cat")
    c1 = commit_tables({"t": df}, cat, stamp={"id": 3})
    c2 = commit_tables({}, cat, stamp={"id": 4})
    assert read_catalog_manifest(cat, c1) == read_catalog_manifest(cat, c2)
    assert (read_stamp(cat, c1), read_stamp(cat)) == ({"id": 3}, {"id": 4})
    assert _rows(read_catalog(spark, cat)["t"]) == [(1, "a")]

    with open(os.path.join(root, v1, snapshots.STAMP), "w") as f:
        json.dump({"layout": "stamp/99", "id": 0}, f)
    with pytest.raises(ValueError, match="stamp/99"):
        read_stamp(root, v1)


def _agg_delta_inputs(spark, sum_type: str, src_type: str):
    agg = spark.createDataFrame(
        [(None, 5, 10), ("a", 2, 4)], "g string, cnt long, s int"
    ).selectExpr("g", "cnt", f"cast(s as {sum_type}) s")
    feed = spark.createDataFrame(
        [(None, 3, "insert"), ("b", 7, "insert"), ("a", 4, "delete"), ("a", None, "insert")],
        "g string, v int, _change_type string",
    ).selectExpr("g", f"cast(v as {src_type}) v", "_change_type")
    return agg, feed


def test_apply_agg_delta_is_one_shuffle_and_no_join(spark):
    """The fold is a union and one regroup: a single hash Exchange, on
    the group key, and no join of any kind."""
    import re

    from neulix_datahub_spark.observability import plan_summary
    from neulix_datahub_spark.operators.incremental import apply_agg_delta

    agg, feed = _agg_delta_inputs(spark, "double", "double")
    out = apply_agg_delta(agg, feed, ["g"], "cnt", {"s": "v"})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan_summary(out)["shuffles"] == 1
    assert re.findall(r"Exchange hashpartitioning\((\w+)#", plan) == ["g"]
    assert "Join" not in plan


@pytest.mark.parametrize("sum_type,src_type,want", [
    ("long", "long", "bigint"),
    ("double", "double", "double"),
    ("decimal(28,2)", "decimal(18,2)", "decimal(38,2)"),
])
def test_apply_agg_delta_output_types(spark, sum_type, src_type, want):
    """The count stays a non-null long and each sum keeps the type the
    join form gave it (decimal(28,2) state widens to decimal(38,2), as
    Spark's SUM does); SUM0 and the delete sign hold."""
    from decimal import Decimal

    from neulix_datahub_spark.operators.incremental import apply_agg_delta

    agg, feed = _agg_delta_inputs(spark, sum_type, src_type)
    out = apply_agg_delta(agg, feed, ["g"], "cnt", {"s": "v"})
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema] == [
        ("g", "string", True), ("cnt", "bigint", False), ("s", want, False)]
    got = sorted(((r.g, r.cnt, Decimal(str(r.s))) for r in out.collect()), key=str)
    assert got == sorted([(None, 6, 13), ("a", 2, 0), ("b", 1, 7)], key=str)


def test_apply_agg_delta_result_belongs_to_the_feeds_session(spark, tmp_path):
    """An aggregate read through another session (a stream's, while the
    feed is a foreachBatch batch) still yields a frame in the feed's
    session, so an Observation on the feed completes with the write."""
    import threading

    from pyspark.sql import Observation

    from neulix_datahub_spark.operators.incremental import apply_agg_delta

    other = spark.newSession()
    agg = other.createDataFrame([("a", 2, 4.0)], "g string, cnt long, s double")
    obs = Observation()
    feed = spark.createDataFrame(
        [("a", 1.0, "insert"), ("b", 2.0, "insert")], "g string, v double, _change_type string"
    ).observe(obs, F.count(F.lit(1)).alias("n"))
    out = apply_agg_delta(agg, feed, ["g"], "cnt", {"s": "v"})
    assert out.sparkSession is feed.sparkSession

    got = {}

    def write_and_observe():
        out.write.parquet(str(tmp_path / "out"))
        got.update(obs.get)

    t = threading.Thread(target=write_and_observe, daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "the Observation never completed"
    assert got == {"n": 2}
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert sorted((r.g, r.cnt, r.s) for r in rows) == [("a", 3, 5.0), ("b", 1, 2.0)]
