"""Versioned snapshot tables: atomic publish on plain parquet (IO9/J2
hardening — SURVEY §7.4.4).

The staged-swap in ``io.update_parquet_table`` (rmtree + rename) is not
atomic under concurrent readers: a reader that lists the directory
mid-swap sees a missing or half-gone table. The reference sidesteps the
problem by delegating DML to a warehouse (``core/utils/db_core.py:
187-200``); a lakehouse deployment puts Delta/Iceberg in front. This
module is the engine-neutral middle ground, built from the same public
pattern those formats use (Iceberg's version-hint file, Hive's
pointer-to-partition): IMMUTABLE snapshot directories plus one tiny
pointer file published with an atomic rename.

Layout::

    root/
      _VERSION          # text file: name of the current snapshot dir
      v00000001/        # immutable parquet snapshot
      v00000002/
        _STAMP.json     # optional writer stamp (read_stamp)

Guarantees (local/POSIX filesystems; see caveat):

- A reader resolves ``_VERSION`` once, then reads an immutable directory
  — it can NEVER observe a half-written table, because data dirs are
  fully written before the pointer moves and are never modified after.
- A writer stamp (``write_snapshot(..., stamp=)``, ``commit_tables(...,
  stamp=)``; the streaming sinks' exactly-once batch bookkeeping) is
  written INTO the version dir before its rename, so it becomes visible
  through the same pointer move as the data: a crash or a lost CAS
  leaves the old data and the old stamp together. The stamp is never a
  column, so readers and ``snapshot_diff`` see only the data.
- Publish is ``os.replace`` of the pointer — atomic on POSIX renames.
- Writers are optimistic: ``publish`` re-reads the pointer and refuses
  (ConcurrentSnapshotError) if it moved since the writer's snapshot was
  resolved — last-write-wins silent lost updates become loud conflicts.
- Old snapshots remain until ``vacuum_snapshots`` removes them, so
  long-running readers of a previous version keep working through any
  number of publishes (time travel for free: ``read_snapshot_table(...,
  version=...)``).

Object-store caveat: rename is not atomic on S3/GCS — there the pointer
publish maps to a conditional PUT (if-generation-match), which is the
same one-key atomic primitive. The layout and reader protocol carry
over unchanged; only ``_publish_pointer`` would swap implementations.
"""

from __future__ import annotations

import json as _json
import os
import tempfile
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession

from neulix_datahub_spark.sources.io import read_parquet, remember_parquet_schema

POINTER = "_VERSION"
#: Writer stamp inside a version dir; the underscore keeps Spark's file
#: index from reading it as data.
STAMP = "_STAMP.json"
_STAMP_LAYOUT = "stamp/1"
_LOCK = "_VERSION.lock"
#: Append-only log of SUCCESSFUL pointer publishes ("version epoch\n"
#: per line, written under the publish lock). Time travel resolves from
#: this log, so a version dir that was renamed final but never won its
#: pointer CAS (an aborted optimistic write) is never served as
#: committed history. Tables created before the log fall back to
#: directory listing.
PUBLISH_LOG = "_PUBLISH_LOG"


class ConcurrentSnapshotError(RuntimeError):
    """The table advanced while this writer was preparing its snapshot."""


def _pointer_path(root: str) -> str:
    return os.path.join(root, POINTER)


def current_version(root: str) -> str | None:
    """Name of the published snapshot dir, or None for an empty table."""
    try:
        with open(_pointer_path(root), encoding="utf-8") as f:
            return f.read().strip() or None
    except FileNotFoundError:
        return None


def snapshot_versions(root: str) -> list[str]:
    """All snapshot dir names under ``root``, oldest first."""
    if not os.path.isdir(root):
        return []
    return sorted(d for d in os.listdir(root) if d.startswith("v") and d[1:].isdigit())


def _next_version(root: str) -> str:
    versions = snapshot_versions(root)
    n = int(versions[-1][1:]) + 1 if versions else 1
    return f"v{n:08d}"


class _PointerLock:
    """The publish lock as an ``flock``-held file handle (context
    manager). flock is the right POSIX primitive here: it is released
    by the KERNEL when the holder dies, so there is no staleness
    heuristic and no break-the-lock path at all. The previous
    O_CREAT|O_EXCL + mtime-staleness spelling had an unfixable TOCTOU:
    two waiters could both judge a crashed holder's lock stale, and the
    second's unlink would delete the first's freshly re-created lock —
    two publishers inside the CAS at once, the exact lost-update the
    lock exists to prevent. The lock FILE persists (never unlinked) so
    the inode every process flocks is the same one; it is ignored by
    readers and vacuums (underscore prefix). Advisory flock is
    per-open-file-description, so concurrent threads in one process
    serialize too. Local/POSIX-fs assumption as documented module-wide;
    an object-store deployment replaces the whole CAS with a
    conditional PUT and needs no lock."""

    def __init__(self, root: str, timeout: float = 5.0) -> None:
        self.path = os.path.join(root, _LOCK)
        self.timeout = timeout
        self.fd: int | None = None

    def __enter__(self) -> "_PointerLock":
        import fcntl

        self.fd = os.open(self.path, os.O_CREAT | os.O_WRONLY)
        deadline = time.monotonic() + self.timeout
        while True:
            try:
                fcntl.flock(self.fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return self
            except BlockingIOError:
                if time.monotonic() > deadline:
                    os.close(self.fd)
                    self.fd = None
                    raise ConcurrentSnapshotError(
                        f"could not acquire publish lock {self.path} "
                        f"within {self.timeout}s"
                    ) from None
                time.sleep(0.005)

    def __exit__(self, *exc) -> None:
        import fcntl

        if self.fd is not None:
            fcntl.flock(self.fd, fcntl.LOCK_UN)
            os.close(self.fd)
            self.fd = None


def _append_publish_log(root: str, version: str) -> None:
    """Record a successful publish (caller holds the pointer lock)."""
    with open(os.path.join(root, PUBLISH_LOG), "a", encoding="utf-8") as f:
        f.write(f"{version} {time.time():.6f}\n")


def published_history(root: str) -> list[tuple[str, float]] | None:
    """(version, publish epoch) pairs from the publish log, publish
    order — ONLY versions that actually won their pointer CAS. None for
    tables created before the log existed (fall back to dir listing)."""
    try:
        with open(os.path.join(root, PUBLISH_LOG), encoding="utf-8") as f:
            out = []
            for line in f:
                parts = line.split()
                if len(parts) == 2:
                    out.append((parts[0], float(parts[1])))
            return out
    except FileNotFoundError:
        return None


def _effective_history(root: str) -> list[tuple[str, float]] | None:
    """:func:`published_history` plus the versions the log alone would
    wrongly hide, publish order. None when the table has no log at all
    (pure pre-log table — callers fall back to directory mtimes).

    Two real gaps in the raw log:

    - **Mixed-era tables**: versions published before the log existed
      don't appear in it, so a table's first post-upgrade publish would
      otherwise erase all earlier history (``version_at`` raising for
      any pre-upgrade timestamp). Version directories strictly OLDER
      than the first log entry are unioned in at their directory mtime
      — exactly the pre-log fallback this table used before the log
      appeared, so no aborted post-log CAS loser can sneak in through
      this path (those are all newer than the first entry).
    - **Torn publish**: a crash between the pointer ``os.replace`` and
      the log append leaves the CURRENT pointer-served version missing
      from the log; it must still be history (readers are being served
      it right now), so the pointer version is always included.
    """
    log = published_history(root)
    if log is None:
        return None
    logged = {v for v, _ in log}
    first_ts = min((ts for _, ts in log), default=float("inf"))
    cur = current_version(root)
    extra = []
    for v in snapshot_versions(root):
        if v in logged:
            continue
        try:
            mtime = os.path.getmtime(os.path.join(root, v))
        except FileNotFoundError:  # pragma: no cover - racing vacuum
            continue
        if mtime < first_ts or v == cur:
            extra.append((v, mtime))
    if not extra:
        return log
    return sorted(log + extra, key=lambda p: p[1])


def _publish_pointer_locked(root: str, version: str, expected: str | None) -> None:
    """The CAS body — caller already holds the pointer lock."""
    if current_version(root) != expected:
        raise ConcurrentSnapshotError(
            f"snapshot table {root} moved from {expected!r} to "
            f"{current_version(root)!r} during the write; re-read and retry"
        )
    fd, tmp = tempfile.mkstemp(prefix=f".{POINTER}.", dir=root)
    with os.fdopen(fd, "w", encoding="utf-8") as f:
        f.write(version)
    os.replace(tmp, _pointer_path(root))  # atomic on POSIX
    _append_publish_log(root, version)


def _publish_pointer(root: str, version: str, expected: str | None) -> None:
    """Atomically move the pointer to ``version`` iff it still reads
    ``expected``. The check+replace pair runs under the flock'd pointer
    lock so the compare-and-swap is genuinely atomic — without it, two
    writers whose snapshots were both staged could pass the check in
    the TOCTOU window and the loser's publish would be silently
    clobbered. (On an object store the whole CAS maps to a conditional
    PUT on the pointer key instead; no lock needed.)"""
    with _PointerLock(root):
        _publish_pointer_locked(root, version, expected)


def read_snapshot_table(
    spark: SparkSession, root: str, version: str | None = None
) -> DataFrame:
    """Read the current (or a pinned historical) snapshot. An unpublished
    root raises — use ``write_snapshot`` to initialize (mirrors the scan
    behavior of a missing lakehouse table, and keeps 'empty table' an
    explicit state rather than a silent empty frame)."""
    v = version or current_version(root)
    if v is None:
        raise FileNotFoundError(f"no published snapshot under {root}")
    return read_parquet(spark, os.path.join(root, v))


def version_at(root: str, timestamp: float) -> str:
    """TIMESTAMP AS OF resolution (the Delta/Iceberg time-travel form
    users actually reach for): the latest PUBLISHED version whose
    publish time is <= ``timestamp`` (epoch seconds). Resolution uses
    the publish log, so a version directory whose writer lost its
    pointer CAS (an aborted optimistic write awaiting vacuum) is never
    served as history. Pre-log tables fall back to directory mtimes —
    publish order and mtime order agree because versions are created by
    a serialized pointer CAS. Raises if the table didn't exist yet at
    that time — an explicit error beats silently reading a later
    state. Mixed-era tables (versions published before the log existed)
    and torn publishes (crash between the pointer swap and the log
    append) resolve through :func:`_effective_history`, which unions
    those otherwise-hidden versions back in."""
    log = _effective_history(root)
    best = None
    if log is not None:
        for v, ts in log:
            if ts <= timestamp and os.path.isdir(os.path.join(root, v)):
                best = v
    else:
        for v in snapshot_versions(root):
            try:
                mtime = os.path.getmtime(os.path.join(root, v))
            except FileNotFoundError:  # pragma: no cover - racing vacuum
                continue
            if mtime <= timestamp:
                best = v
    if best is None:
        raise FileNotFoundError(
            f"no snapshot under {root} existed at ts={timestamp} "
            "(or the versions from that era were vacuumed)"
        )
    return best


def read_snapshot_table_as_of(
    spark: SparkSession, root: str, timestamp: float
) -> DataFrame:
    """Read the table as it stood at ``timestamp`` (epoch seconds) —
    :func:`version_at` + the ordinary pinned read."""
    return read_snapshot_table(spark, root, version=version_at(root, timestamp))


def _write_stamp(version_dir: str, stamp: dict | None) -> None:
    if stamp is not None:
        with open(os.path.join(version_dir, STAMP), "w", encoding="utf-8") as f:
            _json.dump({"layout": _STAMP_LAYOUT, **stamp}, f, sort_keys=True)


def read_stamp(root: str, version: str | None = None) -> dict | None:
    """The writer stamp of the current (or a pinned) version, without
    its ``layout`` key; None when nothing is published or the version
    carries no stamp. A driver-side file read, never a Spark job. An
    unknown layout raises rather than being misread."""
    v = version or current_version(root)
    if v is None:
        return None
    try:
        with open(os.path.join(root, v, STAMP), encoding="utf-8") as f:
            stamp = _json.load(f)
    except FileNotFoundError:
        return None
    layout = stamp.pop("layout", None)
    if layout != _STAMP_LAYOUT:
        raise ValueError(
            f"{root}/{v}/{STAMP} has stamp layout {layout!r}; this build "
            f"reads only {_STAMP_LAYOUT!r}"
        )
    return stamp


_UNSET = object()


def write_snapshot(
    df: DataFrame, root: str, expected=_UNSET, stamp=None
) -> str:
    """Full-table publish: write ``df`` as the next immutable snapshot,
    then atomically move the pointer. Returns the new version name.
    ``stamp`` (a JSON-able dict) is committed with the data; read it
    back with :func:`read_stamp`. It may also be a callable returning
    that dict, called once the data is written and before the version
    is renamed final: a stamp computed by the write itself (an
    ``Observation`` on ``df``) still publishes atomically with it.

    ``expected`` is the version this writer's input was derived from
    (pass what you read); the publish CAS-fails if the pointer moved off
    it — closing the read→write window a read-modify-publish cycle
    opens. Left unset, the pointer at call time is used (fine for blind
    full-table overwrites).

    The parquet write lands in the final snapshot dir directly — that
    dir is invisible to readers until the pointer moves (time travel
    resolves from the publish log, so even the clean-renamed dir is not
    yet "history"), and a crashed write leaves only an unreferenced
    orphan for vacuum to sweep. A writer that LOSES the pointer CAS
    removes its renamed dir before re-raising, so an aborted optimistic
    write leaves nothing behind on the conflict path.
    """
    import shutil

    os.makedirs(root, exist_ok=True)
    if expected is _UNSET:
        expected = current_version(root)
    # uuid suffix while writing so a concurrent writer never collides on
    # the dir name; renamed to the clean version name before publish.
    version = _next_version(root)
    staging = os.path.join(root, f".{version}_{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(staging)
    _write_stamp(staging, stamp() if callable(stamp) else stamp)
    final = os.path.join(root, version)
    try:
        os.rename(staging, final)
    except OSError as exc:  # version name taken: a concurrent writer won
        shutil.rmtree(staging, ignore_errors=True)
        raise ConcurrentSnapshotError(
            f"snapshot {version} already exists under {root}"
        ) from exc
    try:
        _publish_pointer(root, version, expected)
    except ConcurrentSnapshotError:
        shutil.rmtree(final, ignore_errors=True)
        raise
    # the next read of this version (a stream's next micro-batch) then
    # launches no schema-inference job
    remember_parquet_schema(df.sparkSession, final, df.schema)
    return version


def align_schemas(target: DataFrame, updates: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Schema evolution for a MERGE: widen both sides to the UNION of
    their columns, null-filling what a side lacks (new columns typed
    from the side that has them — the Delta ``mergeSchema`` additive
    rule). Columns present on both sides must already agree in type;
    changing a column's type is a rewrite, not an upsert, and raises."""
    from pyspark.sql import functions as F

    t_fields = {f.name: f.dataType for f in target.schema.fields}
    u_fields = {f.name: f.dataType for f in updates.schema.fields}
    for name in t_fields.keys() & u_fields.keys():
        if t_fields[name] != u_fields[name]:
            raise ValueError(
                f"column {name!r} changes type {t_fields[name].simpleString()} "
                f"-> {u_fields[name].simpleString()}: type changes need a "
                "full-table write_snapshot, not an upsert"
            )
    cols = list(t_fields) + [c for c in u_fields if c not in t_fields]
    widen = lambda df, have, types: df.select(  # noqa: E731
        *[
            F.col(c) if c in have else F.lit(None).cast(types[c]).alias(c)
            for c in cols
        ]
    )
    return (
        widen(target, t_fields, u_fields),
        widen(updates, u_fields, t_fields),
    )


def upsert_snapshot(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key: str,
    tiebreak: str | None = None,
    allow_new_columns: bool = False,
) -> str:
    """J2 keyed upsert as a snapshot publish: read current → last-write-
    wins merge (``operators.upsert.upsert``) → publish. Readers see the
    pre- or post-upsert table, never a mixture.

    ``allow_new_columns=True`` turns on additive schema evolution
    (:func:`align_schemas`): updates may carry columns the table lacks
    (existing rows read null there) and may omit columns the table has
    (upserted rows get null). Off by default so a typo'd column fails
    loudly instead of silently forking the schema. Time travel is
    unaffected — historical versions keep their own schema."""
    from neulix_datahub_spark.operators.upsert import upsert

    based_on = current_version(root)
    target = read_snapshot_table(spark, root, version=based_on)
    if allow_new_columns:
        target, updates = align_schemas(target, updates)
    else:
        extra = set(updates.columns) - set(target.columns)
        if extra:
            raise ValueError(
                f"updates carry columns the table lacks: {sorted(extra)} — "
                "pass allow_new_columns=True for additive schema evolution "
                "(the plain upsert would silently drop them)"
            )
    return write_snapshot(
        upsert(target, updates, key, tiebreak=tiebreak), root, expected=based_on
    )


def update_snapshot(
    spark: SparkSession,
    root: str,
    set_exprs: dict[str, Column],
    where: Column | None = None,
) -> str:
    """IO9 UPDATE semantics as a snapshot publish (the transactional
    sibling of ``io.update_parquet_table``'s staged swap). A set
    expression naming a column the table lacks raises — the module's
    typos-fail-loudly policy (upsert_snapshot does the same); silently
    ignoring it would publish an unchanged snapshot and report
    success."""
    from pyspark.sql import functions as F

    based_on = current_version(root)
    df = read_snapshot_table(spark, root, version=based_on)
    unknown = set(set_exprs) - set(df.columns)
    if unknown:
        raise ValueError(
            f"set_exprs name columns the table lacks: {sorted(unknown)}"
        )
    cond = where if where is not None else F.lit(True)
    updated = df.select(
        *[
            F.when(cond, set_exprs[c]).otherwise(F.col(c)).alias(c)
            if c in set_exprs
            else F.col(c)
            for c in df.columns
        ]
    )
    return write_snapshot(updated, root, expected=based_on)


def snapshot_diff(
    spark: SparkSession,
    root: str,
    from_version: str,
    to_version: str | None = None,
    key: str = "id",
    pre_image: bool = False,
) -> DataFrame:
    """Change feed between two snapshot versions — the engine-neutral
    analogue of Delta/Iceberg CDF, free here because snapshots are
    immutable: one full outer join on ``key`` classifies every row as
    ``insert`` (key only in the newer version), ``delete`` (only in the
    older), ``update`` (both sides, any non-key column differs) or is
    dropped as unchanged. Returns the NEWER version's columns (older
    values for deletes) plus ``_change_type``.

    ``pre_image=True`` switches to the Delta-CDF row protocol: every
    update emits TWO rows, ``update_preimage`` (old values) and
    ``update_postimage`` (new values), instead of one ``update`` row.
    Pre-images are what make the feed ALGEBRAICALLY consumable — a
    downstream materialized aggregate can subtract the old contribution
    and add the new one (see operators/incremental.py), including rows
    that migrate between groups. Same single-join plan: the two rows
    come from exploding a conditionally-built array, not a second scan.

    Plan shape: two immutable-snapshot scans → one shuffle each on
    ``key`` → join; the equality test is a single struct comparison of
    the non-key columns (codegen'd), so the per-row cost is independent
    of column count in Python terms. At 100 TB both sides are
    parquet-pruned to the compared columns, and the join is the same
    exchange an incremental consumer needs anyway to MERGE the feed.

    ``to_version=None`` means the current published version."""
    from pyspark.sql import functions as F

    newer = read_snapshot_table(spark, root, version=to_version)
    older = read_snapshot_table(spark, root, version=from_version)
    cols = newer.columns
    if set(cols) != set(older.columns):
        raise ValueError(
            f"snapshot schemas diverge: {sorted(older.columns)} vs {sorted(cols)}"
        )
    data_cols = [c for c in cols if c != key]
    n = newer.select(
        F.col(key), F.struct(*[F.col(c) for c in data_cols]).alias("__n")
    )
    o = older.select(
        F.col(key), F.struct(*[F.col(c) for c in data_cols]).alias("__o")
    )
    joined = n.join(o, on=key, how="full_outer")
    if pre_image:
        tagged = lambda img, tag: F.struct(  # noqa: E731
            F.col(img).alias("row"), F.lit(tag).alias("t")
        )
        # unchanged rows contribute an EMPTY array (built by slicing a
        # same-typed one-element array — a bare F.array() can't carry
        # the nested row type)
        rows = (
            F.when(F.col("__o").isNull(), F.array(tagged("__n", "insert")))
            .when(F.col("__n").isNull(), F.array(tagged("__o", "delete")))
            .when(
                ~F.col("__n").eqNullSafe(F.col("__o")),
                F.array(
                    tagged("__o", "update_preimage"),
                    tagged("__n", "update_postimage"),
                ),
            )
            .otherwise(F.slice(F.array(tagged("__n", "x")), 1, 0))
        )
        exploded = joined.select(F.col(key), F.explode(rows).alias("__e"))
        return exploded.select(
            F.col(key),
            *[F.col("__e.row")[c].alias(c) for c in data_cols],
            F.col("__e.t").alias("_change_type"),
        )
    change = (
        F.when(F.col("__o").isNull(), F.lit("insert"))
        .when(F.col("__n").isNull(), F.lit("delete"))
        .when(~F.col("__n").eqNullSafe(F.col("__o")), F.lit("update"))
    )
    picked = F.coalesce(F.col("__n"), F.col("__o"))
    return (
        joined.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(
            F.col(key),
            *[picked[c].alias(c) for c in data_cols],
            "_change_type",
        )
    )


def apply_change_feed(target: DataFrame, feed: DataFrame, key: str) -> DataFrame:
    """Consume a :func:`snapshot_diff`-shaped feed (rows +
    ``_change_type`` in insert/update/delete): delete the delete-keys,
    last-write-wins upsert the rest. The algebraic inverse of the diff —
    ``apply_change_feed(v_old, snapshot_diff(old→new)) == v_new``
    row-for-row (unit-asserted) — which is what makes the feed a
    replication/incremental-consumption protocol rather than a report.

    Accepts BOTH feed protocols: the default single-``update``-row form
    and the ``pre_image=True`` Delta-CDF form. Pre-image rows carry the
    OLD values — they exist for algebraic consumers (operators/
    incremental.py) and must never enter a replace-style upsert, where
    a nondeterministic dropDuplicates could "update" a key back to its
    old values — so they are excluded explicitly here, leaving the
    postimage as the row that lands.

    One anti-join (deletes ∪ updated keys) + one union; the feed is the
    small side at scale and AQE broadcasts it."""
    from pyspark.sql import functions as F

    from neulix_datahub_spark.operators.upsert import upsert

    if "_change_type" not in feed.columns:
        raise ValueError("feed must carry _change_type (see snapshot_diff)")
    deletes = feed.filter(F.col("_change_type") == "delete").select(key)
    upserts = feed.filter(
        ~F.col("_change_type").isin("delete", "update_preimage")
    ).drop("_change_type")
    kept = target.join(deletes, on=key, how="left_anti")
    return upsert(kept, upserts.select(*target.columns), key)


def _sweep_stale_temps(root: str, grace_seconds: float) -> list[str]:
    """Remove crash debris older than ``grace_seconds`` directly under
    ``root``: ``.v*`` staging DIRECTORIES (a writer died mid-parquet)
    and ``._VERSION.*`` pointer temp FILES (a publisher died between
    mkstemp and os.replace — nothing else ever removes those). A recent
    entry is almost certainly a live writer's, so the grace window is
    what makes the sweep safe under concurrent publishers. Returns the
    removed names."""
    import shutil

    cutoff = time.time() - grace_seconds
    removed = []
    for d in os.listdir(root):
        p = os.path.join(root, d)
        try:
            if d.startswith(f".{POINTER}.") and os.path.isfile(p):
                if os.path.getmtime(p) <= cutoff:
                    os.unlink(p)
                    removed.append(d)
            elif d.startswith(".v") and os.path.isdir(p):
                if os.path.getmtime(p) <= cutoff:
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(d)
        except FileNotFoundError:
            continue  # renamed final / removed by a racing writer
    return removed


def vacuum_snapshots(
    root: str, keep: int = 2, staging_grace_seconds: float = 3600.0
) -> list[str]:
    """Remove snapshot dirs older than the ``keep`` most recent (never
    the published one) plus crashed-write staging orphans. Returns the
    removed names. ``keep >= 1`` enforced: the pointer target always
    survives.

    Staging dirs (``.v*``) are swept only when their mtime is older
    than ``staging_grace_seconds``: the module is designed for
    concurrent optimistic writers (and the streaming sinks vacuum after
    every micro-batch), so a *recent* staging dir is almost certainly a
    live writer's in-flight parquet write — deleting it would fail or
    corrupt that publish. An abandoned orphan stops getting mtime
    updates the moment its writer dies and is collected on the first
    vacuum after the grace window. Pass ``0`` only when writers are
    known quiescent (e.g. offline maintenance)."""
    import shutil

    if keep < 1:
        raise ValueError("keep must be >= 1")
    versions = snapshot_versions(root)
    cur = current_version(root)
    removable = [v for v in versions[:-keep] if v != cur]
    for v in removable:
        shutil.rmtree(os.path.join(root, v))
    orphans = _sweep_stale_temps(root, staging_grace_seconds)
    return removable + orphans


# ---------------------------------------------------------------------------
# Atomic multi-table commits (catalog layer)
# ---------------------------------------------------------------------------

import re as _re

# Member-table names: must not look like a version dir, must not start
# with '_' (pointer/lock/log files) or '.' — a leading dot collides
# with the staging-orphan sweep ('.vault' would be rmtree'd as a
# crashed '.v*' staging dir) and admits '.' / '..', which resolve to
# the catalog root / its PARENT and corrupt or escape the layout.
_TABLE_NAME = _re.compile(r"^(?!v\d+$)(?![_.])[A-Za-z0-9_.-]+$")


def commit_tables(
    updates: dict[str, DataFrame],
    catalog_root: str,
    expected=_UNSET,
    stamp: dict | None = None,
) -> str:
    """Atomic MULTI-TABLE commit: publish new snapshots for every table
    in ``updates`` under one catalog version, so readers that resolve
    the catalog see the tables move TOGETHER — the cross-table
    consistency a per-table pointer cannot give (fact and its dimension
    must never be read from different commits).

    Mechanics reuse the single-table machinery wholesale: each table is
    a snapshot table at ``catalog_root/<name>/``; the catalog itself is
    ANOTHER snapshot "table" at ``catalog_root`` whose snapshot dirs
    hold a one-file json manifest {table: version}. Tables absent from
    ``updates`` carry their manifest version forward unchanged. The
    commit point is the catalog's lock-atomic pointer CAS — same
    crash/conflict/time-travel guarantees, including ``expected`` (pass
    the catalog version your inputs were read at; a concurrent commit
    makes yours fail loudly instead of interleaving).

    Per-table pointers still advance, so single-table readers keep
    working; only catalog readers get the cross-table guarantee.
    ``stamp`` lands in the catalog's own version dir, beside the
    manifest (:func:`read_stamp` on ``catalog_root``); ``updates={}``
    with a stamp republishes every member unchanged under a new stamp.

    The WHOLE commit — member publishes, manifest write, catalog CAS —
    runs under the catalog's pointer lock. Ordering matters: member
    pointers advance BEFORE the catalog CAS, so if a competing commit
    could interleave, the loser's member data would be left live at the
    per-table pointers while the committed manifest says otherwise —
    rolled-back data served to every single-table reader. Holding the
    lock makes a competing ``commit_tables`` fail its ``expected``
    check up front, before it touches any member table. (Member tables
    are catalog-managed by contract — write them through
    ``commit_tables``, not directly.)
    """
    import shutil

    for name in updates:
        if not _TABLE_NAME.match(name):
            raise ValueError(
                f"invalid table name {name!r} (must not look like a version "
                "dir or start with underscore or dot)"
            )
    os.makedirs(catalog_root, exist_ok=True)
    with _PointerLock(catalog_root, timeout=30.0):
        if expected is _UNSET:
            expected = current_version(catalog_root)
        elif current_version(catalog_root) != expected:
            raise ConcurrentSnapshotError(
                f"catalog {catalog_root} moved from {expected!r} to "
                f"{current_version(catalog_root)!r}; re-read and retry"
            )
        manifest: dict[str, str] = {}
        if expected is not None:
            manifest = read_catalog_manifest(catalog_root, expected)
        for name, df in updates.items():
            manifest[name] = write_snapshot(df, os.path.join(catalog_root, name))

        version = _next_version(catalog_root)
        staging = os.path.join(catalog_root, f".{version}_{uuid.uuid4().hex[:8]}")
        os.makedirs(staging)
        with open(os.path.join(staging, "manifest.json"), "w", encoding="utf-8") as f:
            _json.dump({"tables": manifest}, f, sort_keys=True)
        _write_stamp(staging, stamp)
        final = os.path.join(catalog_root, version)
        try:
            os.rename(staging, final)
        except OSError as exc:
            shutil.rmtree(staging, ignore_errors=True)
            raise ConcurrentSnapshotError(
                f"catalog version {version} already exists under {catalog_root}"
            ) from exc
        _publish_pointer_locked(catalog_root, version, expected)
    return version


def read_catalog_manifest(catalog_root: str, version: str | None = None) -> dict[str, str]:
    """The {table: snapshot version} map of a catalog commit."""
    v = version or current_version(catalog_root)
    if v is None:
        raise FileNotFoundError(f"no published catalog under {catalog_root}")
    with open(os.path.join(catalog_root, v, "manifest.json"), encoding="utf-8") as f:
        return dict(_json.load(f)["tables"])


def read_catalog(
    spark: SparkSession, catalog_root: str, version: str | None = None
) -> dict[str, DataFrame]:
    """Open every table at the versions pinned by one catalog commit —
    a consistent cross-table view (current or time-traveled)."""
    manifest = read_catalog_manifest(catalog_root, version)
    return {
        name: read_snapshot_table(
            spark, os.path.join(catalog_root, name), version=v
        )
        for name, v in manifest.items()
    }


def vacuum_catalog(
    catalog_root: str, keep: int = 2, staging_grace_seconds: float = 3600.0
) -> dict[str, list[str]]:
    """Reference-aware vacuum for a multi-table catalog: trim catalog
    manifests to the ``keep`` most recent, then vacuum each member
    table keeping every snapshot version STILL REFERENCED by a
    surviving manifest (plus the table's own current pointer).

    This exists because plain per-table ``vacuum_snapshots`` is UNSAFE
    under a catalog: a table version may be old by the table's own
    history yet still referenced by a retained catalog manifest —
    deleting it breaks catalog time travel exactly the way deleting a
    Delta file still referenced by an old table version would. Use this
    entry point (never per-table vacuum) for catalog members.

    Returns {"<catalog>": removed manifest versions, table: removed
    snapshot versions, ...}.
    """
    import shutil

    if keep < 1:
        raise ValueError("keep must be >= 1")
    removed: dict[str, list[str]] = {}

    versions = snapshot_versions(catalog_root)
    cur = current_version(catalog_root)
    drop = [v for v in versions[:-keep] if v != cur]
    for v in drop:
        shutil.rmtree(os.path.join(catalog_root, v))
    # the catalog is itself a snapshot table, so it gets the same
    # crash-debris sweep as its members (".v*" staging dirs from a
    # commit_tables crash between makedirs and rename, "._VERSION.*"
    # pointer temps from a crash mid-publish)
    drop += _sweep_stale_temps(catalog_root, staging_grace_seconds)
    removed["<catalog>"] = drop

    # referenced set across surviving manifests
    referenced: dict[str, set[str]] = {}
    for v in snapshot_versions(catalog_root):
        for table, tv in read_catalog_manifest(catalog_root, v).items():
            referenced.setdefault(table, set()).add(tv)

    cutoff = time.time() - staging_grace_seconds
    for table, keep_versions in referenced.items():
        troot = os.path.join(catalog_root, table)
        tcur = current_version(troot)
        if tcur:
            keep_versions.add(tcur)
        drop_t = []
        for tv in snapshot_versions(troot):
            if tv in keep_versions:
                continue
            # recency grace on UNREFERENCED member versions: an
            # in-flight commit_tables renames a member snapshot final
            # (and may even advance the member pointer) BEFORE its
            # catalog CAS lands — no surviving manifest references it
            # yet, so without the grace this sweep would rmtree a
            # version the committing writer is about to (or just did)
            # publish, leaving its pointer aimed at nothing. An
            # unreferenced version that is genuinely aborted stops
            # aging and is collected on the first vacuum past the
            # window.
            try:
                if os.path.getmtime(os.path.join(troot, tv)) > cutoff:
                    continue
            except FileNotFoundError:
                continue
            drop_t.append(tv)
        for tv in drop_t:
            shutil.rmtree(os.path.join(troot, tv))
        drop_t += _sweep_stale_temps(troot, staging_grace_seconds)
        removed[table] = drop_t
    return removed


def snapshot_history(root: str) -> list[dict]:
    """``DESCRIBE HISTORY`` analogue: one dict per snapshot version,
    oldest first — version name, publish mtime (ISO-8601 UTC), row
    count and byte size read from the parquet FOOTERS (no data scan),
    and whether it is the currently published version. Driver-side
    metadata walk; cost is O(files), not O(rows)."""
    import datetime
    import glob as _glob

    import pyarrow.parquet as pq

    cur = current_version(root)
    log = _effective_history(root)
    published = {v: ts for v, ts in log} if log is not None else None
    out = []
    for v in snapshot_versions(root):
        if published is not None and v not in published:
            continue  # renamed final but never won its CAS: not history
        vdir = os.path.join(root, v)
        n_rows = 0
        n_bytes = 0
        try:
            for f in _glob.glob(os.path.join(vdir, "*.parquet")):
                n_rows += pq.ParquetFile(f).metadata.num_rows
                n_bytes += os.path.getsize(f)
            published_at = (
                published[v] if published is not None
                else os.path.getmtime(vdir)
            )
        except FileNotFoundError:
            continue  # racing vacuum removed the version mid-walk
        out.append(
            {
                "version": v,
                "published_at": datetime.datetime.fromtimestamp(
                    published_at, tz=datetime.timezone.utc
                ).isoformat(timespec="seconds"),
                "n_rows": n_rows,
                "n_bytes": n_bytes,
                "is_current": v == cur,
            }
        )
    return out


def catalog_diff(
    spark: SparkSession,
    catalog_root: str,
    from_version: str,
    to_version: str | None = None,
    keys: dict[str, str] | None = None,
) -> dict[str, dict]:
    """What changed between two CATALOG commits: per table, whether its
    pinned snapshot moved, row-count delta, and (when ``keys`` names the
    table's key column) insert/update/delete counts from
    :func:`snapshot_diff`. Tables added to or dropped from the manifest
    report as such. The cross-table release-note view a catalog consumer
    reads before deciding whether to reprocess — and cheap: unchanged
    tables are detected by VERSION equality alone (no scan), so cost
    scales with what actually moved, not catalog size."""
    from pyspark.sql import functions as F

    old_m = read_catalog_manifest(catalog_root, from_version)
    new_m = read_catalog_manifest(catalog_root, to_version)
    out: dict[str, dict] = {}
    for name in sorted(set(old_m) | set(new_m)):
        troot = os.path.join(catalog_root, name)
        if name not in old_m:
            n = read_snapshot_table(spark, troot, new_m[name]).count()
            out[name] = {"status": "added", "rows_delta": n}
        elif name not in new_m:
            n = read_snapshot_table(spark, troot, old_m[name]).count()
            out[name] = {"status": "dropped", "rows_delta": -n}
        elif old_m[name] == new_m[name]:
            out[name] = {"status": "unchanged", "rows_delta": 0}
        else:
            key = (keys or {}).get(name)
            if key:
                # the keyed diff determines rows_delta by itself
                # (updates preserve count: delta == inserts - deletes),
                # so the two full-table count() scans are skipped —
                # keeping "cost scales with what actually moved" true
                # on exactly the large-table case it matters for
                feed = snapshot_diff(
                    spark, troot, old_m[name], new_m[name], key=key
                )
                counts = {
                    r._change_type: r.n
                    for r in feed.groupBy("_change_type")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                changes = {
                    t: counts.get(t, 0) for t in ("insert", "update", "delete")
                }
                out[name] = {
                    "status": "changed",
                    "rows_delta": changes["insert"] - changes["delete"],
                    "changes": changes,
                }
            else:
                out[name] = {
                    "status": "changed",
                    "rows_delta": (
                        read_snapshot_table(spark, troot, new_m[name]).count()
                        - read_snapshot_table(spark, troot, old_m[name]).count()
                    ),
                }
    return out
