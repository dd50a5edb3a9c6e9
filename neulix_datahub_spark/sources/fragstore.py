"""One fragment store for the persisted indexes (dedup, semantic,
passage, search and IVF-PQ): layout, reads, delta validation, sweep and
the one commit protocol they all share.

Layout under an index ``path``::

    _<KIND>_META.json           the sidecar (below)
    <family>_v<G>/frag=<K>/     parquet fragment K of generation G of a
                                family (any partitionBy dirs below it)
    _VERSION.lock               the commit lock (snapshots._PointerLock)
    .stage-<id>/                one writer's private staging directory

The sidecar carries ``layout`` (this module refuses any other value,
including none — an index from an older build must be rebuilt), the
``seq`` commit counter, one ``{generation, n_fragments}`` pointer per
family, each family's frozen Spark schema, and the index's own frozen
parameters and counters (``n_docs``/``n_vecs``).

A family changes in one of two ways:

- **append** — one more fragment ``frag=<n_fragments>`` in the live
  generation (ingested bands, shingles, vectors, grams, ids, postings,
  positions, doclens, codes; delete tombstones);
- **rewrite** — a new generation whose only fragment is the new
  content (dedup/semantic labels, every compaction output), or with no
  fragment at all (the tombstone ledger after compaction).

Readers resolve the sidecar once and read each family as ONE
partitioned scan of its live generation with the frozen schema and
``frag < n_fragments`` as a partition filter, so nothing a pointer does
not name is ever read. Tombstones are one more fragment family,
applied by one broadcast anti-join (:meth:`IndexStore.live`).

Commit: a writer stages every fragment it writes under its own
``.stage-<id>/``. Then, holding the index's ``_PointerLock``, it
(1) checks that the sidecar's ``seq`` is the one it started from,
(2) renames its staged fragment directories into place, (3) replaces
the sidecar (write-then-``os.replace``) with ``seq + 1`` and the new
pointers, and (4) sweeps. A writer that loses the check raises
``ConcurrentSnapshotError`` before any committed byte changes, so two
racing writers can never both be acknowledged against the same state;
the caller re-reads and retries. (A writer still reading a generation
that a racing rewrite has just replaced and swept fails with Spark's
file-not-found error instead; it never commits either.)

Crash guarantees: before step 3 nothing a reader resolves has
changed — staged directories are private, and a fragment renamed into
place is beyond ``n_fragments`` or in a generation no pointer names.
The sweep (run inside every commit, under the lock) removes exactly
that debris: unnamed generations of a known family, entries of a live
generation that are not committed fragments, and staging directories
older than an hour (younger ones may belong to a live writer). The
renames and the sidecar replace are atomic on a local/POSIX file
system — the same assumption as ``sources/snapshots.py``.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neulix_datahub_spark.sources.snapshots import (
    ConcurrentSnapshotError,
    _PointerLock,
)

LAYOUT = "fragstore/1"
_STAGE = ".stage-"
_STAGE_GRACE_S = 3600.0

__all__ = [
    "LAYOUT",
    "IndexStore",
    "Txn",
    "assert_unique_ids",
    "create_index",
    "files_per_partition",
    "open_index",
]


def _sidecar(path: str, kind: str) -> str:
    return os.path.join(path, f"_{kind.upper()}_META.json")


def _load(path: str, kind: str) -> dict:
    with open(_sidecar(path, kind), encoding="utf-8") as f:
        return json.load(f)


def _schema(meta: dict, family: str):
    from pyspark.sql.types import StructType

    return StructType.fromJson(meta["schemas"][family])


def _rm(p: str) -> None:
    if os.path.isdir(p):
        shutil.rmtree(p, ignore_errors=True)
    else:
        try:
            os.unlink(p)
        except FileNotFoundError:
            pass


def check_ids(nulls: int, dups: int, id_col: str, where: str) -> None:
    """Id uniqueness is every index's identity contract — the
    anti-join idempotence, the one-row-per-id grain and ``n_docs`` all
    assume it — so NULL or duplicate ids are refused, never tolerated."""
    if nulls:
        raise ValueError(
            f"{where}: {nulls} row(s) have NULL {id_col!r} — ids are the "
            "index identity and must be non-null"
        )
    if dups:
        raise ValueError(
            f"{where}: {dups} duplicate {id_col!r} row(s) in the batch — "
            "deduplicate upstream (e.g. exact_dedup or dropDuplicates) "
            "before indexing; admitting them would corrupt the "
            "one-row-per-id labels grain"
        )


def assert_unique_ids(df: DataFrame, id_col: str, where: str) -> None:
    """:func:`check_ids` over a whole build input (one aggregate)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(id_col)).alias("d"),
        F.count(F.when(F.col(id_col).isNull(), 1)).alias("nulls"),
    ).first()
    check_ids(row["nulls"], row["n"] - row["d"], id_col, where)


def files_per_partition(df: DataFrame, partition_col: str, files: int) -> DataFrame:
    """Compaction shuffle for a partitioned family: rows hash-salted on
    ``id`` into at most ``files`` tasks per ``partition_col`` value, so
    every value compacts to at most ``files`` files while values still
    rewrite in parallel."""
    return df.repartition(
        F.col(partition_col), F.pmod(F.xxhash64("id"), F.lit(files))
    )


def open_index(path: str, kind: str) -> "IndexStore":
    """The committed state of the ``kind`` index at ``path``; refuses a
    sidecar whose layout this build does not know."""
    meta = _load(path, kind)
    layout = meta.get("layout", "none (pre-fragstore)")
    if layout != LAYOUT:
        raise ValueError(
            f"{kind} index at {path} has layout {layout!r}, but this build "
            f"reads only {LAYOUT!r}; rebuild the index with build_{kind}_index"
        )
    return IndexStore(path, kind, meta)


def create_index(path: str, kind: str, params: dict) -> "Txn":
    """A build: a transaction over an empty index. Whatever is already
    at ``path`` (an older index, any layout) stays in place until the
    commit replaces it; its generations are numbered past, so the
    build's fragments never land on top of them."""
    try:
        expected = _load(path, kind).get("seq")
    except FileNotFoundError:
        expected = None
    gens = [
        int(g)
        for d in (os.listdir(path) if os.path.isdir(path) else [])
        for _, _, g in [d.rpartition("_v")]
        if g.isdigit()
    ]
    meta = dict(params, layout=LAYOUT, families={}, schemas={})
    return Txn(path, kind, meta, expected, gen0=max(gens) + 1 if gens else 0)


class IndexStore:
    """A committed index state: the sidecar as read, plus its readers."""

    def __init__(self, path: str, kind: str, meta: dict) -> None:
        self.path, self.kind, self.meta = path, kind, meta

    def view(self, primary: str | None = None) -> dict:
        """The sidecar as the index modules' ``read_*_meta`` return it:
        every key, plus ``<family>_version`` per family and, for an
        index whose appended families move together, ``generation`` and
        ``n_fragments`` of its ``primary`` family."""
        out = dict(self.meta)
        for fam, ptr in self.meta["families"].items():
            out[f"{fam}_version"] = ptr["generation"]
        if primary is not None:
            out.update(self.meta["families"][primary])
        return out

    def n_fragments(self, family: str) -> int:
        return self.meta["families"].get(family, {}).get("n_fragments", 0)

    def gen_dir(self, family: str) -> str:
        g = self.meta["families"][family]["generation"]
        return os.path.join(self.path, f"{family}_v{g}")

    def n_files(self, family: str) -> int:
        """Parquet files of a family's live generation."""
        return sum(
            f.endswith(".parquet")
            for _, _, fs in os.walk(self.gen_dir(family))
            for f in fs
        )

    def read(self, spark: SparkSession, family: str) -> DataFrame:
        """Committed fragments of a family as ONE partitioned read with
        the frozen schema. The schema is passed, never inferred: a
        fragment of a row-empty delta has no schema-bearing file. Spark
        appends the discovered ``frag`` partition column; it is pruned
        by the pointer and dropped, so callers see the frozen columns."""
        schema = _schema(self.meta, family)
        n = self.n_fragments(family)
        if n == 0:
            return spark.createDataFrame([], schema)
        gen = self.gen_dir(family)
        df = spark.read.option("basePath", gen).schema(schema).parquet(gen)
        # a generation whose fragments are ALL row-empty has no data
        # files, so no partition column is discovered and nothing to prune
        if "frag" in df.columns:
            df = df.filter(F.col("frag") < n).drop("frag")
        return df

    def dead(self, spark: SparkSession) -> DataFrame | None:
        """Distinct tombstoned ``id`` values, or None without any."""
        if not self.n_fragments("tombs"):
            return None
        return self.read(spark, "tombs").select("id").distinct()

    def live(self, spark: SparkSession, family: str) -> DataFrame:
        """A family minus the tombstone ledger (broadcast anti-join: the
        ledger is bounded between compactions, which purge it)."""
        rows = self.read(spark, family)
        dead = self.dead(spark)
        if dead is not None:
            rows = rows.join(F.broadcast(dead), "id", "left_anti")
        return rows

    def stage_delta(
        self,
        spark: SparkSession,
        delta: DataFrame,
        known: str,
        checks: tuple = (),
    ) -> tuple[DataFrame, int]:
        """Validate an ingest delta in ONE staged pass and return its
        never-seen rows (pinned) with their count. Each delta row is
        marked dead (tombstone ledger, broadcast) and known (a left join
        against the ``id`` column of the ``known`` family); one
        aggregate reads every validation number and materializes the
        pin. A tombstoned id refuses first; an all-known delta returns
        ``n_new == 0`` (idempotent redelivery); then the new rows must
        have non-null, unique ids and pass every ``(condition,
        message)`` in ``checks``."""
        id_col = self.meta["id_col"]
        where = f"ingest_{self.kind}_delta"
        staged = delta
        dead = self.dead(spark)
        if dead is not None:
            staged = staged.join(
                F.broadcast(
                    dead.select(F.col("id").alias(id_col), F.lit(1).alias("__dead"))
                ),
                id_col,
                "left",
            )
        else:
            staged = staged.withColumn("__dead", F.lit(None).cast("int"))
        ids = self.read(spark, known).select(
            F.col("id").alias("__kid"), F.lit(1).alias("__known")
        )
        staged = (
            staged.join(ids, staged[id_col] == ids["__kid"], "left")
            .drop("__kid")
            .localCheckpoint(eager=False)
        )
        is_new = F.col("__known").isNull()
        v = staged.agg(
            F.count(F.when(F.col("__dead") == 1, 1)).alias("n_dead"),
            F.count(F.when(is_new, 1)).alias("n_new"),
            F.count(F.when(is_new & F.col(id_col).isNull(), 1)).alias("nulls"),
            F.count_distinct(F.when(is_new, F.col(id_col))).alias("d"),
            *[
                F.count(F.when(is_new & cond, 1)).alias(f"__c{i}")
                for i, (cond, _) in enumerate(checks)
            ],
        ).first()
        if v["n_dead"]:
            raise ValueError(
                f"{where}: delta contains tombstoned id(s) — deletes are "
                "final until compaction (resurrection-by-append would "
                "strand two at-rest rows behind one tombstone); run "
                f"compact_{self.kind}_index first"
            )
        n_new = int(v["n_new"])
        if n_new:
            check_ids(v["nulls"], n_new - int(v["d"]), id_col, where)
        for i, (_, message) in enumerate(checks):
            if v[f"__c{i}"]:
                raise ValueError(f"{where}: {message}")
        return staged.filter(is_new).select(*delta.columns), n_new

    def delete(self, spark: SparkSession, ids: DataFrame, known: str) -> dict:
        """Tombstone the ``id_col`` values of ``ids`` (one appended
        ``tombs`` fragment; unknown ids are accepted, so redelivery is
        idempotent). Returns ``{n_deleted_request, n_tombstones,
        n_live}``, ``n_live`` counted over the ``known`` family."""
        req = ids.select(F.col(self.meta["id_col"]).alias("id")).distinct()
        n_req = req.count()
        store = self
        if n_req:
            with self.begin() as txn:
                txn.append("tombs", req)
                store = txn.commit()
        dead = store.dead(spark)
        return {
            "n_deleted_request": n_req,
            "n_tombstones": dead.count() if dead is not None else 0,
            "n_live": store.live(spark, known).count(),
        }

    def begin(self) -> "Txn":
        """A transaction against this committed state."""
        return Txn(self.path, self.kind, copy.deepcopy(self.meta), self.meta["seq"])

    def sweep(self) -> None:
        """Remove what no pointer names: other generations of a known
        family, non-fragment entries of a live generation, and staging
        directories past the grace period. Runs under the commit lock."""
        fams = self.meta["families"]
        cutoff = time.time() - _STAGE_GRACE_S
        for d in os.listdir(self.path):
            p = os.path.join(self.path, d)
            fam, _, g = d.rpartition("_v")
            if fam in fams and g.isdigit():
                ptr = fams[fam]
                if int(g) != ptr["generation"] or not ptr["n_fragments"]:
                    _rm(p)
                    continue
                keep = {f"frag={k}" for k in range(ptr["n_fragments"])}
                for e in os.listdir(p):
                    if e not in keep:
                        _rm(os.path.join(p, e))
            elif d.startswith(_STAGE) and os.path.getmtime(p) <= cutoff:
                _rm(p)


class Txn:
    """One writer's staged change to an index (a context manager: the
    staging directory is removed on exit, committed or not)."""

    def __init__(
        self, path: str, kind: str, meta: dict, expected, gen0: int = 0
    ) -> None:
        self.path, self.kind, self.meta = path, kind, meta
        self.expected, self.gen0 = expected, gen0
        self.stage = os.path.join(path, f"{_STAGE}{uuid.uuid4().hex}")
        self.moves: list[tuple[str, str]] = []
        self.staged: dict[str, str] = {}

    def __enter__(self) -> "Txn":
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.stage, ignore_errors=True)

    def _write(
        self, family: str, df: DataFrame, partition_by: str | None, count: bool
    ) -> int | None:
        ptr = self.meta["families"][family]
        rel = os.path.join(
            f"{family}_v{ptr['generation']}", f"frag={ptr['n_fragments']}"
        )
        dest = os.path.join(self.stage, rel)
        obs = None
        if count:
            from pyspark.sql import Observation

            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        w = df.write
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(dest)
        self.moves.append((dest, os.path.join(self.path, rel)))
        self.staged[family] = dest
        ptr["n_fragments"] += 1
        return int(obs.get["n"]) if obs is not None else None

    def append(
        self,
        family: str,
        df: DataFrame,
        partition_by: str | None = None,
        count: bool = False,
    ) -> int | None:
        """Stage ``df`` as the family's next fragment; with ``count``,
        return its row count (an Observation riding the write job)."""
        self.meta["families"].setdefault(
            family, {"generation": self.gen0, "n_fragments": 0}
        )
        self.meta["schemas"].setdefault(family, df.schema.jsonValue())
        return self._write(family, df, partition_by, count)

    def rewrite(
        self,
        family: str,
        df: DataFrame | None = None,
        partition_by: str | None = None,
        count: bool = False,
    ) -> int | None:
        """Stage a new generation of the family holding ``df`` as its
        only fragment (``None``: no fragment — an emptied ledger)."""
        old = self.meta["families"].get(family)
        gen = old["generation"] + 1 if old else self.gen0
        self.meta["families"][family] = {"generation": gen, "n_fragments": 0}
        if df is None:
            return None
        self.meta["schemas"][family] = df.schema.jsonValue()
        return self._write(family, df, partition_by, count)

    def read_staged(self, spark: SparkSession, family: str) -> DataFrame:
        """The fragment this transaction just staged for ``family``, read
        back with the frozen schema."""
        return spark.read.schema(_schema(self.meta, family)).parquet(
            self.staged[family]
        )

    def commit(self, **updates) -> IndexStore:
        """Publish the staged change (module docstring: check ``seq``,
        rename, replace the sidecar, sweep) and return the new state.
        Raises ``ConcurrentSnapshotError`` if another commit won."""
        meta = dict(self.meta, **updates)
        meta["seq"] = (self.expected or 0) + 1
        with _PointerLock(self.path, timeout=30.0):
            try:
                current = _load(self.path, self.kind).get("seq")
            except FileNotFoundError:
                current = None
            if current != self.expected:
                raise ConcurrentSnapshotError(
                    f"{self.kind} index {self.path} moved from seq "
                    f"{self.expected!r} to {current!r} during the write; "
                    "re-read and retry"
                )
            for src, dst in self.moves:
                _rm(dst)  # debris of an earlier torn commit, never committed
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
            tmp = _sidecar(self.path, self.kind) + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(meta, f, sort_keys=True)
            os.replace(tmp, _sidecar(self.path, self.kind))
            store = IndexStore(self.path, self.kind, meta)
            store.sweep()
        return store
