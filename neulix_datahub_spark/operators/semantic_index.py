"""Incremental SEMANTIC near-dup dedup against a persisted vector
index (SURVEY §2.11 L2/L3 composition, incremental form — round 11).

The embedding-side sibling of ``operators/dedupe_index.py``: the batch
recipe (``semantic_dedup_pairs``) is cosine candidates verified by
exact word-bigram Jaccard; at a daily ingest cadence re-running the
all-pairs cosine over the full corpus per day is the same avoidable
cost the MinHash index eliminates for text. This module persists

- ``vectors`` — ``(id, vec)``, embeddings cast to double (the
  deterministic arithmetic the oracles' ``::DOUBLE[]`` uses),
- ``shingles`` — the hashed word-bigram sets the Jaccard verify reads
  instead of re-shingling prior text,
- ``labels`` — ``(id, component)``, the dedup state,

with the id-anti-join idempotence and reduced-graph label extension
(:func:`~neulix_datahub_spark.operators.dedupe_index.extend_labels`) of
the text index, on the shared fragment store (``sources/fragstore.py``)
— one protocol, two feature families.

Candidate generation REUSES
:func:`~neulix_datahub_spark.operators.similarity
.embedding_near_duplicates` on the union of (persisted ∪ delta)
vectors with the delta as the probe side: the delta broadcasts, the
persisted corpus scan never shuffles, prior↔prior pairs (already
resolved at build) are never re-emitted, and delta↔prior pairs are
found regardless of id order. Exactness: cosine (6-dp rounded) and
Jaccard are deterministic functions of the stored features, so
``build(prior); ingest(d1); …`` ≡ ``build(full)`` EXACTLY — same
theorem, same proof shape as the MinHash index.

Scale note: ``candidates="exact"`` (default) is brute-force delta ×
corpus dot products — the honest baseline, exhaustive recall.
``candidates="banded"`` is the 100 TB path: sign-LSH banding
(:func:`~neulix_datahub_spark.operators.similarity
.vector_banded_signatures` — data-independent seeded hyperplanes, so
the candidate set stays a pure function of the vector and the
incremental == batch theorem survives) persists a ``bands``
relation exactly like the text index's, and the per-delta candidate
join becomes delta-bands ⋈ at-rest-bands — an equi-join whose small
side AQE broadcasts, replacing the delta × corpus cross entirely.
Banded candidates then pass an exact-cosine precision stage (read
from the at-rest vectors) before the shared Jaccard verify, so the
only semantic difference from exact mode is banding recall — the
documented SimHash/banding trade, parameter-controlled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neulix_datahub_spark.operators.dedupe import (
    _validate_grid_threshold,
    shingle_projection,
    verify_pairs_with_shingles,
)
from neulix_datahub_spark.operators.dedupe_index import (
    _labels_of,
    _rebalanced,
    _self_pairs,
    extend_labels,
)
from neulix_datahub_spark.operators.similarity import (
    _dot,
    _norm,
    embedding_near_duplicates,
    vector_banded_signatures,
)
from neulix_datahub_spark.sources.fragstore import (
    IndexStore,
    assert_unique_ids,
    create_index,
    files_per_partition,
    open_index,
)

# ``candidates="auto"`` crossover: below this many corpus rows the
# all-pairs exact mode wins (O(n²) on a small n beats the banding
# projection + band-join overhead, and it is the recall-1.0 baseline);
# at or above it the banded equi-join is the only shape that survives
# growth — the delta×corpus cross scales as corpus size, the band join
# as collision count. Conservative: 50k rows × 50k ≈ 2.5e9 candidate
# pairs is already far past where banding wins, but below 50k either
# mode finishes in seconds, so auto only leaves the exact baseline
# when the cross join is clearly the wrong plan.
_AUTO_BANDED_MIN_ROWS = 50_000


def _store(path: str) -> IndexStore:
    return open_index(path, "semantic")


def read_semantic_meta(path: str) -> dict:
    return _store(path).view()


def read_semantic_labels(spark: SparkSession, path: str) -> DataFrame:
    return _store(path).read(spark, "labels")


#: Size gate for the Arrow precision stage (r14), in 64-dim vector
#: equivalents: the index's vector relation takes the Arrow tier when
#: rows × dim <= this × 64 (200k × 64-dim double ≈ 100 MB — a
#: bounded-driver-traffic contract, the components.py driverMaxEdges
#: precedent; a 128-dim relation gets half the rows). The candidate
#: cosines are then computed by a ``mapInArrow`` stage that ships ONLY
#: the (id_a, id_b) pairs across the Python boundary (16 B/pair)
#: against a broadcast copy of the vectors — the two vector equi-joins
#: (each attaching a ~dim×8 B array per pair side, ~1 KB/pair of join
#: traffic at dim 64) and the interpreted per-pair HOF dot fold both
#: disappear. Above the gate the join + HOF form is unchanged — the
#: 100 TB shape. Override per session with
#: ``spark.conf.set("spark.neulix.semantic.driverMaxVectors", n)``; 0
#: disables the Arrow tier everywhere.
_DRIVER_MAX_VECTORS = 200_000


def _driver_max_vectors(spark) -> int:
    try:
        return int(
            spark.conf.get(
                "spark.neulix.semantic.driverMaxVectors",
                str(_DRIVER_MAX_VECTORS),
            )
        )
    except ValueError:
        return _DRIVER_MAX_VECTORS


def _cosine_pairs_arrow(
    pairs: DataFrame, vectors: DataFrame, threshold: float, dim: int
) -> DataFrame:
    """Arrow-tier precision stage (guide §4.2/§8: decide with small
    rows — ship 16 B of ids per pair, keep the heavy vectors resident):
    one ``mapInArrow`` pass computes each candidate pair's dot product
    and the norm product against a collected, broadcast copy of the
    (bounded — see :data:`_DRIVER_MAX_VECTORS`) vector relation, so the
    task closure carries only the broadcast handle. Bit-exactness by
    construction: the dot is accumulated dimension-by-dimension over
    the whole batch (``acc = acc + a_k*b_k``), the exact left-to-right
    double association of ``_dot``'s fold, and the norm replicates
    ``_norm`` the same way; every elementwise numpy float64 op is the
    IEEE-754 operation Spark's interpreter performs. The stage emits
    ``(ids, dot, norm-product)`` and leaves division, 6-dp rounding and
    the threshold filter IN Spark — the same expression tail the join
    form produces, including ANSI divide-by-zero on a zero-norm vector.
    Unknown ids are dropped, mirroring the join form's inner joins
    (by construction candidates reference indexed vectors only)."""
    import numpy as np

    rows = [
        r for r in vectors.select("id", "vec").collect() if r[1] is not None
    ]
    V = np.array([r[1] for r in rows], dtype=np.float64).reshape(-1, dim)
    acc = np.zeros(len(rows), dtype=np.float64)
    for k in range(dim):
        acc = acc + V[:, k] * V[:, k]
    nrm = np.sqrt(acc)
    index = {r[0]: j for j, r in enumerate(rows)}
    shipped = pairs.sparkSession.sparkContext.broadcast((V, nrm, index))

    out_fields = [
        pairs.schema["id_a"], pairs.schema["id_b"],
    ]
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        out_fields
        + [
            StructField("__dot", DoubleType(), True),
            StructField("__np", DoubleType(), True),
        ]
    )

    def gen(batches):
        import pyarrow as pa

        V, nrm, index = shipped.value
        for b in batches:
            ia = np.fromiter(
                (index.get(x, -1) for x in b.column(0).to_pylist()),
                dtype=np.int64, count=b.num_rows,
            )
            ib = np.fromiter(
                (index.get(x, -1) for x in b.column(1).to_pylist()),
                dtype=np.int64, count=b.num_rows,
            )
            ok = (ia >= 0) & (ib >= 0)
            ia, ib = ia[ok], ib[ok]
            A, B = V[ia], V[ib]
            acc = np.zeros(len(ia), dtype=np.float64)
            for k in range(dim):
                acc = acc + A[:, k] * B[:, k]
            okarr = pa.array(ok)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).filter(okarr),
                    b.column(1).filter(okarr),
                    pa.array(acc, type=pa.float64()),
                    pa.array(nrm[ia] * nrm[ib], type=pa.float64()),
                ],
                names=["id_a", "id_b", "__dot", "__np"],
            )

    return (
        pairs.select("id_a", "id_b")
        .mapInArrow(gen, out_schema)
        .select(
            "id_a", "id_b",
            F.round(F.col("__dot") / F.col("__np"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _cosine_pairs(
    pairs: DataFrame, vectors: DataFrame, threshold: float
) -> DataFrame:
    """Exact rounded cosine for ``(id_a, id_b)`` candidates, read from
    the index's ``(id, vec)`` relation — the banded path's precision
    stage (the exact path's candidate generator computes it inline).
    Same 6-dp rounding as :func:`embedding_near_duplicates`, so the two
    candidate modes share one arithmetic.

    Tiered (r14): a uniform-dim vector relation within the byte gate
    (rows × dim, :data:`_DRIVER_MAX_VECTORS`) takes the
    ``mapInArrow`` stage (:func:`_cosine_pairs_arrow` — pairs-only
    boundary traffic, no vector joins, no interpreted per-pair fold);
    anything larger, ragged, null-bearing or with duplicate ids keeps
    the join + HOF form below, whose per-pair expression the Arrow tier
    reproduces bit-for-bit (parity unit-pinned). Duplicate ids route to
    the join form because the Arrow tier's id → row map keeps one
    vector per id, while the joins emit one row per matching
    duplicate."""
    spark = pairs.sparkSession
    gate = _driver_max_vectors(spark)
    if gate:
        # one sizing aggregate (count + distinct ids + dim uniformity +
        # nulls) — the same job the count-only gate would pay
        s = vectors.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("id").alias("d"),
            F.count(F.when(F.col("vec").isNull(), 1)).alias("nulls"),
            F.min(F.size("vec")).alias("dmin"),
            F.max(F.size("vec")).alias("dmax"),
        ).first()
        if (
            int(s["n"]) > 0
            and int(s["d"]) == int(s["n"])
            and not int(s["nulls"])
            and s["dmin"] is not None
            and int(s["dmin"]) == int(s["dmax"])
            and int(s["n"]) * int(s["dmin"]) <= gate * 64
        ):
            return _cosine_pairs_arrow(
                pairs, vectors, threshold, int(s["dmin"])
            )
    a = vectors.select(
        F.col("id").alias("id_a"), F.col("vec").alias("__va"),
        _norm(F.col("vec")).alias("__na"),
    )
    b = vectors.select(
        F.col("id").alias("id_b"), F.col("vec").alias("__vb"),
        _norm(F.col("vec")).alias("__nb"),
    )
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                _dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")), 6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _bands_of(vectors: DataFrame, meta: dict) -> DataFrame:
    """Band rows of a ``(id, vec)`` batch under the index's OWN stored
    banding parameters — the single construction build and every
    ingest share (the ``_features`` discipline of the text index)."""
    return vector_banded_signatures(
        vectors, vec_col="vec", id_col="id",
        num_planes=meta["num_planes"], bands=meta["bands"],
        seed=meta["seed"],
    )


def _vectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec) with the embedding cast to double — fixing the
    arithmetic once at the boundary keeps every later cosine (build,
    any ingest, any oracle replay) on identical numerics regardless of
    the source column's float width."""
    return emb.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )


def _shingles_for(docs: DataFrame, ids: DataFrame, meta: dict) -> DataFrame:
    """Hashed bigram sets for exactly the given ids (semi-join first:
    a redelivered docs batch may carry already-indexed rows whose
    shingles must not duplicate in the store).

    Unlike the text index, whose features all derive from ONE input
    relation, the semantic index joins two (embeddings + documents) —
    so their correspondence is ENFORCED here, not assumed: a duplicate
    docs row would append duplicate shingle rows to the store, and an
    embedding with no docs row at all would be permanently inert (its
    cosine candidates exist but can never Jaccard-verify — a silent
    hole in the dedup state). Both are refused, same convention as
    ``fragstore.check_ids``. NULL-text rows are fine: they carry no
    shingles by the shared ``shingle_projection`` contract, in both
    the batch and incremental paths alike."""
    scoped = docs.join(
        ids.withColumnRenamed("id", meta["doc_id_col"]),
        meta["doc_id_col"], "left_semi",
    )
    stats = scoped.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col(meta["doc_id_col"])).alias("n_ids"),
    ).first()
    n_expected = ids.count()
    if int(stats["n_rows"]) != int(stats["n_ids"]):
        raise ValueError(
            "semantic index: docs batch carries duplicate rows for "
            f"{int(stats['n_rows']) - int(stats['n_ids'])} id(s) — refuse "
            "the batch rather than append duplicate shingle rows"
        )
    if int(stats["n_ids"]) != n_expected:
        raise ValueError(
            f"semantic index: {n_expected - int(stats['n_ids'])} embedding "
            "id(s) have no docs row — their candidates could never "
            "Jaccard-verify, leaving permanent holes in the dedup state"
        )
    return shingle_projection(
        scoped, meta["text_col"], meta["doc_id_col"], n=meta["shingle_n"]
    )


def build_semantic_index(
    emb: DataFrame,
    docs: DataFrame,
    path: str,
    cos_threshold: float = 0.30,
    jaccard_threshold: float = 0.02,
    shingle_n: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    max_iter: int = 10,
    candidates: str = "auto",
    num_planes: int = 128,
    bands: int = 16,
    seed: int = 42,
) -> dict:
    """One-shot batch build: cosine candidates (``candidates="exact"``
    all-pairs, or ``"banded"`` sign-LSH band collisions + exact-cosine
    precision stage with a persisted ``bands`` family) → exact
    bigram-Jaccard verify → connected components, persisted with the
    parameters frozen into the sidecar.

    ``candidates="auto"`` (the default — the bpe ``rewrite="auto"``
    precedent) counts the corpus once at build time and picks
    ``exact`` below :data:`_AUTO_BANDED_MIN_ROWS` rows (all-pairs is
    cheaper than banding overhead on a small corpus and is the honest
    recall baseline), ``banded`` at or above it (the delta×corpus
    cross join is the non-scale shape — band equi-joins replace it).
    The RESOLVED mode is what freezes into the sidecar, so every
    subsequent ingest follows it. Auto never changes the plan's
    PRECISION (both modes feed the same exact-cosine + exact-Jaccard
    verify stages), but banded candidate generation CAN reduce recall:
    sign-LSH banding misses a true near-dup pair when no band's
    hyperplane signs agree end-to-end (probability shrinks with
    ``bands``/``num_planes`` but is never zero), and the frozen
    sidecar locks that mode for all subsequent ingests. Pass
    ``candidates="exact"`` explicitly when exhaustive recall matters
    more than the all-pairs cost; a WARNING is logged when auto
    resolves to banded."""
    _validate_grid_threshold(cos_threshold)
    _validate_grid_threshold(jaccard_threshold)
    if candidates not in ("exact", "banded", "auto"):
        raise ValueError(f"unknown candidates mode {candidates!r}")
    assert_unique_ids(emb, id_col, "build_semantic_index")
    if candidates == "auto":
        import logging

        n_build = emb.count()
        candidates = (
            "exact" if n_build < _AUTO_BANDED_MIN_ROWS else "banded"
        )
        if candidates == "banded":
            logging.getLogger(__name__).warning(
                "semantic index auto candidate mode resolved to "
                "'banded' (%d rows >= crossover %d): sign-LSH banding "
                "can miss true near-dup pairs (recall < 1.0), and the "
                "mode freezes into the sidecar for all future ingests; "
                "pass candidates='exact' to force exhaustive recall",
                n_build, _AUTO_BANDED_MIN_ROWS,
            )
        else:
            logging.getLogger(__name__).info(
                "semantic index auto candidate mode: exact "
                "(%d rows, crossover %d)",
                n_build, _AUTO_BANDED_MIN_ROWS,
            )
    meta = {
        "cos_threshold": cos_threshold,
        "jaccard_threshold": jaccard_threshold,
        "shingle_n": shingle_n,
        "id_col": id_col, "vec_col": vec_col,
        "doc_id_col": doc_id_col, "text_col": text_col,
        "candidates": candidates,
    }
    if candidates == "banded":
        meta.update({"num_planes": num_planes, "bands": bands, "seed": seed})
    spark = emb.sparkSession
    with create_index(path, "semantic", meta) as txn:
        txn.append("vectors", _vectors(emb, id_col, vec_col))
        vectors = txn.read_staged(spark, "vectors")
        txn.append("shingles", _shingles_for(docs, vectors.select("id"), meta))
        sh = txn.read_staged(spark, "shingles")
        if candidates == "banded":
            txn.append(
                "bands", _rebalanced(_bands_of(vectors, meta)),
                partition_by="band",
            )
            band_rows = txn.read_staged(spark, "bands")
            cand = _cosine_pairs(_self_pairs(band_rows), vectors, cos_threshold)
        else:
            cand = embedding_near_duplicates(
                vectors, threshold=cos_threshold, vec_col="vec", id_col="id"
            )
        edges = verify_pairs_with_shingles(cand, sh, jaccard_threshold)
        n_docs = txn.append(
            "labels", _labels_of(vectors.select("id"), edges, max_iter),
            count=True,
        )
        return txn.commit(n_docs=n_docs).view()


def ingest_semantic_delta(
    spark: SparkSession,
    emb_delta: DataFrame,
    docs_delta: DataFrame,
    path: str,
    max_iter: int = 10,
) -> dict:
    """Incremental ingest: only never-seen vectors compute anything.
    Candidates follow the sidecar's frozen mode — ``exact``: ONE
    ``embedding_near_duplicates`` call over (persisted ∪ delta) with
    the delta as the broadcast probe side; ``banded``: delta-bands ⋈
    at-rest-bands equi-join (AQE broadcasts the delta side; the band
    scan never shuffles) plus intra-delta self-pairs, then the
    exact-cosine precision stage over the at-rest vectors. Either way
    delta↔prior and delta↔delta pairs surface exactly once each and
    prior↔prior pairs (resolved at build) are never re-emitted; the
    Jaccard verify reads persisted shingles; labels extend through the
    shared reduced graph. Idempotent by the id anti-join."""
    store = _store(path)
    meta = store.meta
    new, n_new = store.stage_delta(spark, emb_delta, "labels")
    if n_new == 0:
        return {
            "n_new": 0, "n_candidates": 0, "n_edges": 0,
            "labels_version": store.view()["labels_version"],
        }
    # lazy pins: the shingle-correspondence aggregate inside
    # _shingles_for materializes nvec; the n_edges count materializes
    # nsh/nbands — no dedicated pass per pin
    nvec = _vectors(new, meta["id_col"], meta["vec_col"]).localCheckpoint(
        eager=False
    )
    nsh = _shingles_for(docs_delta, nvec.select("id"), meta).localCheckpoint(
        eager=False
    )
    prior_vec = store.read(spark, "vectors")
    nbands: DataFrame | None = None
    if meta.get("candidates") == "banded":
        # the 100 TB shape: delta-bands ⋈ at-rest-bands equi-join (the
        # delta side AQE-broadcasts; the corpus scan never shuffles)
        # plus intra-delta self-pairs, then the exact-cosine precision
        # stage reads only the candidate ids' vectors
        nbands = _bands_of(nvec, meta).localCheckpoint(eager=False)
        cross = (
            nbands.alias("d")
            .join(store.read(spark, "bands").alias("p"), ["band", "band_hash"])
            .select(
                F.least(F.col("d.id"), F.col("p.id")).alias("id_a"),
                F.greatest(F.col("d.id"), F.col("p.id")).alias("id_b"),
            )
        )
        pairs = cross.unionByName(_self_pairs(nbands)).distinct()
        cand = _cosine_pairs(
            pairs, prior_vec.unionByName(nvec), meta["cos_threshold"]
        ).drop("cos_sim").localCheckpoint(eager=False)
    else:
        both = prior_vec.withColumn("__new", F.lit(False)).unionByName(
            nvec.withColumn("__new", F.lit(True))
        )
        cand = embedding_near_duplicates(
            both, threshold=meta["cos_threshold"], vec_col="vec", id_col="id",
            probe_filter=F.col("__new"),
        ).drop("cos_sim").localCheckpoint(eager=False)
    sh_all = store.read(spark, "shingles").unionByName(nsh)
    # lazy checkpoints throughout: the n_edges count is the single
    # materializing pass that pins cand AND edges (eager checkpoints
    # paid one dedicated pass each on top of it)
    edges = verify_pairs_with_shingles(
        cand, sh_all, meta["jaccard_threshold"]
    ).localCheckpoint(eager=False)

    n_edges = edges.count()
    final = extend_labels(
        store.read(spark, "labels"), edges, nvec.select("id"), n_edges,
        max_iter,
    )
    with store.begin() as txn:
        txn.append("vectors", nvec)
        txn.append("shingles", nsh)
        if nbands is not None:
            txn.append("bands", _rebalanced(nbands), partition_by="band")
        txn.rewrite("labels", final)
        store = txn.commit(n_docs=meta["n_docs"] + n_new)
    return {
        "n_new": n_new,
        "n_candidates": cand.count(),
        "n_edges": n_edges,
        "labels_version": store.view()["labels_version"],
    }


def compact_semantic_index(
    spark: SparkSession,
    path: str,
    vector_files: int = 8,
    shingle_files: int = 8,
    files_per_band: int = 1,
) -> dict:
    """Maintenance twin of :func:`~neulix_datahub_spark.operators
    .dedupe_index.compact_dedup_index`: rewrite the appended-to feature
    relations (vectors, shingles, and — in banded mode — the
    band-partitioned bands) into next generations with right-sized
    files, committed together. Pure rewrite — row sets unchanged,
    proven by the invariance unit test. Returns the file-count log."""
    store = _store(path)
    banded = "bands" in store.meta["families"]
    log = {
        "vector_files_before": store.n_files("vectors"),
        "shingle_files_before": store.n_files("shingles"),
    }
    if banded:
        log["band_files_before"] = store.n_files("bands")
    with store.begin() as txn:
        txn.rewrite(
            "vectors", store.read(spark, "vectors").repartition(vector_files)
        )
        txn.rewrite(
            "shingles", store.read(spark, "shingles").repartition(shingle_files)
        )
        if banded:
            txn.rewrite(
                "bands",
                files_per_partition(
                    store.read(spark, "bands"), "band", files_per_band
                ),
                partition_by="band",
            )
        store = txn.commit()
    log["vector_files_after"] = store.n_files("vectors")
    log["shingle_files_after"] = store.n_files("shingles")
    if banded:
        log["band_files_after"] = store.n_files("bands")
    return log


def semantic_survivors(
    spark: SparkSession, path: str, df: DataFrame, id_col: str
) -> DataFrame:
    """Filter ``df`` to the index's current survivors (component
    minima plus unpaired rows)."""
    losers = (
        read_semantic_labels(spark, path)
        .filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")
