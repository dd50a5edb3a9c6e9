"""Persisted IVF-PQ index (SURVEY §2.11 L3, round 12): the at-rest
lifecycle form of :func:`~neulix_datahub_spark.operators.similarity
.ivf_pq_search` — codebooks trained ONCE at build, corpus written
partitioned by coarse cell with its PQ codes precomputed, daily deltas
encoded under the FROZEN codebooks, probes reading only probed cell
directories.

Why frozen codebooks: a centroid-trained structure cannot give the
incremental == batch theorem the LSH indexes enjoy (retraining on
grown data moves every bucket — the limitation already documented on
``vector_banded_signatures``). The production discipline (FAISS et
al.) is therefore train-once / encode-forever: ingest encodes new
vectors with the SIDE CAR's codebooks, so build(prior) + ingest(delta)
produces BYTE-identical rows to encoding (prior ∪ delta) under the
prior-trained codebooks — slice-invariant and idempotent (pinned by
unit), just not equal to retraining from scratch. Recall drift under
distribution shift is the operational trigger for a rebuild, exactly
as with any ANN index.

Families (``sources/fragstore.py`` owns the layout, the tombstone
ledger and the commit):

- ``codes`` — ``(id, vec, c0, c1)`` partitioned by ``coarse`` cell: a
  probe's ``coarse IN (...)`` filter is a partition filter, so
  non-probed cell DIRECTORIES are never read (the build_ivf_index
  layout, carried over). Each ingest appends one fragment; compaction
  and rebuild rewrite the family as a new generation.
- ``tombs`` — deleted ids, anti-joined by every query path.

The sidecar (``_IVFPQ_META.json``) carries the frozen parameters plus
the coarse centroids and both PQ codebooks (k·d + 2·k·(d/2) floats — a
few KB; JSON doubles round-trip exactly, so encode-at-ingest is
bit-identical to encode-at-build) and ``n_vecs``.

Scale: build is 3 deterministic Lloyd runs (driver holds centroids
only) + one narrow encode projection + one partitioned write; ingest
touches only the delta (encode is a literal-centroid expression) plus
one id-column scan of the index for the idempotence anti-join; query
reads only probed directories and ranks the fixed k² cell table
driver-side.

Reference parity: not in the reference (no vector data there); this is
the L3 training-data-pipeline tier, persisted form.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neulix_datahub_spark.operators.clustering import (
    kmeans_lloyd,
    kmeans_lloyd_fused,
)
from neulix_datahub_spark.operators.similarity import (
    _block_dot,
    _cosine_to_literal,
    _nearest_code,
    _norm,
    const_double_array,
    const_double_matrix,
)
from neulix_datahub_spark.sources.fragstore import (
    IndexStore,
    create_index,
    files_per_partition,
    open_index,
)

__all__ = [
    "build_ivfpq_index",
    "ingest_ivfpq_delta",
    "query_ivfpq_index",
    "query_ivfpq_index_batch",
    "audit_ivfpq_recall",
    "delete_from_ivfpq_index",
    "rebuild_ivfpq_index",
    "compact_ivfpq_index",
    "read_ivfpq_meta",
]


def _store(path: str) -> IndexStore:
    return open_index(path, "ivfpq")


def read_ivfpq_meta(path: str) -> dict:
    return _store(path).view()


def _residual(vec, coarse, coarse_centroids: list[list[float]]):
    """``vec − coarse_centroid[coarse]`` as a pure expression: the
    centroid table rides in as an array-of-arrays literal indexed by
    the coarse code — the IVFADC residual every classic IVF-PQ
    quantizes instead of the raw vector (residuals are centered, so
    the same codebook bits buy less quantization error)."""
    table = const_double_matrix(coarse_centroids)
    cent = F.element_at(table, coarse + 1)
    return F.zip_with(vec, cent, lambda x, y: x.cast("double") - y)


def _encode(df: DataFrame, meta: dict) -> DataFrame:
    """``(id, vec, coarse, c0, c1)`` under the index's OWN stored
    centroids/codebooks — the single construction build and ingest
    share, which is what makes slice-invariance provable. In
    ``encode='residual'`` mode the PQ codes quantize the residual
    against the assigned coarse centroid instead of the raw vector."""
    half = meta["dim"] // 2
    vec = F.col(meta["vec_col"])
    coarse = _nearest_code(vec, meta["coarse_centroids"])
    if meta.get("encode", "plain") == "residual":
        # pin (coarse, residual) BEFORE quantizing: _nearest_code
        # evaluates its input once per CODEWORD inside the transform
        # lambda, and higher-order functions run interpreted (no
        # codegen, no subexpression elimination) — inlining the
        # residual (itself a coarse argmin + subtract) re-paid the
        # 8×64 coarse fold 2·pq_k times per row. Measured on the sf0.1
        # build: encode 3.36 s → 0.5 s for 2 000 rows. Lazy: the
        # caller's write/append is the materializing action, so the
        # pin costs no extra job. Same expressions, same doubles —
        # bit-identical codes (the IVF-PQ oracle family re-simmed).
        # Footprint trade-off (r13 ADVICE): the pin materializes the
        # full staged (id, double vec, coarse, residual) relation on
        # executor local storage for the duration of the write — ~2×
        # the vectors' footprint — and, like any localCheckpoint,
        # truncates lineage, so losing an executor mid-write forces a
        # retry of the whole build instead of a partition recompute.
        # Accepted deliberately: a build is a one-shot, restartable
        # job, the staged rows are transient (freed by the
        # ContextCleaner when the build returns), and the alternative
        # (inline residual expression) re-pays the 8×64 interpreted
        # coarse fold 2·pq_k times per row — ~7× encode CPU — on
        # EVERY build and ingest. On a cluster where 2× transient
        # local-disk footprint is the binding constraint, swap the pin
        # for .persist(DISK_ONLY) (keeps lineage, same plan barrier)
        # at the cost of tracking the unpersist.
        staged = df.select(
            F.col(meta["id_col"]).alias("id"),
            F.transform(vec, lambda x: x.cast("double")).alias("vec"),
            coarse.alias("coarse"),
            _residual(vec, coarse, meta["coarse_centroids"]).alias("__r"),
        ).localCheckpoint(eager=False)
        return staged.select(
            "id",
            "vec",
            "coarse",
            _nearest_code(
                F.slice("__r", 1, half), meta["codebooks"][0]
            ).alias("c0"),
            _nearest_code(
                F.slice("__r", half + 1, half), meta["codebooks"][1]
            ).alias("c1"),
        )
    return df.select(
        F.col(meta["id_col"]).alias("id"),
        F.transform(vec, lambda x: x.cast("double")).alias("vec"),
        coarse.alias("coarse"),
        _nearest_code(F.slice(vec, 1, half), meta["codebooks"][0]).alias(
            "c0"
        ),
        _nearest_code(
            F.slice(vec, half + 1, half), meta["codebooks"][1]
        ).alias("c1"),
    )


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    coarse_k: int = 8,
    coarse_iters: int = 3,
    pq_k: int = 8,
    pq_iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    encode: str = "plain",
) -> dict:
    """Train the coarse quantizer + both PQ codebooks on ``df``, encode
    it, and land the index at rest. Returns the sidecar dict.

    ``encode="residual"`` is the classic IVFADC refinement: the PQ
    codebooks train on (and the codes quantize) the residual
    ``v − coarse_centroid[coarse(v)]`` instead of the raw vector —
    residuals are centered around zero, so the same codebook bits buy
    strictly less reconstruction error on clustered data (pinned by
    unit on the fixture). The mode freezes into the sidecar; ingest
    and query follow it."""
    meta = _train_meta(
        df, coarse_k, coarse_iters, pq_k, pq_iters, vec_col, id_col, encode
    )
    with create_index(path, "ivfpq", meta) as txn:
        n_vecs = txn.append(
            "codes", _encode(df, meta), partition_by="coarse", count=True
        )
        return txn.commit(n_vecs=n_vecs).view()


def _train_meta(
    df: DataFrame,
    coarse_k: int,
    coarse_iters: int,
    pq_k: int,
    pq_iters: int,
    vec_col: str,
    id_col: str,
    encode: str,
) -> dict:
    """Train the coarse quantizer + both PQ codebooks and return the
    frozen parameters — the training block shared by
    :func:`build_ivfpq_index` and :func:`rebuild_ivfpq_index` (retrained
    on the live corpus)."""
    if encode not in ("plain", "residual"):
        raise ValueError(f"encode must be 'plain' or 'residual', got {encode!r}")
    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("cannot build an IVF-PQ index on an empty relation")
    dim = int(first["d"])
    if dim % 2 != 0:
        raise ValueError(f"vector dim must be even for 2 subspaces, got {dim}")
    half = dim // 2
    # The three Lloyd problems fuse wherever their inputs share a scan
    # (kmeans_lloyd_fused — bit-identical to the sequential loops, at a
    # third/half the corpus passes; guide-§2.4 "remove passes" applied
    # to training): plain mode trains coarse + both PQ subspaces in ONE
    # fused run (12 jobs → 4); residual mode must finish the coarse
    # quantizer first (the PQ input is the residual against its final
    # centroids), so it fuses the two subspace runs (12 jobs → 8).
    if encode == "residual":
        _, coarse = kmeans_lloyd(
            df, k=coarse_k, iters=coarse_iters, vec_col=vec_col,
            id_col=id_col,
        )
        coarse = [[float(x) for x in c] for c in coarse]
        # materialize the residual ONCE: the fused PQ training reads it
        # 4 times (seed job + 3 iterations), and without the pin
        # CollapseProject re-inlines the full residual construction
        # (a coarse assignment + subtraction per reference) into every
        # one of the 2·pq_k distance folds of every job — measured as
        # the single-task 50 s interpreted-eval stage in the first
        # bench attempt. Lazy: the seed job is the materializing pass.
        train = df.select(
            F.col(id_col),
            _residual(
                F.col(vec_col), _nearest_code(F.col(vec_col), coarse), coarse
            ).alias(vec_col),
        ).localCheckpoint(eager=False)
        cbs = kmeans_lloyd_fused(
            train,
            [
                (F.slice(vec_col, 1, half), pq_k, pq_iters),
                (F.slice(vec_col, half + 1, half), pq_k, pq_iters),
            ],
            id_col=id_col,
        )
    else:
        fused = kmeans_lloyd_fused(
            df,
            [
                (F.col(vec_col), coarse_k, coarse_iters),
                (F.slice(vec_col, 1, half), pq_k, pq_iters),
                (F.slice(vec_col, half + 1, half), pq_k, pq_iters),
            ],
            id_col=id_col,
        )
        coarse = [[float(x) for x in c] for c in fused[0]]
        cbs = fused[1:]
    codebooks = [[[float(x) for x in c] for c in cb] for cb in cbs]
    return {
        "coarse_k": coarse_k,
        "pq_k": pq_k,
        "dim": dim,
        "id_col": id_col,
        "vec_col": vec_col,
        "encode": encode,
        "coarse_centroids": coarse,
        "codebooks": codebooks,
    }


def rebuild_ivfpq_index(
    spark: SparkSession,
    path: str,
    coarse_iters: int = 3,
    pq_iters: int = 3,
) -> dict:
    """REBUILD (round 13): the drift monitor's operational answer.
    Frozen codebooks never see drifted mass, so a clustered delta
    collapses into few undiscriminated cells (shortlist amplification —
    SCALE.md §r13); rebuilding RETRAINS the coarse quantizer + PQ
    codebooks on what is actually at rest (the LIVE corpus — tombstones
    purge on the way, like compaction), re-encodes, and commits the
    next generation. Structural parameters (coarse_k, pq_k, encode,
    columns) stay frozen from the sidecar — a rebuild answers drift, it
    does not silently change the index design. Measured on the drift
    fixture: post-rebuild shortlist amplification drops back to ~1×
    because the new centroids split the drifted cluster across cells
    (unit-pinned as a strict decrease).

    Cost: the same three Lloyd runs + encode + partitioned write as
    build, over the live corpus — the deliberate heavyweight response
    the monitor's `drift_detected` threshold gates."""
    store = _store(path)
    old = store.meta
    live = store.live(spark, "codes").select(
        F.col("id").alias(old["id_col"]),
        F.col("vec").alias(old["vec_col"]),
    ).localCheckpoint(eager=True)
    trained = _train_meta(
        live,
        old["coarse_k"],
        coarse_iters,
        old["pq_k"],
        pq_iters,
        old["vec_col"],
        old["id_col"],
        old.get("encode", "plain"),
    )
    with store.begin() as txn:
        n_vecs = txn.rewrite(
            "codes", _encode(live, trained), partition_by="coarse", count=True
        )
        txn.rewrite("tombs")
        return txn.commit(n_vecs=n_vecs, **trained).view()


def ingest_ivfpq_delta(
    spark: SparkSession, delta: DataFrame, path: str
) -> dict:
    """Encode never-seen delta vectors under the FROZEN codebooks and
    append them as one fragment of coarse-cell directories. Idempotent:
    ids already at rest are anti-joined away (the one prior-state scan
    is the index's id column), so a redelivered batch is a no-op. The
    delta is validated up front — ids unique WITHIN the batch (an
    internal duplicate passes the anti-join twice and would break the
    idempotent-by-id invariant permanently) and every vector exactly
    ``dim`` long (a short vector would silently zip_with-truncate into
    garbage codes). Returns ``{n_new, n_vecs}``."""
    store = _store(path)
    meta = store.meta
    vec_col = meta["vec_col"]
    new, n_new = store.stage_delta(
        spark,
        delta,
        "codes",
        checks=(
            (
                F.size(vec_col) != F.lit(meta["dim"]),
                f"delta contains vector(s) whose size({vec_col}) != "
                f"index dim {meta['dim']}",
            ),
        ),
    )
    if n_new == 0:
        return {"n_new": 0, "n_vecs": meta["n_vecs"]}
    with store.begin() as txn:
        txn.append("codes", _encode(new, meta), partition_by="coarse")
        store = txn.commit(n_vecs=meta["n_vecs"] + n_new)
    return {"n_new": n_new, "n_vecs": store.meta["n_vecs"]}


def delete_from_ivfpq_index(
    spark: SparkSession, ids: DataFrame, path: str
) -> dict:
    """Delete vectors by id (round 13 — the lifecycle operation the
    index lacked: dedup removals and right-to-be-forgotten requests
    both need it). Deletes are TOMBSTONES, not rewrites: the ids
    append one tombstone fragment (idempotent — the ledger is
    distinct-read), every query path anti-joins the ledger (bounded,
    broadcast), and :func:`compact_ivfpq_index` purges tombstoned rows
    physically and starts the next generation with an empty ledger.

    Semantics are deliberately FINAL-until-compaction: ids in the
    ledger cannot be re-ingested (``ingest_ivfpq_delta`` raises) —
    resurrection-by-append would leave two at-rest rows behind one
    tombstone, silently deleting the new copy too. After compaction
    the id is physically gone and ingestable again. Unknown ids are
    accepted (deleting an absent id is a no-op at read time), so
    delete is idempotent under redelivery. Returns
    ``{n_deleted_request, n_tombstones, n_live}``."""
    return _store(path).delete(spark, ids, "codes")


def _apply_cell_cap(
    shortlist: DataFrame, cell_cap: int, per_probe: bool = False
) -> DataFrame:
    """Keep at most ``cell_cap`` candidates per shortlist cell, chosen
    by ascending ``md5(id)`` (id tiebreak) — a content-addressed
    uniform sample: deterministic across engines and reruns, unbiased
    by insertion/partition order, and replayable in the DuckDB oracle
    as ``md5(CAST(id AS VARCHAR))``."""
    if cell_cap < 1:
        raise ValueError(f"cell_cap must be >= 1, got {cell_cap}")
    from pyspark.sql import Window as _W

    keys = (["probe_id"] if per_probe else []) + ["coarse", "c0", "c1"]
    w = _W.partitionBy(*keys).orderBy(
        F.asc(F.md5(F.col("id").cast("string"))), F.asc("id")
    )
    return (
        shortlist.withColumn("__cr", F.row_number().over(w))
        .filter(F.col("__cr") <= cell_cap)
        .drop("__cr")
    )


def query_ivfpq_index(
    spark: SparkSession,
    path: str,
    query_vector: list[float],
    k: int = 10,
    n_probes: int = 2,
    top_cells: int = 4,
    cell_cap: int | None = None,
    with_info: bool = True,
) -> tuple[DataFrame, dict]:
    """The at-rest funnel: probe the ``n_probes`` nearest coarse cells
    (driver argmin over the sidecar's centroids — the ``coarse IN``
    filter is a partition filter, non-probed directories never read),
    keep candidates in the ``top_cells`` best ADC cells (codes are
    PRECOMPUTED at rest — the query never re-encodes anything), exact
    re-rank. Returns ``(top-k (id, score), info)`` with the funnel
    counts (``with_info=False`` skips the funnel-count pass for
    callers that only want the rows — the counts exist to VERIFY the
    funnel, and cost one aggregate scan of the probed cells).

    ``cell_cap`` (round 13, r12-verdict task 3 — hot-cell skew): a
    clustered corpus concentrates into few (coarse, c0, c1) cells that
    the frozen ADC table cannot rank within (every member shares the
    same code), so the shortlist balloons toward the cluster size
    (measured ~3× amplification on the drift fixture, SCALE.md §r13).
    With a cap, each shortlist cell keeps at most ``cell_cap``
    candidates by ascending ``md5(id)`` — a content-addressed uniform
    sample, deterministic, oracle-replayable, and unbiased by insert
    order — which bounds the exact-re-rank (and, in the batch form,
    shuffle) cost at ``top_cells · cell_cap`` rows per probe. The
    budget spills across cells implicitly: every kept ADC cell still
    contributes up to the cap. The price is recall inside capped hot
    cells (a true neighbor can be sampled out — measured, SCALE.md);
    leave None for exhaustive funnels."""
    store = _store(path)
    meta = store.meta
    q = [float(x) for x in query_vector]
    if len(q) != meta["dim"]:
        raise ValueError(
            f"query dim {len(q)} != index dim {meta['dim']}"
        )
    half = meta["dim"] // 2
    d2 = []
    for ci, c in enumerate(meta["coarse_centroids"]):
        acc = 0.0
        for i in range(meta["dim"]):
            diff = q[i] - c[i]
            acc += diff * diff
        d2.append((acc, ci))
    probes = [ci for _, ci in sorted(d2)[:n_probes]]

    dots, norm2 = [], []
    for s, start in enumerate((0, half)):
        q_sub = q[start : start + half]
        dots.append([_block_dot(q_sub, c) for c in meta["codebooks"][s]])
        norm2.append([_block_dot(c, c) for c in meta["codebooks"][s]])
    qn = math.sqrt(_block_dot(q, q))
    if qn <= 0.0:
        # hashed_ngram_embedding legitimately produces all-zero vectors
        # for empty text; cosine against one is undefined, so fail with
        # a clear validation error instead of a ZeroDivisionError below
        raise ValueError(
            "query_ivfpq_index: query vector has zero norm — cosine "
            "similarity is undefined for an all-zero query"
        )
    pq_k = meta["pq_k"]
    cand = store.live(spark, "codes").filter(
        F.col("coarse").isin(*probes)
    )
    if meta.get("encode", "plain") == "residual":
        # IVFADC: the reconstruction is coarse_centroid + residual
        # codewords, so the approximate score depends on the
        # (coarse, c0, c1) TRIPLE — still a fixed, driver-rankable
        # table (n_probes·pq_k² entries; only probed coarse cells can
        # hold candidates). The cross terms dot(centroid_half,
        # codeword) are n_probes·pq_k·2 scalars.
        cc = meta["coarse_centroids"]
        cells = []
        for g in probes:
            dq_g = _block_dot(q, cc[g])
            n2_g = _block_dot(cc[g], cc[g])
            cross0 = [
                _block_dot(cc[g][:half], cb) for cb in meta["codebooks"][0]
            ]
            cross1 = [
                _block_dot(cc[g][half:], cb) for cb in meta["codebooks"][1]
            ]
            for c0 in range(pq_k):
                for c1 in range(pq_k):
                    num = dq_g + dots[0][c0] + dots[1][c1]
                    inner = (
                        n2_g
                        + 2 * (cross0[c0] + cross1[c1])
                        + norm2[0][c0]
                        + norm2[1][c1]
                    )
                    if inner <= 0.0:
                        # degenerate all-zero reconstruction: its cell
                        # has no rankable cosine — score it last rather
                        # than divide by zero (the exact re-rank stage
                        # recomputes true scores for anything kept)
                        cells.append((float("-inf"), g, c0, c1))
                        continue
                    cells.append((num / (qn * math.sqrt(inner)), g, c0, c1))
        cells.sort(key=lambda t: (-t[0], t[1], t[2], t[3]))
        kept_cells = [(g, c0, c1) for _, g, c0, c1 in cells[:top_cells]]
        keep = F.array(
            *[
                F.lit((g * pq_k + c0) * pq_k + c1)
                for g, c0, c1 in kept_cells
            ]
        )
        sl_pred = F.array_contains(
            keep,
            (F.col("coarse") * pq_k + F.col("c0")) * pq_k + F.col("c1"),
        )
        shortlist = cand.filter(sl_pred)
    else:
        cells = []
        for c0 in range(pq_k):
            for c1 in range(pq_k):
                denom = qn * math.sqrt(norm2[0][c0] + norm2[1][c1])
                cells.append(((dots[0][c0] + dots[1][c1]) / denom, c0, c1))
        cells.sort(key=lambda t: (-t[0], t[1], t[2]))
        kept_cells = [(c0, c1) for _, c0, c1 in cells[:top_cells]]
        keep = F.array(*[F.lit(c0 * pq_k + c1) for c0, c1 in kept_cells])
        sl_pred = F.array_contains(keep, F.col("c0") * pq_k + F.col("c1"))
        shortlist = cand.filter(sl_pred)
    if cell_cap is not None:
        shortlist = _apply_cell_cap(shortlist, cell_cap)
    topk = (
        shortlist.select(
            "id",
            F.round(_cosine_to_literal(F.col("vec"), q), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )
    info = {
        "probes": probes,
        "kept_cells": kept_cells,
        "n_vecs": meta["n_vecs"],
    }
    if with_info:
        # funnel counts in ONE pass over the probed cells (was two
        # jobs, each its own scan): the shortlist is a filter of the
        # candidate relation, so both counts fall out of one aggregate.
        # The capped path still counts the capped shortlist separately
        # (the cap is a window, not a row predicate). Callers that
        # ignore the funnel (e.g. the delete-lifecycle re-query) pass
        # with_info=False and skip the scan entirely.
        if cell_cap is None:
            counts = cand.agg(
                F.count(F.lit(1)).alias("nc"),
                F.count(F.when(sl_pred, 1)).alias("ns"),
            ).first()
            info["n_candidates"] = int(counts["nc"])
            info["n_shortlist"] = int(counts["ns"])
        else:
            info["n_candidates"] = cand.count()
            info["n_shortlist"] = shortlist.count()
    return topk, info


def audit_ivfpq_recall(
    spark: SparkSession,
    probes: DataFrame,
    path: str,
    k: int = 10,
    n_probes: int = 2,
    top_cells: int = 4,
    exclude_self: bool = True,
    cell_cap: int | None = None,
) -> DataFrame:
    """Recall-drift monitor (round 13, r12-verdict task 5): the module
    docstring names "recall drift under distribution shift" as the
    frozen-codebook rebuild trigger — this makes that trigger a NUMBER
    instead of a vibe. For each probe, compare the index's batch top-k
    (:func:`query_ivfpq_index_batch`) against the EXACT top-k over the
    same at-rest vectors (the codes relation keeps the raw ``vec``
    precisely so audits and re-ranks need no side lookup). Returns one
    row per probe: ``(probe_id, n_hits, n_exact, recall_full)`` —
    run it with a planted + freshly-ingested probe sample after each
    ingest wave and rebuild when the audited recall crosses the SLA.
    ``n_shortlist`` (per-probe shortlist size before the top-k window)
    is the monitor's EFFICIENCY number: under distribution shift with
    frozen codebooks, a clustered delta concentrates into few (coarse,
    c0, c1) cells, so the exact re-rank keeps recall while the
    shortlist balloons — amplification is how drift actually presents
    on this index (measured, SCALE.md §r13), and it is the rebuild /
    cell-cap trigger.

    Cost: the exact side is ONE broadcast-probe pass over the full
    codes relation (an audit, not a serving path — the scan is the
    point; the codes never shuffle), the approximate side is the
    normal directory-pruned batch probe."""
    store = _store(path)
    meta = store.meta
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    scored_sl = _batch_shortlist_scored(
        spark,
        probes,
        path,
        n_probes=n_probes,
        top_cells=top_cells,
        exclude_self=exclude_self,
        cell_cap=cell_cap,
    )
    from pyspark.sql import Window as _AW

    aw = _AW.partitionBy("probe_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    approx = (
        scored_sl.withColumn("__rn", F.row_number().over(aw))
        .filter(F.col("__rn") <= k)
        .select("probe_id", "neighbor_id", F.lit(1).alias("__a"))
    )
    sl_sizes = scored_sl.groupBy("probe_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shortlist")
    )
    p_side = F.broadcast(
        probes.select(
            F.col(id_col).alias("probe_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "__pv"
            ),
            _norm(F.col(vec_col)).alias("__pn"),
        )
    )
    pairs = store.live(spark, "codes").join(p_side, F.lit(True))
    if exclude_self:
        pairs = pairs.filter(F.col("id") != F.col("probe_id"))
    scored = pairs.select(
        "probe_id",
        F.col("id").alias("neighbor_id"),
        F.round(
            F.aggregate(
                F.zip_with(F.col("vec"), F.col("__pv"), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / (_norm(F.col("vec")) * F.col("__pn")),
            6,
        ).alias("score"),
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("probe_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    exact = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("probe_id", "neighbor_id", F.lit(1).alias("__e"))
    )
    return (
        exact.join(approx, ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.sum(F.coalesce(F.col("__a"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
            F.sum("__e").cast("bigint").alias("n_exact"),
        )
        .join(sl_sizes, "probe_id", "left")
        .withColumn(
            "n_shortlist", F.coalesce(F.col("n_shortlist"), F.lit(0))
        )
        .withColumn("recall_full", F.col("n_hits") == F.col("n_exact"))
    )


def compact_ivfpq_index(
    spark: SparkSession, path: str, files_per_cell: int = 1
) -> dict:
    """Small-file maintenance: every ingest appends files into hot
    coarse-cell directories, so read amplification grows with ingest
    count. Compaction rewrites the codes into the NEXT generation with
    ``files_per_cell`` right-sized files per cell. Round 13: compaction
    also PURGES tombstoned rows — the rewrite reads the live codes, so
    the next generation starts with a physically-clean relation and an
    empty ledger (one commit covers both), after which deleted ids
    become ingestable again. Without deletes it is a pure rewrite: the
    row multiset is invariant (unit-pinned)."""
    store = _store(path)
    with store.begin() as txn:
        n_vecs = txn.rewrite(
            "codes",
            files_per_partition(
                store.live(spark, "codes"), "coarse", files_per_cell
            ),
            partition_by="coarse",
            count=True,
        )
        txn.rewrite("tombs")
        return txn.commit(n_vecs=n_vecs).view()


def query_ivfpq_index_batch(
    spark: SparkSession,
    probes: DataFrame,
    path: str,
    k: int = 10,
    n_probes: int = 2,
    top_cells: int = 4,
    exclude_self: bool = True,
    broadcast_probes: bool = True,
    cell_cap: int | None = None,
) -> DataFrame:
    """MANY probes against the at-rest index in ONE job — the
    production retrieval shape (a dedup or hard-negative pass queries
    millions of vectors, not one). Everything probe-side is a narrow
    expression: per-probe coarse argmin (struct array_sort over the
    centroid-distance table), per-probe ADC cell ranking (the
    codeword dot tables as array expressions, codeword norms inlined
    as the SAME python-float literals the single-probe path uses — so
    batch == per-probe :func:`query_ivfpq_index` EXACTLY, unit-
    pinned), then the exploded (probe, coarse-cell) pairs join the
    codes relation on the cell key. With ``broadcast_probes`` the
    codes scan never shuffles; pass False for a genuinely huge probe
    set (same plan as a shuffle hash join on the cell key). Per-probe
    top-k is a window over the re-ranked shortlist.

    Returns ``(probe_id, neighbor_id, score)``, ≤ k rows per probe.

    ``encode='residual'`` indexes are batch-probed too (round 13 —
    closing the r12 refusal): the IVFADC cross terms
    ``dot(centroid_half, codeword)`` looked per-probe but are in fact
    probe-INDEPENDENT — constants per (coarse, codeword) pair, so the
    whole ``inner`` denominator (coarse_k·pq_k² scalars) precomputes
    driver-side from the sidecar exactly as the single-probe path
    does, and the only probe-side addition is the
    ``dot(probe, centroid_g)`` numerator table (coarse_k fold
    expressions). The per-probe cell ranking then filters the
    (g, c0, c1) triple table to probed coarse cells — bit-identical
    scores and tiebreaks to per-probe :func:`query_ivfpq_index`
    (unit-pinned), same funnel shape."""
    scored = _batch_shortlist_scored(
        spark, probes, path,
        n_probes=n_probes, top_cells=top_cells,
        exclude_self=exclude_self, broadcast_probes=broadcast_probes,
        cell_cap=cell_cap,
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("probe_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _batch_shortlist_scored(
    spark: SparkSession,
    probes: DataFrame,
    path: str,
    n_probes: int = 2,
    top_cells: int = 4,
    exclude_self: bool = True,
    broadcast_probes: bool = True,
    cell_cap: int | None = None,
) -> DataFrame:
    """The batch funnel up to (and including) the exact re-rank scores,
    BEFORE the per-probe top-k window: ``(probe_id, neighbor_id,
    score)``, one row per shortlisted candidate pair. Shared by
    :func:`query_ivfpq_index_batch` (windows it to k) and
    :func:`audit_ivfpq_recall` (counts it — per-probe shortlist size is
    the drift monitor's efficiency number)."""
    store = _store(path)
    meta = store.meta
    residual = meta.get("encode", "plain") == "residual"
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    dim, half, pq_k = meta["dim"], meta["dim"] // 2, meta["pq_k"]
    n2c = [
        [_block_dot(c, c) for c in meta["codebooks"][s]] for s in (0, 1)
    ]

    # centroid/codeword tables are ONE transform over ONE matrix
    # literal (the _nearest_code spelling), not k separately-built fold
    # expressions: the per-fold form paid ~25 ms of py4j lambda
    # construction PER centroid (32 calls ≈ 0.8 s of driver time per
    # batch-probe/audit call, re-paid every invocation) and k·dim
    # literal plan nodes. Same folds over the same doubles in the same
    # order — bit-identical (parity units + oracle sims).
    def _d2_to(vec, cent):
        return F.aggregate(
            F.zip_with(
                vec,
                cent,
                lambda x, y: (x.cast("double") - y)
                * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def _dot_to(vec, cent):
        return F.aggregate(
            F.zip_with(
                vec,
                cent,
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    bad = (
        probes.filter(
            (F.size(vec_col) != F.lit(dim))
            | (_norm(F.col(vec_col)) <= F.lit(0.0))
        )
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            "query_ivfpq_index_batch: probe relation contains vector(s) "
            f"with size != index dim {dim} or zero norm — cosine "
            "similarity is undefined for an all-zero probe"
        )
    pv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    coarse_tbl = F.transform(
        const_double_matrix(meta["coarse_centroids"]),
        lambda c, g: F.named_struct(
            F.lit("d"), _d2_to(F.col(vec_col), c),
            F.lit("g"), g.cast("int"),
        ),
    )
    probed = F.transform(
        F.slice(F.array_sort(coarse_tbl), 1, n_probes), lambda s: s["g"]
    )
    d0 = F.transform(
        const_double_matrix(meta["codebooks"][0]),
        lambda c: _dot_to(F.slice(vec_col, 1, half), c),
    )
    d1 = F.transform(
        const_double_matrix(meta["codebooks"][1]),
        lambda c: _dot_to(F.slice(vec_col, half + 1, half), c),
    )
    qn = _norm(F.col(vec_col))
    # The ADC cell ranking is a TRANSFORM over sequence(0, n_cells-1)
    # with the probe-independent denominators shipped as ONE array
    # literal, not n_cells inlined struct expressions: the inlined form
    # (r12) made the logical plan ~n_cells× larger, and analysis +
    # codegen of the 512-entry residual table dominated wall-clock
    # (measured 60s warm for a 10-probe batch at sf0.1; the loop form
    # plans in milliseconds and evaluates the same arithmetic on the
    # same doubles — parity units pin bit-exactness).
    if residual:
        # IVFADC (round 13): the score depends on the (coarse, c0, c1)
        # TRIPLE, but every probe-independent piece — |centroid_g|²,
        # the centroid-half × codeword cross terms, the codeword norms
        # — is a driver-side python-float constant shared bit-for-bit
        # with query_ivfpq_index's cell loop; only the probe-side
        # numerator tables (__dq/__d0/__d1) are expressions.
        cc = meta["coarse_centroids"]
        n2g = [_block_dot(c, c) for c in cc]
        msq: list[float | None] = []
        for g in range(len(cc)):
            cross0 = [
                _block_dot(cc[g][:half], cb) for cb in meta["codebooks"][0]
            ]
            cross1 = [
                _block_dot(cc[g][half:], cb) for cb in meta["codebooks"][1]
            ]
            for c0 in range(pq_k):
                for c1 in range(pq_k):
                    inner = (
                        n2g[g]
                        + 2 * (cross0[c0] + cross1[c1])
                        + n2c[0][c0]
                        + n2c[1][c1]
                    )
                    # degenerate all-zero reconstruction: NULL denom →
                    # ns = +inf below (ns is the NEGATED score, so +inf
                    # ranks last — the single-probe -inf twin)
                    msq.append(
                        math.sqrt(inner) if inner > 0.0 else None
                    )
        dq = F.transform(
            const_double_matrix(cc),
            lambda c: _dot_to(F.col(vec_col), c),
        )
        stage1 = probes.select(
            F.col(id_col).alias("probe_id"),
            pv.alias("__pv"),
            _norm(F.col(vec_col)).alias("__pn"),
            probed.alias("__probed"),
            dq.alias("__dq"),
            d0.alias("__d0"),
            d1.alias("__d1"),
            qn.alias("__qn"),
        )
        # one F.expr literal, not F.lit(list): the 512-entry (coarse_k ·
        # pq_k²) denominator table paid one py4j round-trip PER element
        # (~0.5 s per batch-probe call, re-paid every bench sample) —
        # const_double_array ships it in one call and folds to the same
        # array literal (None → typed NULL, the degenerate-cell sentinel)
        msq_lit = const_double_array(msq)
        kk = pq_k * pq_k

        def _cell_r(i):
            g = F.floor(i / F.lit(kk)).cast("int")
            c0 = F.floor(F.pmod(i, kk) / F.lit(pq_k)).cast("int")
            c1 = F.pmod(i, pq_k).cast("int")
            m = F.element_at(msq_lit, (i + 1).cast("int"))
            ns = F.when(m.isNull(), F.lit(float("inf"))).otherwise(
                -(
                    (
                        F.element_at(F.col("__dq"), g + 1)
                        + F.element_at(F.col("__d0"), c0 + 1)
                        + F.element_at(F.col("__d1"), c1 + 1)
                    )
                    / (F.col("__qn") * m)
                )
            )
            return F.named_struct(
                F.lit("ns"), ns, F.lit("g"), g,
                F.lit("c0"), c0, F.lit("c1"), c1,
            )

        # rank only cells in probed coarse groups (the single-probe
        # loop iterates g over probes); struct sort (ns, g, c0, c1)
        # ascending == the single-probe (-score, g, c0, c1) tiebreak
        kept_r = F.transform(
            F.slice(
                F.array_sort(
                    F.filter(
                        F.transform(
                            F.sequence(
                                F.lit(0), F.lit(len(cc) * kk - 1)
                            ),
                            _cell_r,
                        ),
                        lambda s: F.array_contains(
                            F.col("__probed"), s["g"]
                        ),
                    )
                ),
                1,
                top_cells,
            ),
            lambda s: (
                (s["g"] * pq_k + s["c0"]) * pq_k + s["c1"]
            ).cast("long"),
        )
        p_side = stage1.select(
            "probe_id",
            "__pv",
            "__pn",
            kept_r.alias("__kept"),
            F.explode(F.col("__probed")).alias("__g"),
        )
    else:
        msq_p = [
            math.sqrt(n2c[0][c0] + n2c[1][c1])
            for c0 in range(pq_k)
            for c1 in range(pq_k)
        ]
        stage1 = probes.select(
            F.col(id_col).alias("probe_id"),
            pv.alias("__pv"),
            _norm(F.col(vec_col)).alias("__pn"),
            probed.alias("__probed"),
            d0.alias("__d0"),
            d1.alias("__d1"),
            qn.alias("__qn"),
        )
        msq_p_lit = const_double_array(msq_p)

        def _cell_p(i):
            c0 = F.floor(i / F.lit(pq_k)).cast("int")
            c1 = F.pmod(i, pq_k).cast("int")
            ns = -(
                (
                    F.element_at(F.col("__d0"), c0 + 1)
                    + F.element_at(F.col("__d1"), c1 + 1)
                )
                / (
                    F.col("__qn")
                    * F.element_at(msq_p_lit, (i + 1).cast("int"))
                )
            )
            return F.named_struct(
                F.lit("ns"), ns, F.lit("c0"), c0, F.lit("c1"), c1
            )

        kept = F.transform(
            F.slice(
                F.array_sort(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(pq_k * pq_k - 1)),
                        _cell_p,
                    )
                ),
                1,
                top_cells,
            ),
            lambda s: (s["c0"] * pq_k + s["c1"]).cast("long"),
        )
        p_side = stage1.select(
            "probe_id",
            "__pv",
            "__pn",
            kept.alias("__kept"),
            F.explode(F.col("__probed")).alias("__g"),
        )
    p_join = F.broadcast(p_side) if broadcast_probes else p_side
    cand = store.live(spark, "codes").join(
        p_join, F.col("coarse") == F.col("__g")
    )
    code_key = (
        (F.col("coarse") * pq_k + F.col("c0")) * pq_k + F.col("c1")
        if residual
        else F.col("c0") * pq_k + F.col("c1")
    )
    shortlist = cand.filter(
        F.array_contains(F.col("__kept"), code_key.cast("long"))
    )
    # cap BEFORE the self filter: the single-probe path has no
    # exclude_self, so capping first keeps the two paths' md5 samples
    # identical (batch == per-probe even when the probe's own row
    # occupies a cap slot — it then just burns one slot, documented)
    if cell_cap is not None:
        shortlist = _apply_cell_cap(shortlist, cell_cap, per_probe=True)
    if exclude_self:
        shortlist = shortlist.filter(F.col("id") != F.col("probe_id"))
    return shortlist.select(
        "probe_id",
        F.col("id").alias("neighbor_id"),
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("vec"), F.col("__pv"), lambda x, y: x * y
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / (_norm(F.col("vec")) * F.col("__pn")),
            6,
        ).alias("score"),
    )
