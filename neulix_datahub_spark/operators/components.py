"""Connected components over a candidate-pair edge list (SURVEY §2.11
L2: "approxSimilarityJoin + connected-component pick") — the step that
turns near-duplicate PAIRS into dedup GROUPS so one canonical doc per
cluster survives.

Two algorithms, selected by flag:

- ``propagation`` (default): iterative minimum-label propagation. Each
  node starts labeled with itself; every round, each node adopts the
  smallest label in its neighborhood (its own + its neighbors');
  converged when no label changes. Rounds = graph diameter, and
  near-dup clusters are small-diameter (cliques-ish from LSH buckets),
  so 3–5 rounds typically suffice. Each round is one join + one
  aggregation — all shuffles on the node id.
- ``star``: alternating large-star/small-star contraction (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14).
  Large-star hangs every bigger neighbor off the neighborhood minimum;
  small-star re-points every smaller neighbor at it. Each pair of
  rounds roughly HALVES long chains, so convergence is O(log² d) rounds
  instead of O(d) — the right shape when the pair graph is not the
  expected pile of small-diameter clusters (e.g. chained near-dups
  across a template family, where propagation's bounded iteration
  budget correctly refuses).

The driver-side loop only checks a scalar per round (changed-label
count / edge-set fingerprint) — no data ever collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

#: Size gate for the driver-side union-find fast path (r14): a verified
#: near-dup edge list at or below this many SYMMETRIC rows (2× the
#: undirected edges) collects to the driver and resolves in one
#: union-find pass instead of O(log d) full-data shuffle rounds. The
#: bound is a bounded-driver-traffic contract, not a local-mode tune:
#: 1M (u,v) long pairs ≈ 16 MB — safe on any driver — while each
#: avoided propagation round is a full shuffle + aggregate of the label
#: relation. Override per session with
#: ``spark.conf.set("spark.neulix.cc.driverMaxEdges", n)``; set 0 to
#: force the distributed loop everywhere.
_DRIVER_MAX_SYM_ROWS = 1_000_000


def _driver_max_sym_rows(spark) -> int:
    try:
        return int(
            spark.conf.get(
                "spark.neulix.cc.driverMaxEdges", str(_DRIVER_MAX_SYM_ROWS)
            )
        )
    except ValueError:
        return _DRIVER_MAX_SYM_ROWS


def union_find_components(pairs) -> dict:
    """Min-label connected components of an iterable of ``(u, v)``
    pairs via union-find (path compression + size union), on the
    driver. Returns ``{id: component}`` over every endpoint, where
    ``component`` is the minimum member id — the identical fixed point
    the distributed propagation converges to, so the two paths are
    interchangeable by construction (pinned by unit test on random
    graphs). Pure Python: deterministic, no floats, any orderable id
    type."""
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        if u not in parent:
            parent[u] = u
            size[u] = 1
        if v not in parent:
            parent[v] = v
            size[v] = 1
        ru, rv = find(u), find(v)
        if ru == rv:
            continue
        if size[ru] < size[rv]:
            ru, rv = rv, ru
        parent[rv] = ru
        size[ru] += size[rv]

    # min member id per root, then one lookup per node
    mins: dict = {}
    for node in parent:
        r = find(node)
        m = mins.get(r)
        if m is None or node < m:
            mins[r] = node
    return {node: mins[find(node)] for node in parent}


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 10,
    algorithm: str = "propagation",
) -> DataFrame:
    """Resolve an undirected edge list into components.

    Returns ``(id, component)`` where ``component`` is the minimum node
    id reachable from ``id``. If ``propagation`` exhausts ``max_iter``
    rounds (diameter larger than the near-dup expectation — a long
    chain, e.g. a template family), it automatically RETRIES with the
    ``star`` contraction on the same pinned edge list (O(log² d)
    rounds) and logs the switch, so callers don't need to know the
    graph's shape up front; ``star`` exhausting its budget still
    raises (that is ~2^sqrt(max_iter) of chain diameter — a real
    anomaly, not a shape mismatch). The default solves a symmetric edge
    list of at most ``spark.neulix.cc.driverMaxEdges`` rows by
    union-find on the driver; an explicit ``algorithm="star"`` always
    runs the distributed contraction.
    """
    if algorithm not in ("propagation", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # Pin the edge list ONCE before iterating: every round joins sym, and
    # without the checkpoint each round re-executes sym's entire upstream
    # lineage (for the LSH dedup pipeline that is the banded candidate
    # join + exact-Jaccard verify, re-run per round — measured 2.6s ->
    # ~1.4s on the sf0.1 bench when pinned). The algorithm touches every
    # edge every round anyway, so materializing it is the floor cost.
    # (Lazy: the size-gate count below is the materializing action — the
    # eager form paid a dedicated pass before the first round started.)
    sym = sym.localCheckpoint(eager=False)
    if algorithm == "star":  # chosen deliberately: no driver shortcut
        return _star_components(sym, max_iter)
    # Driver fast path (r14, guide §1.2 "choose the right distributed
    # algorithm" + the bounded-driver-rows precedent of ranked_topk):
    # near-dup pair graphs are usually FAR smaller than the corpus that
    # produced them — when the symmetric edge list is provably bounded,
    # one union-find pass on the driver replaces O(log d) shuffle
    # rounds (each a full join + aggregate of the label relation, with
    # a localCheckpoint pin per round). The count doubles as the pin's
    # materializing action; on graphs over the gate it costs one
    # no-shuffle scan of the PINNED rows before the loop starts — noise
    # next to any single propagation round — and the distributed loop
    # proceeds unchanged, so the 100 TB shape is preserved.
    spark = edges.sparkSession
    n_sym = sym.count()
    if n_sym <= _driver_max_sym_rows(spark):
        labels_map = union_find_components(
            (r[0], r[1]) for r in sym.collect()
        )
        # the returned relation is local — nothing references the pin
        # anymore, so release its blocks now instead of waiting for GC
        from neulix_datahub_spark.operators.bpe import _free_checkpoint

        _free_checkpoint(sym)
        from neulix_datahub_spark.functions.ranking import local_relation

        id_type = sym.schema["u"].dataType
        return local_relation(
            spark,
            sorted(labels_map.items()),
            StructType(
                [
                    StructField("id", id_type, True),
                    StructField("component", id_type, True),
                ]
            ),
        )
    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )

    for rnd in range(max_iter):
        # ONE join per round (r13 optimization): each node's new label is
        # min(self ∪ neighbors) — computed by unioning the neighbor-label
        # pairs with the nodes' own (flagged) labels and taking one
        # grouped min, instead of the old two-join form (neighbor groupBy
        # + a second N×N labels join to apply least/coalesce). The self
        # row doubles as the previous label (max over the flagged copy —
        # each id has exactly one), so the convergence count needs no
        # join either. Per-round label function identical: min(self,
        # nbr_min) with no-neighbor nodes covered by the self row.
        updated = (
            sym.join(labels.withColumnRenamed("id", "v"), on="v")
            .select(
                F.col("u").alias("id"), "component",
                F.lit(0).alias("__self"),
            )
            .unionByName(
                labels.select("id", "component", F.lit(1).alias("__self"))
            )
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.max(
                    F.when(F.col("__self") == 1, F.col("component"))
                ).alias("__old"),
            )
        )
        # Pointer jump (r14 optimization): compose the round's min with
        # the PREVIOUS round's label map — component ← prev_label(min).
        # Every label value is an in-component node id with
        # prev_label(id) ≤ id, so the composition stays an in-component
        # id ≥ the true minimum and only ever decreases — the fixed
        # point (all labels = component minimum) is unchanged, but the
        # effective propagation radius now DOUBLES per round instead of
        # growing by one hop: O(log d) rounds instead of O(d) full-data
        # shuffles for a diameter-d graph (the banded fixture measured
        # 7 rounds → 4). Joins the PINNED labels relation (no subtree
        # recompute) and rides the same single materializing pass per
        # round; round 0's label map is the identity, so the jump is
        # skipped there (and would re-evaluate the unpinned seed
        # projection). Convergence stays sound: component == __old for
        # every node forces min == __old too (self is in the min, and
        # the jump can only lower further), i.e. the plain-propagation
        # fixed point the r13 form detected.
        if rnd > 0:
            jump = labels.select(
                F.col("id").alias("__jid"),
                F.col("component").alias("__jc"),
            )
            updated = updated.join(
                jump, updated["component"] == jump["__jid"], "left"
            ).select(
                "id",
                F.coalesce("__jc", F.col("component")).alias("component"),
                "__old",
            )
        # localCheckpoint truncates the growing iterative lineage — without
        # it every round re-executes all prior rounds and the plan
        # explodes exponentially. Lazy + the convergence aggregate as
        # the materializing action: one pass per round does both (the
        # eager form paid a second full pass per round just to count).
        updated = updated.localCheckpoint(eager=False)
        n_changed = (
            updated.agg(
                F.sum((F.col("component") < F.col("__old")).cast("int"))
            ).first()[0]
            or 0
        )
        labels = updated.drop("__old")
        if n_changed == 0:
            return labels
    # propagation budget exhausted: the graph has longer chains than
    # near-dup clusters should — fall back to the contraction whose
    # round count grows with log²(diameter), reusing the pinned edges
    import logging

    logging.getLogger(__name__).warning(
        "connected_components: propagation did not converge in %d rounds "
        "(diameter exceeds the near-dup expectation); retrying with the "
        "large-star/small-star contraction", max_iter,
    )
    return _star_components(sym, max_iter)


def _star_components(sym: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star contraction over a symmetric
    neighbor list ``(u, v)``. Invariant (Kiveris et al.): both
    operations preserve connectivity, never create a new minimum, and
    at the fixed point the edge set is a forest of depth-1 stars rooted
    at each component's minimum — so the labels fall straight out of
    the final edges.

    Each round is two join+agg pairs shuffling on node id, with a lazy
    ``localCheckpoint`` to truncate the iterative lineage (the round's
    fingerprint aggregate is the materializing action — §12 discipline).
    Convergence is detected by an order-independent edge-set fingerprint
    (count + bit-XOR of per-edge xxhash64) — one 2-long-row aggregate
    per round, the same scalar-only driver discipline as propagation.
    """
    all_ids = sym.select(F.col("u").alias("id")).distinct()
    # canonical undirected form: (u, v) with u > v (lazy checkpoint —
    # the fingerprint below materializes it)
    star = (
        sym.filter(F.col("u") > F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _fingerprint(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("x"),
        ).first()
        return int(row["n"]), int(row["x"])

    prev = _fingerprint(star)
    for _ in range(max_iter):
        # large-star: from each node's FULL neighborhood, hang every
        # strictly-larger neighbor off m = min(neighborhood ∪ self)
        both = star.unionByName(
            star.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            both.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("__mn", F.col("u")).alias("m"))
        )
        large = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: on the (big → small) orientation, re-point every
        # smaller neighbor (and the center) at the neighborhood minimum
        small_mins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(small_mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(small_mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # lazy checkpoint: the fingerprint aggregate below is the
        # materializing action (same one-pass-per-round fusion as the
        # propagation loop)
        star = small.localCheckpoint(eager=False)
        cur = _fingerprint(star)
        if cur == prev:
            # fixed point: depth-1 stars; component = star root
            centers = star.groupBy("u").agg(F.min("v").alias("component"))
            return all_ids.join(
                centers.withColumnRenamed("u", "id"), on="id", how="left"
            ).select("id", F.coalesce("component", F.col("id")).alias("component"))
        prev = cur
    raise RuntimeError(
        f"star connected components did not converge in {max_iter} rounds "
        "— that is ~2^sqrt(max_iter) of chain diameter; raise max_iter"
    )


def dedup_by_components(
    df: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """L2 end-to-end pick: keep one row per near-dup cluster (the minimum
    id — each cluster's component label) plus every row that appears in
    no candidate pair."""
    comps = connected_components(candidate_pairs, src, dst)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def canonical_by_components(
    df: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str,
    score,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """L2 end-to-end pick, quality-aware: keep ONE row per near-dup
    cluster — the member with the HIGHEST ``score`` (ties broken by
    minimum id, so the pick is total) — plus every row that appears in
    no candidate pair. ``score`` is any Column computable from ``df``
    (token count, a quality-classifier output, recency, ...).

    This is what production curation actually does with a duplicate
    cluster (CCNet/RefinedWeb keep the best or longest copy, not the
    smallest id); ``dedup_by_components`` stays the deterministic
    min-id form the closure oracles pin.

    Plan shape: components resolve on the (small) pair list; the score
    is evaluated once per CLUSTERED row only (inner join with the label
    frame — unpaired rows never enter the window), the per-component
    argmax is a row_number window partitioned by component (clusters
    are near-dup families, bounded), and the corpus is touched by a
    single left_anti join against the loser ids — the same shape that
    scales in ``dedup_by_components``.
    """
    score_col = F.col(score) if isinstance(score, str) else score
    comps = connected_components(candidate_pairs, src, dst)
    scored = (
        df.select(F.col(id_col).alias("id"), score_col.alias("__score"))
        .join(comps, "id")
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("__score"), F.asc("id")
    )
    losers = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") > 1)
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, on=id_col, how="left_anti")
