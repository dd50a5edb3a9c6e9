"""Plan-shape guards: no UNBOUNDED-GRAIN query may contain a global
(single-partition) window.

``Window.orderBy(...)`` with no ``partitionBy`` funnels every row
through one task — Spark warns "Moving all data to a single partition"
at runtime. That is fine over provably bounded relations (per-day
aggregates, fixed-point value domains, k-row sketches — each such site
carries a ``bounded grain`` comment), and fatal over customer/order/
document grain at the 100 TB design point. The queries below operate on
unbounded grain and were re-spelled onto the two-phase partition-offset
operators (operators/sequence.py with_sorted_rank / with_running_total /
with_ntile); this module pins that property by walking the OPTIMIZED
logical plan for Window nodes with an empty partitionSpec.

Also the correctness units for the two-phase operators themselves:
each must be row-identical to its single-partition global-window
spelling (the semantics), while its plan contains no global Window
(the scalability).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def global_windows(df) -> list[str]:
    """Names of Window nodes with an EMPTY partitionSpec anywhere in the
    optimized logical plan (py4j walk — the partitionSpec length is not
    recoverable from the plan string).

    One sanctioned exemption: the two-phase operators' OFFSET window —
    the prefix sum over per-partition counts/totals, recognizable as a
    global window ordered solely by the ``__pid`` partition label. Its
    input is one row per range partition (bounded by construction, never
    by data volume), which is exactly the shape the two-phase pattern
    exists to produce."""
    hits: list[str] = []

    def _is_pid_offset(node) -> bool:
        spec = node.orderSpec()
        names = []
        for i in range(spec.size()):
            child = spec.apply(i).child()
            # AttributeReference#name; non-attribute order keys disqualify
            try:
                names.append(child.name())
            except Exception:
                return False
        return names != [] and all(n == "__pid" for n in names)

    def walk(node) -> None:
        if node.getClass().getSimpleName() == "Window":
            if node.partitionSpec().size() == 0 and not _is_pid_offset(node):
                hits.append(node.simpleString(100))
        for i in range(node.children().size()):
            walk(node.children().apply(i))
        # subqueries (e.g. scalar subqueries) hang off expressions; the
        # queries guarded here don't use them with windows, so the
        # children walk is sufficient.

    walk(df._jdf.queryExecution().optimizedPlan())
    return hits


# Every query here aggregates/ranks over UNBOUNDED grain (customers,
# orders, documents): a global window in its plan is a 100 TB bug, not
# a style nit. Extend this list when adding queries over such grain.
UNBOUNDED_GRAIN_QUERIES = [
    "abc_classification",
    "gini_revenue_check",
    "rfm_segment_counts",
    "revenue_concentration",
    "positional_alignment",
    "epoch_shuffle_check",
    "key_skew_profile_events",
    "sequential_ids_two_phase",
    "sequential_event_ids",
]


@pytest.mark.parametrize("name", UNBOUNDED_GRAIN_QUERIES)
def test_no_global_window_on_unbounded_grain(spark, name):
    from neulix_datahub_spark.plans.queries import QUERIES

    df = QUERIES[name].fn(spark, SF_DIR)
    assert global_windows(df) == []


def _customers(spark):
    return (
        spark.range(0, 997)
        .select(
            F.col("id").alias("k"),
            # multiply-mod shuffles values; %91 forces duplicate values so
            # tiebreaks and tile boundaries are actually exercised
            ((F.col("id") * 7919) % 91).alias("v"),
        )
    )


def test_with_sorted_rank_matches_global_window(spark):
    from neulix_datahub_spark.operators.sequence import with_sorted_rank

    df = _customers(spark)
    order = [F.desc("v"), F.asc("k")]
    got = with_sorted_rank(df, order, "r", num_partitions=7)
    want = df.withColumn("r", F.row_number().over(Window.orderBy(*order)))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert global_windows(got) == []


def test_with_running_total_matches_global_window(spark):
    from neulix_datahub_spark.operators.sequence import with_running_total

    df = _customers(spark)
    order = [F.asc("v"), F.asc("k")]
    got = with_running_total(df, order, "v", "cum", num_partitions=7)
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("cum", F.sum("v").over(w))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert global_windows(got) == []


@pytest.mark.parametrize("rows", [997, 1000, 3, 5])
def test_with_ntile_matches_global_window(spark, rows):
    """ANSI remainder handling must agree with F.ntile for every
    N-vs-n relationship: N % n != 0, N % n == 0, N < n, N == n."""
    from neulix_datahub_spark.operators.sequence import with_ntile

    df = spark.range(0, rows).select(
        F.col("id").alias("k"), ((F.col("id") * 7919) % 91).alias("v")
    )
    order = [F.asc("v"), F.asc("k")]
    got = with_ntile(df, order, 5, "q", num_partitions=4)
    want = df.withColumn("q", F.ntile(5).over(Window.orderBy(*order)))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert global_windows(got) == []


def test_pack_assign_global_path_matches_window_form(spark):
    """pack_by_token_budget WITHOUT part_col (whole-corpus token tape)
    must equal the single-partition-window spelling row-for-row while
    its plan carries no global Window — the two-phase exclusive cumsum
    (inclusive running total minus own tokens)."""
    from neulix_datahub_spark.operators.packing import pack_by_token_budget

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (((F.col("id") * 7919) % 97) + 1).alias("n_tokens"),
    )
    got = pack_by_token_budget(df, "doc_id", "n_tokens", budget=256)
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn(
        "pack_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("pack_id", F.floor(F.col("pack_offset") / 256))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert global_windows(got) == []


def test_two_phase_with_more_partitions_than_rows(spark):
    """Empty range partitions (num_partitions >> rows) must not shift
    ranks or totals — absent pids contribute nothing to the offsets."""
    from neulix_datahub_spark.operators.sequence import (
        with_running_total,
        with_sorted_rank,
    )

    df = spark.range(0, 7).select(
        F.col("id").alias("k"), (F.col("id") * 3 % 5).alias("v")
    )
    ranked = with_sorted_rank(df, [F.asc("v"), F.asc("k")], "r", num_partitions=50)
    want_r = df.withColumn(
        "r", F.row_number().over(Window.orderBy(F.asc("v"), F.asc("k")))
    )
    assert sorted(map(tuple, ranked.collect())) == sorted(map(tuple, want_r.collect()))

    cum = with_running_total(df, [F.asc("v"), F.asc("k")], "v", "c", num_partitions=50)
    w = Window.orderBy(F.asc("v"), F.asc("k")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    want_c = df.withColumn("c", F.sum("v").over(w))
    assert sorted(map(tuple, cum.collect())) == sorted(map(tuple, want_c.collect()))


def test_r9_new_queries_broadcast_their_small_sides(spark):
    """Round-9 plan pins: temperature_mixture_stats' quota relation
    (#strata rows) must reach the corpus through a broadcast hash join
    (a shuffled join on the strata key would exchange the whole corpus
    to meet a 5-row table), and bloom_decontamination_stats' bitmap
    (ONE row) must meet the probe side via a broadcast nested-loop —
    never a shuffle."""
    from neulix_datahub_spark.plans.queries import QUERIES

    tm = QUERIES["temperature_mixture_stats"].fn(spark, SF_DIR)
    plan_tm = tm._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_tm, plan_tm[:2000]

    bd = QUERIES["bloom_decontamination_stats"].fn(spark, SF_DIR)
    plan_bd = bd._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan_bd, plan_bd[:2000]
    # and no global window anywhere in either
    assert global_windows(tm) == []
    assert global_windows(bd) == []


def test_r10_bpe_query_plan_shapes(spark):
    """Round-10 plan pins: (a) bpe_tokenize_stats' re-planned engine
    joins the corpus's exploded words to the per-DISTINCT-word token
    table — the folds must appear under an Aggregate-fed side, never
    per corpus row, and the plan has no cartesian product and no global
    window; (b) bpe_batched_tokenize_stats segments through ONE
    Arrow-batched mapInPandas node (the merge-count-independent apply
    tier) — no chained fold expressions over documents."""
    from neulix_datahub_spark.plans.queries import QUERIES

    tk = QUERIES["bpe_tokenize_stats"].fn(spark, SF_DIR)
    plan_tk = tk._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in plan_tk
    assert global_windows(tk) == []

    # the fold chain (aggregate lambdas over split symbols) must run on
    # the DISTINCT-word relation. In the optimized plan the folds
    # collapse INTO the word-grouped Aggregate's output expressions —
    # computed once per distinct word; a fold appearing in any
    # non-Aggregate node (Project/Generate over the corpus Relation)
    # would be the 10.5s-per-bench per-document regression this test
    # exists to block.
    def _fold_sites(df) -> list[tuple[str, str]]:
        out = []

        def walk(node):
            s = node.simpleString(1 << 20)
            if "aggregate(filter(split(" in s:
                out.append((node.getClass().getSimpleName(), s[:160]))
            for i in range(node.children().size()):
                walk(node.children().apply(i))

        walk(df._jdf.queryExecution().optimizedPlan())
        return out

    sites = _fold_sites(tk)
    assert sites, "expected the token-count folds in the plan"
    assert all(kind == "Aggregate" for kind, _ in sites), sites

    bt = QUERIES["bpe_batched_tokenize_stats"].fn(spark, SF_DIR)
    plan_bt = bt._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" in plan_bt, plan_bt[:2000]
    # no expression-fold segmentation of documents in the vectorized tier
    assert "aggregate(filter(split(" not in plan_bt
    assert global_windows(bt) == []


def test_r11_incremental_dedup_ingest_join_shapes(spark, tmp_path):
    """Round-11 plan pins: the incremental ingest's candidate join —
    delta bands against the PERSISTED bands parquet — must resolve as
    a broadcast hash join (at scale AQE broadcasts the delta side; the
    100 TB band scan never shuffles), with no cartesian product and no
    global window anywhere in the candidate plan; and the shingle side
    must reach the verify as a plain parquet scan (column-pruned,
    never exchanged on a non-key)."""
    from pyspark.sql import functions as F

    from neulix_datahub_spark.operators.dedupe_index import (
        _features,
        build_dedup_index,
        read_dedup_meta,
    )
    from neulix_datahub_spark.sources.fragstore import open_index

    docs = [(i, f"doc number {i} with shared vocabulary words") for i in range(40)]
    p = str(tmp_path / "idx")
    build_dedup_index(spark.createDataFrame(docs, ["doc_id", "text"]), p)
    meta = read_dedup_meta(p)
    delta = spark.createDataFrame(
        [(100 + i, f"delta document {i} fresh words") for i in range(4)],
        ["doc_id", "text"],
    )
    nb, _ = _features(delta, "text", "doc_id", meta)
    prior_bands = open_index(p, "dedup").read(spark, "bands")
    cross = (
        nb.alias("d")
        .join(prior_bands.alias("p"), ["band", "band_hash"])
        .select(
            F.least(F.col("d.id"), F.col("p.id")).alias("id_a"),
            F.greatest(F.col("d.id"), F.col("p.id")).alias("id_b"),
        )
        .distinct()
    )
    plan = cross._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert global_windows(cross) == []


def test_r11_banded_semantic_ingest_join_shape(spark, tmp_path):
    """The banded SEMANTIC ingest must keep the same 100 TB candidate
    shape as the text index: delta bands against the persisted bands
    parquet is a broadcast equi-join (the at-rest band scan never
    shuffles), no cartesian product — the whole point of
    candidates=\"banded\" over the brute-force delta × corpus cross."""
    from pyspark.sql import functions as F

    from neulix_datahub_spark.operators.semantic_index import (
        _bands_of,
        _vectors,
        build_semantic_index,
        read_semantic_meta,
    )

    rows = [(i, [float(i % 7), float(i % 3), 1.0], f"text {i} words") for i in range(40)]
    emb = spark.createDataFrame(
        [(i, v) for i, v, _ in rows], "vec_id long, embedding array<double>"
    )
    docs = spark.createDataFrame(
        [(i, t) for i, _, t in rows], "doc_id long, text string"
    )
    p = str(tmp_path / "sidx")
    build_semantic_index(emb, docs, p, candidates="banded",
                         num_planes=16, bands=8)
    meta = read_semantic_meta(p)
    delta = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    nbands = _bands_of(_vectors(delta, "vec_id", "embedding"), meta)
    from neulix_datahub_spark.sources.fragstore import open_index

    prior_bands = open_index(p, "semantic").read(spark, "bands")
    cross = (
        nbands.alias("d")
        .join(prior_bands.alias("p"), ["band", "band_hash"])
        .select(
            F.least(F.col("d.id"), F.col("p.id")).alias("id_a"),
            F.greatest(F.col("d.id"), F.col("p.id")).alias("id_b"),
        )
        .distinct()
    )
    plan = cross._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert global_windows(cross) == []


def test_r11_passage_and_canonical_plan_shapes(spark):
    """Round-11 plan pins for the exact-substring tier: (a)
    passage_scrub_stats — no cartesian product, every Window
    partitioned (by doc_id — the interval-union windows must never go
    global), and no token explode on the scrub side (the only Generate
    nodes are the gram explodes; the rewrite itself is a per-row array
    expression); (b) canonical_dedup_stats — the argmax window is
    partitioned by component, no cartesian product."""
    from neulix_datahub_spark.plans.queries import QUERIES

    ps = QUERIES["passage_scrub_stats"].fn(spark, SF_DIR)
    plan_ps = ps._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in plan_ps
    assert global_windows(ps) == []
    # the scrub must not posexplode the token stream for reassembly:
    # exactly the gram-side Generate nodes, whose generator is the
    # positioned-gram posexplode (coalesce over regexp_extract_all)
    def _generators(df) -> list[str]:
        out = []

        def walk(node):
            if node.getClass().getSimpleName() == "Generate":
                out.append(node.simpleString(200))
            for i in range(node.children().size()):
                walk(node.children().apply(i))

        walk(df._jdf.queryExecution().optimizedPlan())
        return out

    gens = _generators(ps)
    assert gens, "expected the gram explode in the plan"
    assert all("regexp_extract_all" in g for g in gens), gens

    cd = QUERIES["canonical_dedup_stats"].fn(spark, SF_DIR)
    plan_cd = cd._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in plan_cd
    assert global_windows(cd) == []

    # (c) the span-grain decontamination twin: same invariants, and the
    # needle side must reach the hits join as a LeftSemi (the corpus is
    # filtered, never multiplied, by benchmark grams)
    cs = QUERIES["contamination_scrub_stats"].fn(spark, SF_DIR)
    plan_cs = cs._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in plan_cs
    assert "LeftSemi" in plan_cs
    assert global_windows(cs) == []
    gens_cs = _generators(cs)
    assert gens_cs and all("regexp_extract_all" in g for g in gens_cs), gens_cs
