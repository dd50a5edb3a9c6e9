"""Operator semantics that the SQL oracle can't pin well (SURVEY §5.2
items 3–5): upsert idempotence, dedupe-append never duplicates, sequence
continuity, profile parity vs reference-shaped pandas, synth constraints."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from neulix_datahub_spark.operators.dedupe import (
    dedupe_append,
    exact_dedup,
    ngram_jaccard_pairs,
)
from neulix_datahub_spark.operators.similarity import (
    cosine_top_k,
    embedding_near_duplicates,
    ivf_top_k,
)
from neulix_datahub_spark.sources.io import update_parquet_table
from neulix_datahub_spark.operators.profile import profile_table
from neulix_datahub_spark.operators.sequence import continue_sequence, with_sequential_id
from neulix_datahub_spark.operators.synth import generate_synthetic_data
from neulix_datahub_spark.operators.upsert import upsert
from tests.conftest import SF_DIR


# --- upsert (J2, B4 fixture semantics) --------------------------------------

def _pair(spark):
    target = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "id long, payload string, v int"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 2), (2, "b3", 3), (4, "d", 1)], "id long, payload string, v int"
    )
    return target, updates


def test_upsert_semantics(spark):
    target, updates = _pair(spark)
    got = {r.id: r.payload for r in upsert(target, updates, "id", tiebreak="v").collect()}
    # overlap overwritten (max-v wins), new inserted, untouched kept
    assert got == {1: "a", 2: "b3", 3: "c", 4: "d"}


def test_upsert_idempotent(spark):
    target, updates = _pair(spark)
    once = upsert(target, updates, "id", tiebreak="v")
    twice = upsert(once, updates, "id", tiebreak="v")
    assert sorted(once.collect()) == sorted(twice.collect())


# --- dedupe-append (J1) ------------------------------------------------------

def test_dedupe_append_never_duplicates(spark):
    existing = spark.createDataFrame(
        [("1",), ("2",), ("",), (None,), (" 3 ",)], "id string"
    )
    incoming = spark.createDataFrame(
        [("1", "x"), ("4", "y"), ("", "z"), ("5", "w")], "id string, val string"
    )
    out = dedupe_append(existing, incoming, "id")
    ids = sorted(r.id for r in out.collect())
    # '1' filtered (exists); ''/None in existing are skipped, so '' passes
    assert ids == ["", "4", "5"]


# --- sequences (W1) ----------------------------------------------------------

def test_sequential_ids_contiguous_scalable_path(spark):
    df = spark.range(0, 1000).repartition(7)
    out = with_sequential_id(df, "seq", start=100)
    seqs = sorted(r.seq for r in out.collect())
    assert seqs == list(range(100, 1100))


def test_continue_sequence_from_max(spark):
    existing = spark.createDataFrame([(10,), (99,)], "id long")
    new = spark.range(0, 5).select(F.lit(None).cast("long").alias("id"))
    out = continue_sequence(new, existing, "id")
    assert sorted(r.id for r in out.collect()) == [100, 101, 102, 103, 104]


# --- profile (A6) vs reference-shaped pandas (SURVEY §5.2 item 5) -------------

def test_profile_matches_pandas_reference(spark):
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    got = {r["column"]: r for r in profile_table(df, columns=["o_orderstatus", "o_custkey"]).collect()}

    pdf = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    for col in ["o_orderstatus", "o_custkey"]:
        ser = pdf[col]
        r = got[col]
        assert r.n_rows == len(ser)
        assert r.null_count == int(ser.isna().sum())
        assert r.unique_count == ser.nunique(dropna=True)
        # top-10 matches value_counts with stringify (data_core.py:253-262)
        vc = ser.astype(str).value_counts()
        top_spark = {t.value: t["count"] for t in r.top_10}
        for val, cnt in top_spark.items():
            assert vc[val] == cnt
        assert r.top_10[0]["count"] == vc.iloc[0]


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, "different")], "doc_id long, text string"
    )
    out = exact_dedup(df, "text", "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]


# --- near-dup pairs (L2) ------------------------------------------------------

def test_ngram_jaccard_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox", "en"),
            (2, "the  QUICK brown fox ", "en"),  # same after normalization
            (3, "completely different words here", "en"),
            (4, "the quick brown fox", "de"),  # same text, other block
        ],
        "doc_id long, text string, lang string",
    )
    out = ngram_jaccard_pairs(df, "text", "doc_id", n=2, threshold=0.0, block_col="lang")
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert got[(1, 2)] == 1.0  # normalization makes them identical
    assert got[(1, 3)] == 0.0  # no shared bigrams
    assert (1, 4) not in got  # blocked by lang


def _skewed_docs(spark):
    """One pathologically hot block (60 'en' docs with heavy shared
    bigrams) plus two small blocks — the shape that quadratic-bombs an
    unbounded block join at scale."""
    rows = []
    for i in range(60):
        rows.append((i, f"common words shared by many docs variant {i % 7}", "en"))
    for i in range(60, 64):
        rows.append((i, f"petit texte numero {i}", "fr"))
    rows.append((64, "einzelnes dokument", "de"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_ngram_jaccard_bounded_blocks_identical_output(spark):
    df = _skewed_docs(spark)
    unbounded = ngram_jaccard_pairs(df, "text", "doc_id", n=2, threshold=0.0,
                                    block_col="lang")
    # caps: many tiny chunks (3 -> m=20 on the hot block), mid, one-chunk
    for cap in (3, 7, 16, 100):
        bounded = ngram_jaccard_pairs(df, "text", "doc_id", n=2, threshold=0.0,
                                      block_col="lang", max_block=cap)
        a = sorted((r.id_a, r.id_b, r.jaccard) for r in unbounded.collect())
        b = sorted((r.id_a, r.id_b, r.jaccard) for r in bounded.collect())
        assert a == b, f"cap={cap}"


def test_ngram_jaccard_max_block_requires_block_col(spark):
    import pytest

    df = _skewed_docs(spark)
    with pytest.raises(ValueError):
        ngram_jaccard_pairs(df, "text", "doc_id", max_block=8)


def test_with_pair_tasks_bounds_and_coverage(spark):
    """Chunk occupancy ≤ cap, every block has exactly m(m+1)/2 distinct
    tasks, each row fans out to exactly m tasks, and each unordered pair
    co-occurs in exactly ONE task under the diagonal-claims-same-chunk
    rule — the no-dup/no-loss invariant the join residual relies on."""
    from neulix_datahub_spark.operators.skew import with_pair_tasks

    df = _skewed_docs(spark).select("doc_id", "lang")
    cap = 7
    out = with_pair_tasks(df, ["lang"], cap, "doc_id").collect()
    import math
    from collections import defaultdict

    by_block_chunk = defaultdict(set)
    row_tasks = defaultdict(set)
    chunk_of = {}
    for r in out:
        by_block_chunk[(r.lang, r["__chunk"])].add(r.doc_id)
        row_tasks[r.doc_id].add((r["__task_i"], r["__task_j"]))
        chunk_of[r.doc_id] = (r.lang, r["__chunk"])
    for (_, _), ids in by_block_chunk.items():
        assert len(ids) <= cap
    n_per_block = defaultdict(set)
    for r in out:
        n_per_block[r.lang].add(r.doc_id)
    for lang, ids in n_per_block.items():
        m = math.ceil(len(ids) / cap)
        tasks = {(r["__task_i"], r["__task_j"]) for r in out if r.lang == lang}
        assert len(tasks) == m * (m + 1) // 2
        for i in ids:
            assert len(row_tasks[i]) == m
    # pair co-occurrence: exactly one shared task per unordered pair
    # after the residual rule (diff-chunk anywhere, same-chunk diagonal)
    task_members = defaultdict(list)
    for r in out:
        task_members[(r.lang, r["__task_i"], r["__task_j"])].append(r.doc_id)
    seen = defaultdict(int)
    for (lang, ti, tj), members in task_members.items():
        for x in members:
            for y in members:
                if x < y and (chunk_of[x] != chunk_of[y] or ti == tj):
                    seen[(x, y)] += 1
    for lang, ids in n_per_block.items():
        ids = sorted(ids)
        for i, x in enumerate(ids):
            for y in ids[i + 1:]:
                assert seen[(x, y)] == 1, (x, y, seen[(x, y)])


def test_fuzzy_self_pairs_bounded_identical_output(spark):
    from neulix_datahub_spark.operators.fuzzy import fuzzy_self_pairs

    rows = [(f"alpha name{i:02d}",) for i in range(40)] + [
        ("beta one",), ("beta obe",), ("gamma x",)
    ]
    df = spark.createDataFrame(rows, "name string")
    unbounded = sorted(
        (r.name_a, r.name_b, r.dist)
        for r in fuzzy_self_pairs(df, "name", max_dist=2).collect()
    )
    for cap in (6, 40):
        bounded = sorted(
            (r.name_a, r.name_b, r.dist)
            for r in fuzzy_self_pairs(df, "name", max_dist=2, max_block=cap).collect()
        )
        assert bounded == unbounded, f"cap={cap}"
    assert any(a == "beta obe" and b == "beta one" for a, b, _ in unbounded)


def test_embedding_near_duplicates_pairs(spark):
    """Probes pair with the WHOLE corpus regardless of id order: vector
    5 is a near-duplicate of probe 20 and must be found even though its
    id is smaller (the old `id_a < id_b`-only join made a max-id probe
    always come back empty); probe↔probe pairs appear once, in
    canonical order."""
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.001]),  # ~identical direction to probe 0
            (2, [0.0, 1.0]),  # orthogonal to 0
            (5, [-1.0, 0.0005]),  # ~identical to probe 20, SMALLER id
            (20, [-1.0, 0.0]),  # opposite of 0
        ],
        "vec_id long, embedding array<double>",
    )
    out = embedding_near_duplicates(
        df, threshold=0.9, probe_filter=F.col("vec_id") % 20 == 0
    )
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {(0, 1), (20, 5)}


def test_ivf_top_k_overlaps_brute_force(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in cosine_top_k(corpus, qvec, k=10).collect()]
    approx = ivf_top_k(corpus, qvec, k=10, num_buckets=16, hamming_probe=2)
    got = [r.vec_id for r in approx.collect()]
    # approximate: ordered by score, nonempty, and overlapping the exact set
    assert len(got) == 10
    assert len(set(got) & set(exact)) >= 3
    # determinism
    again = [r.vec_id for r in ivf_top_k(corpus, qvec, k=10, num_buckets=16,
                                         hamming_probe=2).collect()]
    assert got == again


def test_ivf_multi_probe_full_budget_is_exact(spark):
    """n_probes = num_buckets probes every bucket, so multi-probe must
    reproduce the brute-force top-10 exactly (ids AND order)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in cosine_top_k(corpus, qvec, k=10).collect()]
    full = [
        r.vec_id
        for r in ivf_top_k(corpus, qvec, k=10, num_buckets=16, n_probes=16).collect()
    ]
    assert full == exact


def test_ivf_multi_probe_budget_monotone(spark):
    """A larger probe budget scans a superset of buckets, so overlap with
    the exact top-10 can only grow; the n_probes=1 result is drawn from
    the query's own bucket and deterministic."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = {r.vec_id for r in cosine_top_k(corpus, qvec, k=10).collect()}
    overlaps = []
    for n_probes in (1, 5, 11, 16):
        got = {
            r.vec_id
            for r in ivf_top_k(
                corpus, qvec, k=10, num_buckets=16, n_probes=n_probes
            ).collect()
        }
        overlaps.append(len(got & exact))
    assert overlaps == sorted(overlaps)
    assert overlaps[-1] == 10


def test_ivf_batch_full_coverage_equals_brute_force(spark):
    """With num_buckets=2 and n_probes=2 every probe's candidate set is
    the whole corpus, so the batched IVF join must reproduce the
    brute-force per-probe top-k exactly."""
    from neulix_datahub_spark.operators.similarity import (
        cosine_self_join_top_k,
        ivf_batch_top_k,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probe_ids = [0, 7, 21]
    probes = emb.filter(F.col("vec_id").isin(probe_ids))
    got = {
        (r.probe_id, r.neighbor_id)
        for r in ivf_batch_top_k(
            emb, probes, k=5, num_buckets=2, n_probes=2
        ).collect()
    }
    want = {
        (r.probe_id, r.neighbor_id)
        for r in cosine_self_join_top_k(emb, probe_ids, k=5).collect()
    }
    assert got == want


def test_ivf_batch_recovers_planted_neighbors(spark):
    """Each probe gets 3 planted near-copies (tiny per-dim shift); the
    margin-ranked single-flip probe must recover them all — they can
    only leave the probe's bucket across a low-margin plane."""
    from neulix_datahub_spark.operators.similarity import ivf_batch_top_k

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probe_ids = [0, 7, 21]
    probes = emb.filter(F.col("vec_id").isin(probe_ids))
    planted = probes.crossJoin(spark.range(1, 4)).select(
        (F.col("vec_id") * 100 + F.col("id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") + F.col("id").cast("double") * 0.002
        ).alias("embedding"),
        F.lit(0).alias("label"),
    )
    corpus = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        "label",
    ).unionByName(planted)
    out = ivf_batch_top_k(corpus, probes, k=3, num_buckets=16, n_probes=5)
    got = {(r.probe_id, r.neighbor_id) for r in out.collect()}
    want = {
        (p, p * 100 + i + 1_000_000) for p in probe_ids for i in (1, 2, 3)
    }
    assert got == want


def test_ivf_batch_n_probes_validation(spark):
    import pytest

    from neulix_datahub_spark.operators.similarity import ivf_batch_top_k

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="n_probes"):
        ivf_batch_top_k(emb, emb.limit(1), num_buckets=16, n_probes=9)


# --- skew tools ---------------------------------------------------------------

def test_salted_join_equals_plain_join(spark):
    left = spark.createDataFrame(
        [(i % 3, i) for i in range(300)], "k long, v long"  # key 0/1/2 hot
    )
    right = spark.createDataFrame([(0, "a"), (1, "b"), (9, "z")], "k long, name string")
    from neulix_datahub_spark.operators.skew import salted_aggregate, salted_join

    plain = {(r.k, r.v, r.name) for r in left.join(right, on=["k"]).collect()}
    salted = {(r.k, r.v, r.name) for r in salted_join(left, right, on=["k"], salt=4).collect()}
    assert salted == plain

    agg = salted_aggregate(
        left, ["k"],
        {"n": (F.count(F.lit(1)), "sum"), "vmax": (F.max("v"), "max")},
        salt=4,
    )
    got = {(r.k, r.n, r.vmax) for r in agg.collect()}
    expect = {
        (r.k, r.n, r.vmax)
        for r in left.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.max("v").alias("vmax"))
        .collect()
    }
    assert got == expect


def test_salted_aggregate_skewed_parity_and_guard(spark):
    """One key holding 90% of rows (the shape salting exists for): the
    salted two-phase result must equal the plain groupBy for every
    decomposable merge, and a non-decomposable merge ('avg') must be
    rejected loudly instead of silently averaging partials."""
    import pytest

    from neulix_datahub_spark.operators.skew import salted_aggregate

    rows = [(0, i) for i in range(900)] + [(k, k * 10) for k in range(1, 101)]
    df = spark.createDataFrame(rows, "k long, v long")
    salted = salted_aggregate(
        df, ["k"],
        {
            "n": (F.count(F.lit(1)), "sum"),
            "vsum": (F.sum("v"), "sum"),
            "vmin": (F.min("v"), "min"),
            "vmax": (F.max("v"), "max"),
        },
        salt=8,
    )
    got = {(r.k, r.n, r.vsum, r.vmin, r.vmax) for r in salted.collect()}
    expect = {
        (r.k, r.n, r.vsum, r.vmin, r.vmax)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("vsum"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
        .collect()
    }
    assert got == expect
    with pytest.raises(ValueError, match="non-decomposable"):
        salted_aggregate(df, ["k"], {"vavg": (F.avg("v"), "avg")})


# --- IO9 UPDATE rewrite -------------------------------------------------------

def test_update_parquet_table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)], "id long, k string, v double"
    ).write.parquet(path)
    n = update_parquet_table(
        spark, path, {"v": F.col("v") * 2}, where=F.col("k") == "a"
    )
    assert n == 2
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 20.0, 2: 20.0, 3: 60.0}


# --- synth (U1, B6 shape assertions — never value-hash) -----------------------

def test_synth_constraints(spark):
    orig = spark.createDataFrame(
        [(i, f"name{i}", float(i) * 1.5, f"frozen{i}") for i in range(20)],
        "id long, name string, amount double, immutable string",
    )
    out = generate_synthetic_data(
        orig, num_rows=35, mutable_columns=["name", "amount"], id_column="id"
    )
    rows = out.collect()
    assert len(rows) == 35
    assert out.columns == ["id", "name", "amount", "immutable"]
    # W1: ids continue from max(id)+1, gap-free
    assert sorted(r.id for r in rows) == list(range(20, 55))
    # J3: immutable values come from the original pool
    assert {r.immutable for r in rows} <= {f"frozen{i}" for i in range(20)}
    # mutable values drawn from the fitted marginals (bootstrap fallback)
    assert {r.name for r in rows} <= {f"name{i}" for i in range(20)}


def test_bootstrap_sampler_matches_fit_moments():
    """Distribution fidelity of the CTGAN fallback, measured: per-column
    mean/std of a large bootstrap sample must sit within a few standard
    errors of the fit sample's own moments, and categorical frequencies
    within a few points — the sampler must actually reproduce the
    marginals it claims to preserve, not just type-check."""
    import numpy as np

    from neulix_datahub_spark.operators.synth import _bootstrap_sampler

    rng = np.random.default_rng(7)
    train = pd.DataFrame(
        {
            "amount": rng.normal(100.0, 15.0, size=2_000),
            "qty": rng.integers(1, 50, size=2_000).astype(float),
            "seg": rng.choice(["A", "B", "C"], p=[0.6, 0.3, 0.1], size=2_000),
        }
    )
    sample = _bootstrap_sampler(train, seed=42)(20_000, shard=0)
    assert len(sample) == 20_000
    for c in ("amount", "qty"):
        se = train[c].std() / (20_000**0.5)
        assert abs(sample[c].mean() - train[c].mean()) < 5 * se, c
        assert abs(sample[c].std() - train[c].std()) < 0.05 * train[c].std(), c
    train_freq = train["seg"].value_counts(normalize=True)
    samp_freq = sample["seg"].value_counts(normalize=True)
    for k in train_freq.index:
        assert abs(samp_freq.get(k, 0.0) - train_freq[k]) < 0.03, k
    # determinism: same (seed, shard) -> identical draw
    again = _bootstrap_sampler(train, seed=42)(20_000, shard=0)
    assert sample.equals(again)


def test_synth_plan_stays_distributed(spark):
    """The J3 positional alignment must use the two-phase partition-
    offset numbering, NOT an unpartitioned row_number window: with the
    naive plan the entire synthetic frame serializes through ONE task
    and the output collapses to a single partition — at 100 TB that one
    task is the job. Generate across multiple shards with no immutable
    columns (no join to re-shuffle afterwards) and assert the shard
    parallelism survives to the output."""
    orig = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id long, amount double"
    )
    # AQE legitimately coalesces a 200-row shuffle to one partition at
    # test scale — switch it off so the partitioning the PLAN prescribes
    # (what a 100 TB run would see) is observable.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = generate_synthetic_data(
            orig, num_rows=200, mutable_columns=["amount"], id_column="id"
        )
        assert out.rdd.getNumPartitions() > 1
        rows = out.collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(rows) == 200
    assert sorted(r.id for r in rows) == list(range(50, 250))  # still gap-free


# --- HLL sketch tolerance (A3 scale path) -------------------------------------

def test_hll_estimate_within_tolerance(spark):
    from neulix_datahub_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    approx = {
        r.event_type: r.approx_users
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"))
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(2, 0.05 * n), (t, approx[t], n)


# --- as-of join (custom time-series operator) ---------------------------------

def test_asof_join_semantics(spark):
    from neulix_datahub_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "early"), (2, 10, "other")],
        "k long, ts long, val string",
    )
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 10, 200.0), (1, 15, 300.0), (2, 99, 400.0)],
        "k long, ts long, price double",
    )
    out = {
        (r.k, r.ts): r.price
        for r in asof_join(left, right, on="ts", by="k").collect()
    }
    assert out[(1, 5)] is None      # nothing at or before ts=5
    assert out[(1, 10)] == 200.0    # tie: simultaneous right row visible
    assert out[(1, 20)] == 300.0    # latest <= 20 is 15
    assert out[(2, 10)] is None     # right row is in the future


def test_asof_join_suffixes_collisions(spark):
    from neulix_datahub_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, "L")], "k long, ts long, val string")
    right = spark.createDataFrame([(1, 5, "R")], "k long, ts long, val string")
    out = asof_join(left, right, on="ts", by="k").first()
    assert out.val == "L" and out.val_right == "R"


def test_range_join_binned_equals_naive(spark):
    from neulix_datahub_spark.operators.asof import range_join

    left = spark.createDataFrame(
        [(k, t) for k in (1, 2) for t in range(0, 100, 5)], "k long, pt long"
    )
    right = spark.createDataFrame(
        [(1, 0, 10, "a"), (1, 10, 40, "b"), (1, 95, 200, "c"), (2, 5, 8, "d")],
        "k long, lo long, hi long, tag string",
    )
    naive = {
        (r.k, r.pt, r.tag)
        for r in range_join(left, right, "pt", "lo", "hi", by="k").collect()
    }
    binned = {
        (r.k, r.pt, r.tag)
        for r in range_join(left, right, "pt", "lo", "hi", by="k", bin_width=16).collect()
    }
    assert binned == naive
    assert (1, 5, "a") in naive and (2, 5, "d") in naive
    assert (1, 10, "a") not in naive  # end-exclusive
    assert (1, 10, "b") in naive


# --- connected components (L2 cluster resolution) -----------------------------

def test_connected_components_resolves_clusters(spark):
    from neulix_datahub_spark.operators.components import (
        connected_components,
        dedup_by_components,
    )

    # two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], "id_a long, id_b long"
    )
    comps = {r.id: r.component for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in (1, 2, 3, 4, 10, 11, 20, 21, 99)],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in dedup_by_components(docs, edges, "doc_id").collect()
    )
    assert kept == [1, 10, 20, 99]  # one winner per cluster + untouched doc


# --- pack_by_token_budget (concat-and-chunk packing) -------------------------

def test_pack_by_token_budget_boundaries(spark):
    from neulix_datahub_spark.operators.packing import pack_by_token_budget

    df = spark.createDataFrame(
        [(1, "a", 600), (2, "a", 600), (3, "a", 600), (4, "a", 600), (5, "b", 2500)],
        "doc_id long, lang string, n_tokens long",
    )
    out = pack_by_token_budget(df, "doc_id", "n_tokens", budget=1000, part_col="lang")
    rows = {r.doc_id: (r.pack_offset, r.pack_id) for r in out.collect()}
    # tape a: starts 0, 600, 1200, 1800 -> packs 0, 0, 1, 1
    assert rows[1] == (0, 0)
    assert rows[2] == (600, 0)
    assert rows[3] == (1200, 1)
    assert rows[4] == (1800, 1)
    # oversized doc in its own partition starts at 0 (spans packs downstream)
    assert rows[5] == (0, 0)


def test_chunk_by_tokens_boundaries_and_overlap(spark):
    from neulix_datahub_spark.operators.packing import chunk_by_tokens

    toks = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [(1, toks), (2, "a b c"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    out = chunk_by_tokens(df, "text", "doc_id", chunk_size=4, overlap=1)
    rows = sorted(
        (r.doc_id, r.chunk_id, r.chunk_text, r.n_chunk_tokens) for r in out.collect()
    )
    # doc 1: stride 3, windows [0:4) [3:7) [6:10) -> 3 chunks
    doc1 = [r for r in rows if r[0] == 1]
    assert [r[2] for r in doc1] == ["t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9"]
    assert [r[3] for r in doc1] == [4, 4, 4]
    # consecutive chunks share exactly `overlap` tokens
    assert doc1[0][2].split()[-1:] == doc1[1][2].split()[:1]
    # short doc: one partial chunk; empty/whitespace docs: one empty chunk
    assert [(r[1], r[2], r[3]) for r in rows if r[0] == 2] == [(0, "a b c", 3)]
    assert [(r[2], r[3]) for r in rows if r[0] == 3] == [("", 0)]
    assert [(r[2], r[3]) for r in rows if r[0] == 4] == [("", 0)]


def test_chunk_by_tokens_lossless_reconstruction(spark):
    """Dropping each chunk's leading `overlap` tokens (except chunk 0)
    and concatenating in chunk order must rebuild every document's
    exact token sequence — no token lost or duplicated, for lengths
    around every boundary (n % stride in all phases)."""
    from neulix_datahub_spark.operators.packing import chunk_by_tokens

    docs = [(n, " ".join(f"w{i}" for i in range(n))) for n in range(0, 24)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = chunk_by_tokens(df, "text", "doc_id", chunk_size=5, overlap=2).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_id)):
        by_doc.setdefault(r.doc_id, []).append(r)
    for n, text in docs:
        rebuilt: list[str] = []
        for r in by_doc[n]:
            toks = r.chunk_text.split() if r.chunk_text else []
            rebuilt.extend(toks if r.chunk_id == 0 else toks[2:])
        assert rebuilt == text.split(), (n, rebuilt)


def test_chunk_by_tokens_overlap_validation(spark):
    import pytest

    from neulix_datahub_spark.operators.packing import chunk_by_tokens

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_by_tokens(df, "text", "doc_id", chunk_size=4, overlap=4)


def test_embedding_centroids_and_distances(spark):
    from neulix_datahub_spark.operators.similarity import (
        centroid_distances,
        centroid_vectors,
        embedding_centroids,
    )

    df = spark.createDataFrame(
        [
            (1, "a", [0.0, 0.0]),
            (2, "a", [2.0, 4.0]),
            (3, "b", [10.0, 10.0]),
        ],
        ["vec_id", "label", "embedding"],
    )
    cents = {
        (r["label"], r["dim"]): r["centroid"]
        for r in embedding_centroids(df, "label").collect()
    }
    assert cents == {("a", 0): 1.0, ("a", 1): 2.0, ("b", 0): 10.0, ("b", 1): 10.0}
    vecs = {
        r["label"]: r["centroid_vec"]
        for r in centroid_vectors(embedding_centroids(df, "label"), "label").collect()
    }
    assert vecs == {"a": [1.0, 2.0], "b": [10.0, 10.0]}
    dists = {
        r["vec_id"]: r["centroid_dist"]
        for r in centroid_distances(df, "label").collect()
    }
    assert abs(dists[1] - 5**0.5) < 1e-9  # (1,2) away from origin point
    assert abs(dists[2] - 5**0.5) < 1e-9
    assert dists[3] == 0.0  # singleton stratum sits on its centroid


def test_int8_quantization_roundtrip_bound(spark):
    from neulix_datahub_spark.operators.similarity import (
        dim_min_max,
        quantize_embeddings_int8,
    )

    df = spark.createDataFrame(
        [
            (1, [0.0, 5.0, 7.0]),
            (2, [1.0, -5.0, 7.0]),   # dim 2 is degenerate (constant)
            (3, [0.5, 0.0, 7.0]),
        ],
        ["vec_id", "embedding"],
    )
    calib = dim_min_max(df)
    cal = {r["dim"]: (r["vmin"], r["vmax"]) for r in calib.collect()}
    assert cal == {0: (0.0, 1.0), 1: (-5.0, 5.0), 2: (7.0, 7.0)}
    rows = {
        r["vec_id"]: r["embedding_q"]
        for r in quantize_embeddings_int8(df, calib).collect()
    }
    # endpoints hit the int8 extremes; degenerate dim quantizes to 0
    assert rows[1] == [-128, 127, 0]
    assert rows[2] == [127, -128, 0]
    assert rows[3][2] == 0
    # round-trip error bounded by half a step on every non-degenerate dim
    for vid, (vec, q) in {1: ([0.0, 5.0], rows[1][:2]),
                          2: ([1.0, -5.0], rows[2][:2]),
                          3: ([0.5, 0.0], rows[3][:2])}.items():
        for d, (v, qv) in enumerate(zip(vec, q)):
            lo, hi = cal[d]
            recon = (qv + 128) / 255.0 * (hi - lo) + lo
            assert abs(recon - v) <= (hi - lo) / 255.0 / 2 + 1e-12


def test_kmeans_lloyd_recovers_separable_clusters(spark):
    from neulix_datahub_spark.operators.clustering import (
        kmeans_inertia,
        kmeans_lloyd,
    )

    # three tight, well-separated blobs in 2D. Ids are chosen so the
    # deterministic md5-ordered seed draw spans all three blobs (ids
    # 5-9/15-19/25-29 → seeds 29, 7, 18): Lloyd recovers separable
    # clusters given a spread init, which is the property under test —
    # any fixed init has adversarial layouts (plain k-means, no ++).
    pts = []
    for base, (cx, cy) in enumerate([(0.0, 0.0), (100.0, 0.0), (0.0, 100.0)]):
        for j in range(5):
            pts.append((base * 10 + j + 5, [cx + j * 0.1, cy - j * 0.1]))
    df = spark.createDataFrame(pts, ["vec_id", "embedding"])
    assigned, centroids = kmeans_lloyd(df, k=3, iters=5)
    rows = assigned.select("vec_id", "cluster").collect()
    # every ground-truth blob maps to exactly one k-means cluster
    blobs = {}
    for r in rows:
        blobs.setdefault((r["vec_id"] - 5) // 10, set()).add(r["cluster"])
    assert all(len(c) == 1 for c in blobs.values())
    assert len({next(iter(c)) for c in blobs.values()}) == 3
    # converged centroids are the blob means -> tiny inertia
    total = sum(
        r["inertia"] for r in kmeans_inertia(assigned, centroids).collect()
    )
    assert total < 1.0
    # determinism: same input -> same assignment
    again, _ = kmeans_lloyd(df, k=3, iters=5)
    assert sorted((r["vec_id"], r["cluster"]) for r in again.collect()) == sorted(
        (r["vec_id"], r["cluster"]) for r in rows
    )


def test_kmeans_lloyd_fused_bit_identical_to_sequential(spark):
    """The fused multi-problem trainer (r13 optimization: one pass per
    iteration serves every independent Lloyd problem over a shared
    scan) must be BIT-identical to running kmeans_lloyd once per
    problem — the IVF-PQ oracles replay the sequential arithmetic, so
    any drift (seed draw, assignment tie, mean accumulation order)
    would flip driver hashes. Covers the 3-spec plain-build shape,
    subspace slices, heterogeneous k, and iteration freezing."""
    from pyspark.sql import functions as F

    from neulix_datahub_spark.operators.clustering import (
        kmeans_lloyd,
        kmeans_lloyd_fused,
    )

    rng = [
        (i, [((i * 37 + d * 11) % 100) / 7.0 - 6.0 for d in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rng, ["vec_id", "embedding"])
    half = 4
    _, full_seq = kmeans_lloyd(df, k=5, iters=4)
    sub_seq = []
    for start in (1, half + 1):
        sub = df.select(
            "vec_id", F.slice("embedding", start, half).alias("embedding")
        )
        _, c = kmeans_lloyd(sub, k=3, iters=2)
        sub_seq.append(c)
    fused = kmeans_lloyd_fused(
        df,
        [
            (F.col("embedding"), 5, 4),
            (F.slice("embedding", 1, half), 3, 2),
            (F.slice("embedding", half + 1, half), 3, 2),
        ],
        id_col="vec_id",
    )
    assert fused[0] == full_seq  # exact float equality, not approx
    assert fused[1] == sub_seq[0]
    assert fused[2] == sub_seq[1]


def test_ivf_batch_shuffle_join_path_matches_broadcast(spark):
    """broadcast_probes=False (the large-probe-set escape hatch for the
    ~8 GB broadcast cap) must produce byte-identical results via a
    shuffle hash join on the candidate-bucket key, and its plan must
    not carry a FORCED broadcast hint (AQE may still pick broadcast at
    runtime when the side measures small — that choice stays with the
    optimizer, which is the point)."""
    from neulix_datahub_spark.operators.similarity import ivf_batch_top_k

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    kw = dict(k=5, num_buckets=16, n_probes=4)
    bc = ivf_batch_top_k(emb, probes, **kw)
    sh = ivf_batch_top_k(emb, probes, broadcast_probes=False, **kw)
    got_bc = sorted((r.probe_id, r.neighbor_id, round(r.score, 9)) for r in bc.collect())
    got_sh = sorted((r.probe_id, r.neighbor_id, round(r.score, 9)) for r in sh.collect())
    assert got_bc == got_sh and len(got_bc) > 0
    analyzed = sh._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint (strategy=broadcast)" not in analyzed
    assert "ResolvedHint (strategy=broadcast)" in (
        bc._jdf.queryExecution().analyzed().toString()
    )


def test_chunk_by_tokens_validates_id_col(spark):
    """A typo'd id_col fails at plan time with a named error, not at
    join time downstream."""
    import pytest as _pytest

    from neulix_datahub_spark.operators.packing import chunk_by_tokens

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="id_col 'docid' not in"):
        chunk_by_tokens(df, "text", "docid", chunk_size=2)


def test_quality_checks_semantics(spark):
    """Each constraint kind counts exactly its violations; the row-level
    checks share one agg pass; a fully clean frame passes everything."""
    from neulix_datahub_spark.operators import quality as Q

    df = spark.createDataFrame(
        [
            (1, "a", 10.0, "OK"),
            (2, "b", -5.0, "OK"),     # range violation
            (2, "c", 20.0, "BAD"),    # dup id + enum violation
            (None, "d", None, "OK"),  # null id + null amount
        ],
        "id long, name string, amount double, status string",
    )
    dim = spark.createDataFrame([(1,), (2,)], "k long")
    checks = [
        *Q.not_null("id", "name"),
        Q.unique("id"),
        Q.in_range("amount", lo=0.0),
        Q.values_in("status", ["OK"]),
        Q.matches("name", "^[a-z]$"),
        Q.foreign_key("id", dim, "k"),
    ]
    got = {r.check: (r.passed, r.violations, r.total_rows)
           for r in Q.run_checks(df, checks).collect()}
    assert got == {
        "not_null_id": (False, 1, 4),
        "not_null_name": (True, 0, 4),
        "unique_id": (False, 1, 4),
        "range_amount": (False, 2, 4),  # -5 and null
        "values_status": (False, 1, 4),
        "matches_name": (True, 0, 4),
        "fk_id": (False, 1, 4),  # the null id has no match
    }

    clean = spark.createDataFrame([(1, "a", 1.0, "OK")], df.schema)
    assert all(r.passed for r in Q.run_checks(clean, checks).collect())


def test_pagerank_semantics(spark):
    """A symmetric 2-cycle stays uniform at 0.5/0.5; a weighted graph
    ranks the heavier-cited node higher; ranks stay in (0,1) and sum
    to ~1 on a dangling-free graph."""
    from neulix_datahub_spark.operators.graph import pagerank

    cyc = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)], "src string, dst string, weight double"
    )
    got = {r.node: r.rank for r in pagerank(cyc, iterations=4).collect()}
    assert abs(got["a"] - 0.5) < 1e-12 and abs(got["b"] - 0.5) < 1e-12

    g = spark.createDataFrame(
        [("a", "c", 3.0), ("b", "c", 3.0), ("c", "a", 1.0),
         ("a", "b", 1.0), ("c", "b", 1.0)],
        "src string, dst string, weight double",
    )
    ranks = {r.node: r.rank for r in pagerank(g, iterations=8).collect()}
    assert ranks["c"] > ranks["a"] and ranks["c"] > ranks["b"]
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # no dangling nodes


def test_winnow_fingerprints_guarantee(spark):
    """The winnowing guarantee: two texts sharing a run of >= window+k-1
    tokens share at least one fingerprint; disjoint-vocabulary texts
    share none; a short (<k tokens) doc degrades to one whole-text
    hash."""
    from neulix_datahub_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            # shares the 6-token run "gamma delta epsilon zeta eta theta"
            (2, "xx yy gamma delta epsilon zeta eta theta zz"),
            (3, "one two three four five six seven eight"),
            (4, "hi"),
        ],
        "id long, text string",
    )
    fps = {r.id: set(r.f) for r in df.select(
        "id", winnow_fingerprints("text", k=3, window=4).alias("f")
    ).collect()}
    assert fps[1] & fps[2], "shared >=w+k-1 run must share a fingerprint"
    assert not (fps[1] & fps[3])
    assert len(fps[4]) == 1


def test_scd2_apply_semantics(spark):
    """Per-row SCD2: changed attrs close the old version and open a new
    one; unchanged updates no-op; new keys open a first version; the
    latest update in a batch supersedes earlier ones; history passes
    through untouched."""
    from neulix_datahub_spark.operators.scd import scd2_apply, scd2_init

    dim = scd2_init(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
        "id", ["v"], "2024-01-01",
    )
    updates = spark.createDataFrame(
        [
            (1, "a2", "2024-02-01"),  # superseded within the batch...
            (1, "a3", "2024-03-01"),  # ...by this later row
            (2, "b", "2024-03-01"),   # unchanged -> no-op
            (9, "n", "2024-03-01"),   # new key
        ],
        "id long, v string, ts string",
    ).withColumn("ts", F.col("ts").cast("date"))
    out = scd2_apply(dim, updates, "id", "ts", ["v"])
    rows = {(r.id, r.v): (str(r.valid_from), str(r.valid_to), r.is_current)
            for r in out.collect()}
    assert rows == {
        (1, "a"): ("2024-01-01", "2024-03-01", False),
        (1, "a3"): ("2024-03-01", "None", True),
        (2, "b"): ("2024-01-01", "None", True),
        (3, "c"): ("2024-01-01", "None", True),
        (9, "n"): ("2024-03-01", "None", True),
    }
    # a second identical batch is a full no-op (idempotence)
    again = scd2_apply(out, updates, "id", "ts", ["v"])
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))


def test_scd2_asof_join_picks_version_at_fact_time(spark):
    """Each fact resolves the dimension version valid at its own ts:
    facts before the first version drop out; boundary date belongs to
    the NEW version (valid_from inclusive, valid_to exclusive)."""
    from neulix_datahub_spark.operators.scd import (
        scd2_apply,
        scd2_asof_join,
        scd2_init,
    )

    dim = scd2_init(
        spark.createDataFrame([(1, "old")], "id long, v string"),
        "id", ["v"], "2024-01-01",
    )
    upd = spark.createDataFrame(
        [(1, "new", "2024-06-01")], "id long, v string, ts string"
    ).withColumn("ts", F.col("ts").cast("date"))
    dim = scd2_apply(dim, upd, "id", "ts", ["v"])
    facts = spark.createDataFrame(
        [(1, "2023-12-31"), (1, "2024-01-01"), (1, "2024-05-31"),
         (1, "2024-06-01"), (1, "2025-01-01")],
        "id long, ts string",
    ).withColumn("ts", F.col("ts").cast("date"))
    got = sorted((str(r.ts), r.v) for r in
                 scd2_asof_join(facts, dim, "id", "ts").collect())
    assert got == [
        ("2024-01-01", "old"), ("2024-05-31", "old"),
        ("2024-06-01", "new"), ("2025-01-01", "new"),
    ]


def test_round5_operators_empty_input_behavior(spark):
    """Empty inputs degrade cleanly, never throw: quality checks report
    zero violations over zero rows; pagerank of an empty edge list is
    an empty rank table; an identical-version snapshot diff is empty;
    a histogram over an empty slice has no buckets; winnowing an empty
    string yields the single whole-text hash."""
    from neulix_datahub_spark.operators import quality as Q
    from neulix_datahub_spark.operators.graph import pagerank
    from neulix_datahub_spark.operators.profile import value_histogram
    from neulix_datahub_spark.operators.text import winnow_fingerprints

    empty = spark.createDataFrame([], "id long, v double, s string")
    rep = Q.run_checks(
        empty, [*Q.not_null("id"), Q.unique("id"), Q.in_range("v", lo=0.0)]
    ).collect()
    assert all(r.passed and r.violations == 0 and r.total_rows == 0 for r in rep)

    no_edges = spark.createDataFrame([], "src string, dst string, weight double")
    assert pagerank(no_edges, iterations=2).count() == 0

    hist = value_histogram(empty, "v", bins=4, lo=0.0, hi=1.0)
    assert hist.count() == 0

    one = spark.createDataFrame([("",)], "text string")
    fps = one.select(winnow_fingerprints("text").alias("f")).first()["f"]
    assert len(fps) == 1


def test_snapshot_diff_identical_versions_is_empty(spark, tmp_path):
    from neulix_datahub_spark.sources.snapshots import (
        snapshot_diff,
        write_snapshot,
    )

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    v1 = write_snapshot(df, root)
    write_snapshot(df, root)
    assert snapshot_diff(spark, root, from_version=v1, key="id").count() == 0


def test_psi_semantics(spark):
    """PSI is ~0 for identical samples and large for disjoint ones; the
    eps clamp keeps one-sided-empty buckets finite."""
    from neulix_datahub_spark.operators.profile import (
        population_stability_index,
    )

    a = spark.createDataFrame([(float(i % 10),) for i in range(100)], "x double")
    same = population_stability_index(a, a, "x", bins=10, lo=0.0, hi=10.0).first()
    assert abs(same.psi) < 1e-9 and same.n_ref == same.n_cur == 100

    b = spark.createDataFrame([(float(5 + i % 5),) for i in range(100)], "x double")
    shifted = population_stability_index(a, b, "x", bins=10, lo=0.0, hi=10.0).first()
    assert shifted.psi > 0.25  # "shifted" band


def test_correlation_matrix_matches_numpy(spark):
    """The fused one-pass corr matrix equals numpy's corrcoef pairwise
    (engine-stable Welford accumulation vs numpy's centered product) and
    covers the full upper triangle including the unit diagonal."""
    import numpy as np

    from neulix_datahub_spark.operators.profile import correlation_matrix

    rng = [(float(i), float(i * i % 17), float((7 - i) % 5)) for i in range(50)]
    df = spark.createDataFrame(rng, "a double, b double, c double")
    got = {(r.col_a, r.col_b): r.corr
           for r in correlation_matrix(df, ["a", "b", "c"]).collect()}
    arr = np.array(rng)
    cols = ["a", "b", "c"]
    want = np.corrcoef(arr, rowvar=False)
    assert len(got) == 6  # 3 diagonal + 3 upper
    for i, x in enumerate(cols):
        for j, y in enumerate(cols):
            if i <= j:
                assert abs(got[(x, y)] - round(float(want[i, j]), 6)) <= 1e-6, (x, y)


def test_pca_matches_numpy_full_decomposition(spark):
    """fit_pca's distributed Gram path must agree with numpy's reference
    PCA (cov + eigh on the raw matrix) across a multi-partition input;
    projected variances must equal the eigenvalues."""
    import numpy as np

    from neulix_datahub_spark.operators.decomposition import (
        fit_pca,
        projected_variances,
    )

    rng = np.random.default_rng(7)
    dim, n = 6, 400
    # anisotropic data so eigenvalues are well-separated
    base = rng.normal(size=(n, dim)) * np.array([5.0, 3.0, 2.0, 1.0, 0.5, 0.1])
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>").repartition(7)

    model = fit_pca(df, "embedding", dim=dim)
    ref_cov = np.cov(base, rowvar=False, ddof=1)
    ref_w = np.sort(np.linalg.eigvalsh(ref_cov))[::-1]

    assert model.n == n
    np.testing.assert_allclose(model.eigenvalues, ref_w, rtol=1e-9)
    np.testing.assert_allclose(model.mean, base.mean(axis=0), rtol=1e-9, atol=1e-12)
    assert abs(model.total_variance - np.trace(ref_cov)) < 1e-9

    pv = projected_variances(df, "embedding", model, k=3)
    np.testing.assert_allclose(pv, ref_w[:3], rtol=1e-8)


def test_pca_rejects_degenerate_input(spark):
    import pytest as _pytest

    from neulix_datahub_spark.operators.decomposition import fit_pca

    df = spark.createDataFrame([(0, [1.0, 2.0])], "id long, embedding array<double>")
    with _pytest.raises(ValueError, match=">= 2 rows"):
        fit_pca(df, "embedding", dim=2)


def test_cluster_split_colocates_near_dup_clusters(spark):
    """cluster_split: every member of a near-dup cluster gets the
    representative's split; singletons fall back to plain hash_split."""
    from neulix_datahub_spark.operators.curation import cluster_split, hash_split

    docs = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo"),
            (2, "alpha bravo charlie delta foxtrot"),   # near-dup of 1
            (3, "completely different text body here"),
            (4, "another singleton document entirely"),
            (10, "golf hotel india juliet kilo"),
            (11, "golf hotel india juliet lima"),        # near-dup of 10
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (10, 11)], "id_a long, id_b long"
    )
    out = cluster_split(
        docs, pairs, {"train": 0.5, "eval": 0.5}, id_col="doc_id"
    ).collect()
    by_id = {r.doc_id: r for r in out}
    # cluster members share cluster id and split
    assert by_id[1].cluster == by_id[2].cluster == 1
    assert by_id[10].cluster == by_id[11].cluster == 10
    assert by_id[1].split == by_id[2].split
    assert by_id[10].split == by_id[11].split
    # no cluster straddles splits, ever
    seen: dict[int, str] = {}
    for r in out:
        assert seen.setdefault(r.cluster, r.split) == r.split
    # singletons match what hash_split alone would assign to their text
    solo = {
        r.text: r.split
        for r in hash_split(
            docs.filter("doc_id in (3, 4)"), {"train": 0.5, "eval": 0.5}
        ).collect()
    }
    assert by_id[3].split == solo["completely different text body here"]
    assert by_id[4].split == solo["another singleton document entirely"]


def test_triangle_stats_on_known_graphs(spark):
    """triangle_stats: a 4-clique has C(4,3)=4 triangles and clustering
    1.0; removing one edge leaves 2 triangles; a path graph has none
    (null coefficient stays well-defined via round's null propagation)."""
    from neulix_datahub_spark.operators.graph import triangle_stats

    def stats(pairs):
        df = spark.createDataFrame(pairs, "a string, b string")
        return triangle_stats(df).collect()[0]

    clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    r = stats(clique)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)
    assert abs(r.clustering_coeff - 1.0) < 1e-9

    r = stats(clique[:-1])  # drop (c, d): triangles abc, abd survive
    assert (r.n_edges, r.n_triangles) == (5, 2)

    r = stats([("a", "b"), ("b", "c"), ("c", "d")])
    assert r.n_triangles == 0
    assert r.clustering_coeff == 0.0

    # only isolated edges: every degree is 1, so zero open triads; the
    # coefficient must degrade to null (try_divide), not DIVIDE_BY_ZERO
    # under the session's ANSI mode
    r = stats([("a", "b"), ("c", "d")])
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 2, 0)
    assert r.clustering_coeff is None


def test_bigram_perplexity_hand_computed(spark):
    """doc_bigram_perplexity on a 3-doc toy corpus: unigram counts come
    from ALL docs (including the 1-token doc), pairs only from docs with
    >= 2 tokens, and the 1-token doc gets no score."""
    import math

    from neulix_datahub_spark.operators.text import doc_bigram_perplexity

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")], "doc_id long, text string"
    )
    got = {r.doc_id: r.perplexity for r in doc_bigram_perplexity(docs).collect()}

    # uni: a=3, b=3, x=1, N=7; big: (a,b)=3, (b,a)=1
    p_b_a = 0.75 * 3 / 3 + 0.25 * 3 / 7
    p_a_b = 0.75 * 1 / 3 + 0.25 * 3 / 7
    exp1 = math.exp(-(2 * math.log(p_b_a) + math.log(p_a_b)) / 3)
    exp2 = math.exp(-math.log(p_b_a))
    assert set(got) == {1, 2}
    assert abs(got[1] - exp1) < 1e-12
    assert abs(got[2] - exp2) < 1e-12
    # repetitive text scores lower perplexity than the shorter doc's
    # rarer transition mix only through the model — sanity: both finite
    assert got[1] > 1.0 and got[2] > 1.0


def test_rollup_router_guards(spark):
    """answer_from_rollup refuses finer-than-rollup grains and
    non-decomposable merge fns; count partials merge by SUM."""
    import pytest as _pytest

    from neulix_datahub_spark.operators.rollup import answer_from_rollup

    rollup = spark.createDataFrame(
        [("2024-01-01 00:00:00", "a", 2, 10.0), ("2024-01-01 05:00:00", "a", 3, 20.0),
         ("2024-01-02 01:00:00", "a", 1, 5.0)],
        "window_start string, k string, n bigint, sv double",
    ).withColumn("window_start", F.to_timestamp("window_start"))

    with _pytest.raises(ValueError, match="finer|cannot answer"):
        answer_from_rollup(
            rollup, rollup_grain="hour", query_grain="minute",
            window_col="window_start", group_cols=["k"],
            measures={"n": ("count", "n")},
        )
    # weeks straddle months: week->month must refuse (silent-wrong
    # otherwise), week->week and day->week are the only week routes
    with _pytest.raises(ValueError, match="cannot answer"):
        answer_from_rollup(
            rollup, rollup_grain="week", query_grain="month",
            window_col="window_start", group_cols=["k"],
            measures={"n": ("count", "n")},
        )
    answer_from_rollup(  # day->week is a legal whole-bucket union
        rollup, rollup_grain="day", query_grain="week",
        window_col="window_start", group_cols=["k"],
        measures={"n": ("count", "n")},
    )
    with _pytest.raises(ValueError, match="not decomposable"):
        answer_from_rollup(
            rollup, rollup_grain="hour", query_grain="day",
            window_col="window_start", group_cols=["k"],
            measures={"a": ("avg", "sv")},
        )
    out = {
        (str(r.window_start.date()), r.n, r.sv)
        for r in answer_from_rollup(
            rollup, rollup_grain="hour", query_grain="day",
            window_col="window_start", group_cols=["k"],
            measures={"n": ("count", "n"), "sv": ("sum", "sv")},
        ).collect()
    }
    assert out == {("2024-01-01", 5, 30.0), ("2024-01-02", 1, 5.0)}


def test_asof_join_direction_and_tolerance(spark):
    """asof_join forward/tolerance surface (pandas merge_asof parity,
    verified against an inline pandas mirror): backward picks the
    latest earlier quote, forward the earliest later one, tolerance
    nulls out stale matches; tie rows stay visible both ways."""
    import pandas as pd

    from neulix_datahub_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [("A", 10.0, "t1"), ("A", 25.0, "t2"), ("B", 5.0, "t3")],
        "sym string, ts double, trade string",
    )
    quotes = spark.createDataFrame(
        [("A", 8.0, 100.0), ("A", 10.0, 101.0), ("A", 30.0, 102.0),
         ("B", 50.0, 200.0)],
        "sym string, ts double, px double",
    )

    def run(**kw):
        return {
            (r.sym, r.ts): r.px
            for r in asof_join(trades, quotes, on="ts", by="sym", **kw).collect()
        }

    back = run()
    assert back == {("A", 10.0): 101.0,  # tie visible
                    ("A", 25.0): 101.0,
                    ("B", 5.0): None}
    fwd = run(direction="forward")
    assert fwd == {("A", 10.0): 101.0,  # tie visible forward too
                   ("A", 25.0): 102.0,
                   ("B", 5.0): 200.0}
    tol = run(tolerance=10.0)
    assert tol == {("A", 10.0): 101.0,
                   ("A", 25.0): None,   # 25-10 > 10 -> stale
                   ("B", 5.0): None}
    # pandas mirror agrees on every case
    tp = pd.DataFrame({"sym": ["A", "A", "B"], "ts": [10.0, 25.0, 5.0]})
    qp = pd.DataFrame({"sym": ["A", "A", "A", "B"], "ts": [8.0, 10.0, 30.0, 50.0],
                       "px": [100.0, 101.0, 102.0, 200.0]})
    for kw, got in ((dict(direction="backward"), back),
                    (dict(direction="forward"), fwd),
                    (dict(direction="backward", tolerance=10.0), tol)):
        ref = pd.merge_asof(tp.sort_values("ts"), qp.sort_values("ts"),
                            on="ts", by="sym", **kw)
        for _, r in ref.iterrows():
            want = None if pd.isna(r.px) else r.px
            assert got[(r.sym, r.ts)] == want, (kw, r.sym, r.ts)


def test_asof_join_timestamp_tolerance(spark):
    """Interval-string tolerance on timestamp keys."""
    from neulix_datahub_spark.operators.asof import asof_join

    ev = spark.createDataFrame(
        [("u", "2024-01-01 10:00:00")], "k string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    snap = spark.createDataFrame(
        [("u", "2024-01-01 06:00:00", 1.0)], "k string, ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))
    wide = asof_join(ev, snap, on="ts", by="k", tolerance="6 hours").collect()[0]
    assert wide.v == 1.0
    narrow = asof_join(ev, snap, on="ts", by="k", tolerance="2 hours").collect()[0]
    assert narrow.v is None


def test_plan_summary_and_rebalance(spark):
    """plan_summary counts the shapes the plan tests rely on; the
    REBALANCE hint survives into the optimized plan and changes no
    rows."""
    from neulix_datahub_spark.observability import plan_summary
    from neulix_datahub_spark.operators.skew import rebalance_for_write
    from tests.conftest import SF_DIR

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    agg = orders.groupBy("o_orderpriority").count()
    agg.collect()
    s = plan_summary(agg)
    # final-plan-only counting: exactly one scan and one shuffle for a
    # single-scan groupBy (the Initial Plan reprint must not double it)
    assert s["parquet_scans"] == 1 and s["shuffles"] == 1
    assert s["python_eval_nodes"] == 0

    reb = rebalance_for_write(orders, "o_orderpriority")
    assert reb.count() == orders.count()
    opt = reb._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in opt or "rebalance" in opt.lower()

    from neulix_datahub_spark.operators.timeseries import grouped_autocorr
    from pyspark.sql import functions as F
    daily = orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    ac = grouped_autocorr(daily, "o_orderpriority", "day", "cnt")
    ac.collect()
    assert plan_summary(ac)["python_eval_nodes"] >= 1  # grouped map visible


def test_plan_summary_connect_fallback(spark):
    """Without the classic ``_jdf`` py4j surface (Spark Connect), the
    summary falls back to the public explain(mode="formatted") text and
    still counts scans/shuffles — the guard keeps working on connect
    deployments."""
    from neulix_datahub_spark.observability import plan_summary
    from tests.conftest import SF_DIR

    agg = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .groupBy("o_orderpriority")
        .count()
    )

    class _ConnectLike:
        """Proxy exposing only the public DataFrame API (no _jdf)."""

        def __init__(self, df):
            self.__dict__["_df"] = df

        def __getattr__(self, name):
            if name == "_jdf":
                raise AttributeError("_jdf")  # what connect raises
            return getattr(self.__dict__["_df"], name)

    s = plan_summary(_ConnectLike(agg))
    assert s["parquet_scans"] == 1 and s["shuffles"] >= 1
    assert s["python_eval_nodes"] == 0


def test_persisted_ivf_index_lifecycle(spark, tmp_path):
    """build/query/append on the at-rest IVF index: (a) querying the
    index returns EXACTLY what the in-memory probe returns (shared
    probe-policy helper), (b) the probe physically prunes non-probed
    bucket directories (corrupt-file proof), (c) append lands new
    vectors only in their buckets and they become searchable."""
    import pathlib

    from pyspark.sql import functions as F

    from neulix_datahub_spark.operators.similarity import (
        build_ivf_index,
        append_to_ivf_index,
        ivf_top_k,
        probe_bucket_set,
        query_ivf_index,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    path = str(tmp_path / "ivf")
    meta = build_ivf_index(emb, path, num_buckets=16)
    assert meta["n_vecs"] == emb.count()

    mem = [(r.vec_id, round(r.score, 9)) for r in
           ivf_top_k(emb, qvec, k=10, num_buckets=16, n_probes=4).collect()]
    idx = [(r.vec_id, round(r.score, 9)) for r in
           query_ivf_index(spark, path, qvec, k=10, n_probes=4).collect()]
    assert mem == idx

    # pruning proof: corrupt a NON-probed bucket dir; the query still runs
    probed = probe_bucket_set(spark, qvec, 16, n_probes=4)
    cold = next(b for b in range(16) if b not in probed)
    cold_dir = pathlib.Path(path) / f"bucket={cold}"
    assert cold_dir.is_dir()
    (cold_dir / "zzz_corrupt.parquet").write_bytes(b"not parquet")
    assert [r.vec_id for r in query_ivf_index(spark, path, qvec, k=10, n_probes=4).collect()] \
        == [v for v, _ in idx]

    # append: a planted near-duplicate of the query becomes findable
    (cold_dir / "zzz_corrupt.parquet").unlink()
    twin = spark.createDataFrame(
        [(999_999, [x + 0.001 for x in qvec])], "vec_id long, embedding array<double>"
    )
    append_to_ivf_index(twin, path)
    after = [r.vec_id for r in query_ivf_index(spark, path, qvec, k=3, n_probes=4).collect()]
    assert 999_999 in after


def test_grouped_autocorr_sparse_groups(spark):
    """Groups with <3 lag pairs get autocorr NULL (not a degenerate
    corr); a group with zero pairs still emits its row."""
    from neulix_datahub_spark.operators.timeseries import grouped_autocorr

    rows = [
        # "a": 9 consecutive days -> 2 lag-7 pairs -> null
        *[("a", f"2024-01-{d:02d}", float(d)) for d in range(1, 10)],
        # "b": 3 isolated days, no day has a t-7 partner -> 0 pairs
        ("b", "2024-01-01", 1.0), ("b", "2024-01-03", 2.0), ("b", "2024-01-06", 3.0),
    ]
    df = spark.createDataFrame(rows, "k string, day string, v double").select(
        "k", F.to_date("day").alias("day"), "v"
    )
    got = {r.k: r for r in grouped_autocorr(df, "k", "day", "v").collect()}
    assert got["a"].n_pairs == 2 and got["a"].autocorr is None
    assert got["b"].n_pairs == 0 and got["b"].autocorr is None
    assert got["a"].n_days == 9 and got["b"].n_days == 3


def test_grouped_autocorr_nonstring_key(spark):
    """The output schema derives the key's type from the input frame, so
    a bigint group key (e.g. user_id) round-trips without an Arrow
    schema mismatch — the operator is generic, not string-keyed."""
    from neulix_datahub_spark.operators.timeseries import grouped_autocorr

    rows = [(7, f"2024-01-{d:02d}", float(d % 3)) for d in range(1, 20)]
    df = spark.createDataFrame(rows, "k bigint, day string, v double").select(
        "k", F.to_date("day").alias("day"), "v"
    )
    out = grouped_autocorr(df, "k", "day", "v")
    assert out.schema["k"].dataType.simpleString() == "bigint"
    row = out.collect()[0]
    assert row.k == 7 and row.n_days == 19 and row.n_pairs == 12


def test_cluster_split_total_under_superset_pairs(spark):
    """Pairs mined on a superset corpus may reference documents the
    filtered df no longer contains; no row may be dropped, and the
    cluster still co-locates under the min PRESENT member."""
    from neulix_datahub_spark.operators.curation import cluster_split

    docs = spark.createDataFrame(
        [(17, "seventeen text"), (20, "twenty text"), (9, "solo")],
        "doc_id long, text string",
    )
    # doc 3 was filtered out of df but its pairs survive
    pairs = spark.createDataFrame([(3, 17), (3, 20)], "id_a long, id_b long")
    out = cluster_split(docs, pairs, {"train": 0.5, "eval": 0.5}, id_col="doc_id")
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {17, 20, 9}          # nothing dropped
    assert rows[17].split == rows[20].split  # cluster co-located
    assert rows[17].cluster == rows[20].cluster == 3


def test_build_funnel_matches_query_chain_and_validates(spark):
    """The generalized operator reproduces the 3-step query chain's
    per-user times exactly and rejects degenerate step lists."""
    import pytest as _pytest

    from neulix_datahub_spark.operators.funnel import build_funnel
    from neulix_datahub_spark.plans.queries_analytics import _funnel_step
    from neulix_datahub_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select("user_id", "event_type", "ts")
    wide = build_funnel(ev, ["view", "click", "purchase"], deadline_hours=72)

    v = ev.filter("event_type = 'view'").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    c = _funnel_step(ev, v, "click", "t1", "t2")
    p = _funnel_step(ev, c, "purchase", "t2", "t3")
    ref = (
        v.join(c.select("user_id", "t2"), "user_id", "left")
        .join(p.select("user_id", "t3"), "user_id", "left")
    )
    got = {r.user_id: (r.t0, r.t1, r.t2) for r in wide.collect()}
    want = {r.user_id: (r.t1, r.t2, r.t3) for r in ref.collect()}
    assert got == want

    with _pytest.raises(ValueError, match="at least 2"):
        build_funnel(ev, ["view"], deadline_hours=72)


def test_funnel_summary_empty_step_yields_null_pcts(spark):
    """An empty step must produce null percentages, not an ANSI
    DIVIDE_BY_ZERO abort."""
    from neulix_datahub_spark.operators.funnel import build_funnel, funnel_summary

    ev = spark.createDataFrame(
        [(1, "view", "2024-01-01 00:00:00")], "user_id long, event_type string, ts string"
    ).select("user_id", "event_type", F.to_timestamp("ts").alias("ts"))
    steps = ["view", "refund"]  # refund never happens
    out = {r.step: r for r in funnel_summary(
        build_funnel(ev, steps, deadline_hours=72), steps).collect()}
    assert out["view"].users == 1 and out["view"].pct_of_prev == 100.0
    assert out["refund"].users == 0
    assert out["refund"].pct_of_prev == 0.0  # 0/1 — defined
    # fully-empty funnel: entry step absent -> 0/0 -> nulls, no crash
    empty = {r.step: r for r in funnel_summary(
        build_funnel(ev.filter("event_type = 'x'"), steps, deadline_hours=72),
        steps).collect()}
    assert empty["view"].users == 0 and empty["view"].pct_of_prev is None


def test_event_funnel_stats_zero_converters(spark, tmp_path):
    """event_funnel_stats on an events set with zero click/purchase
    converters: the three pct columns degrade to null via try_divide
    instead of aborting with ANSI DIVIDE_BY_ZERO — same contract
    funnel_summary already pins."""
    from neulix_datahub_spark.plans.queries_analytics import event_funnel_stats

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 10, "view", 1.0, "{}"),
         (2, "2024-01-01 01:00:00", 11, "view", 2.0, "{}")],
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    ev.write.parquet(f"{tmp_path}/events.parquet")

    row = event_funnel_stats(spark, str(tmp_path)).collect()[0]
    assert (row.view_users, row.click_users, row.purchase_users) == (2, 0, 0)
    assert row.view_to_click_pct == 0.0
    assert row.click_to_purchase_pct is None  # 0/0 -> null, not a crash
    assert row.overall_pct == 0.0


def test_linear_quality_score_bounds_and_monotonicity(spark):
    """Logistic score stays in (0,1); richer text (stopwords present,
    low punctuation) scores higher than punctuation soup; empty text
    gets the bias-only score."""
    from neulix_datahub_spark.operators.text import linear_quality_score

    df = spark.createDataFrame(
        [
            ("good", "the quick brown fox and the lazy dog met in the park"),
            ("soup", "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
            ("empty", ""),
        ],
        "k string, text string",
    ).select("k", linear_quality_score("text").alias("s"))
    got = {r.k: r.s for r in df.collect()}
    assert all(0.0 < v < 1.0 for v in got.values())
    assert got["good"] > got["soup"]
    import math

    assert abs(got["empty"] - 1 / (1 + math.exp(2.0))) < 1e-9  # bias only

    # custom weights override the default model
    flat = linear_quality_score("text", {"log_tokens": 0.0, "stopword_ratio": 0.0,
                                         "punct_ratio": 0.0, "mean_word_len": 0.0})
    df2 = spark.createDataFrame([("x", "anything at all")], "k string, text string")
    (only,) = df2.select(flat.alias("s")).collect()
    assert abs(only.s - 1 / (1 + math.exp(2.0))) < 1e-9


def test_key_skew_profile_detects_hot_key(spark):
    """A pathologically hot key shows up in every diagnostic: high skew
    ratio, high top-share, low normalized entropy; a uniform key space
    scores the opposite. Single-key edge: entropy undefined -> null."""
    from neulix_datahub_spark.operators.skew import key_skew_profile

    hot = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(0)).otherwise(F.col("id")).alias("k")
    )
    r = key_skew_profile(hot, "k").collect()[0]
    assert r.n_keys == 101 and r.n_rows == 1000 and r.max_key_rows == 900
    assert r.skew_ratio > 100 and r.top5_share > 0.9
    assert r.norm_entropy < 0.3

    uniform = spark.range(1000).select((F.col("id") % 100).alias("k"))
    u = key_skew_profile(uniform, "k").collect()[0]
    assert u.skew_ratio == 1.0 and abs(u.norm_entropy - 1.0) < 1e-9
    assert abs(u.top5_share - 0.05) < 1e-9

    single = spark.range(10).select(F.lit(7).alias("k"))
    s = key_skew_profile(single, "k").collect()[0]
    assert s.n_keys == 1 and s.norm_entropy is None  # log2(1)=0 -> null


def test_grouped_cov_arrow_matches_sql_covariance(spark):
    """The applyInArrow covariance matrix equals Spark's own covar_pop
    per pair, the key column keeps its input type, and a single-row
    group degenerates to zero covariance."""
    from neulix_datahub_spark.operators.timeseries import grouped_cov

    df = spark.createDataFrame(
        [(1, 1.0, 2.0), (1, 2.0, 4.0), (1, 3.0, 7.0), (2, 5.0, 5.0)],
        "g bigint, x double, y double",
    )
    out = grouped_cov(df, "g", ["x", "y"])
    assert out.schema["g"].dataType.simpleString() == "bigint"
    got = {(r.g, r.var_x, r.var_y): (r.n, r.cov) for r in out.collect()}
    want_xy = df.filter("g = 1").agg(F.covar_pop("x", "y")).first()[0]
    assert got[(1, "x", "y")] == (3, round(want_xy, 6))
    assert got[(1, "x", "x")][1] == round(
        df.filter("g = 1").agg(F.var_pop("x")).first()[0], 6
    )
    assert got[(2, "x", "y")] == (1, 0.0)
    assert len(got) == 6  # 3 pairs per group x 2 groups


def test_grouped_cov_fixed_point_is_decimal_exact(spark):
    """fixed_point_scale=100 reproduces the documented integer half-up
    formula exactly — including a negative covariance and a .0000005
    tie that float covariance would round unpredictably."""
    from neulix_datahub_spark.operators.timeseries import grouped_cov

    rows = [(1, 10.25, 3.50), (1, 20.75, 1.10), (1, 30.00, 0.40)]
    df = spark.createDataFrame(rows, "g bigint, x double, y double")
    out = grouped_cov(df, "g", ["x", "y"], fixed_point_scale=100)
    got = {(r.var_x, r.var_y): r.cov for r in out.collect()}

    def exact(a_vals, b_vals):
        a = [round(v * 100) for v in a_vals]
        b = [round(v * 100) for v in b_vals]
        n = len(a)
        num = n * sum(x * y for x, y in zip(a, b)) - sum(a) * sum(b)
        den = n * n * 100 * 100
        q = (2 * abs(num) * 1_000_000 + den) // (2 * den)
        return (q if num >= 0 else -q) / 1_000_000.0

    xs = [r[1] for r in rows]
    ys = [r[2] for r in rows]
    assert got[("x", "x")] == exact(xs, xs)
    assert got[("x", "y")] == exact(xs, ys)
    assert got[("y", "y")] == exact(ys, ys)
    assert got[("x", "y")] < 0  # anticorrelated fixture


def test_prefix_filter_join_complete_vs_brute_force(spark):
    """Zero false negatives AND zero false positives: the prefix-filter
    join returns exactly the brute-force all-pairs result, at several
    thresholds, on both word sets and shingle sets (real fixture docs)."""
    from neulix_datahub_spark.operators.dedupe import (
        _shingles,
        prefix_filter_join,
    )
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def brute(set_expr, t):
        toks = docs.select(F.col("doc_id").alias("id"), set_expr.alias("toks")) \
            .filter(F.size("toks") > 0)
        a = toks.select(F.col("id").alias("id_a"), F.col("toks").alias("ta"))
        b = toks.select(F.col("id").alias("id_b"), F.col("toks").alias("tb"))
        inter = F.size(F.array_intersect("ta", "tb"))
        union = F.size("ta") + F.size("tb") - inter
        return {
            (r.id_a, r.id_b, r.j)
            for r in a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("j", F.round(inter.cast("double") / union, 6))
            .filter(F.col("j") >= t)
            .collect()
        }

    words = F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
    )
    for set_expr, t in [
        (words, 0.5),
        (words, 0.9),
        (_shingles(F.col("text"), 3), 0.6),
        (_shingles(F.col("text"), 3), 1.0),
    ]:
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in prefix_filter_join(docs, t, set_expr=set_expr).collect()
        }
        assert got == brute(set_expr, t), f"mismatch at t={t}"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="threshold"):
        prefix_filter_join(docs, 0.0)


def test_prefix_filter_join_plan_is_equi_join(spark):
    """The candidate join is an ordinary shuffled/broadcast equi-join on
    the prefix element — no CartesianProduct or nested loop anywhere in
    the physical plan (the thing the prefix principle buys)."""
    from neulix_datahub_spark.operators.dedupe import prefix_filter_join
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = prefix_filter_join(docs, 0.8)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_linear_attribution_conserves_value(spark):
    """Equal-split credit is conservative: summed attributed value over
    channels equals total purchase value, and summed fractional credits
    equal the purchase count."""
    from neulix_datahub_spark.plans.queries_analytics import linear_attribution
    from tests.conftest import SF_DIR

    rows = linear_attribution(spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").filter(
        "event_type = 'purchase'"
    )
    total_value = ev.agg(F.sum("value")).first()[0]
    n_purchases = ev.select("user_id", "ts").distinct().count()
    assert abs(sum(r.attributed_value for r in rows) - total_value) < 0.01
    assert abs(sum(r.credited_purchases for r in rows) - n_purchases) < 0.01


def test_ewma_stays_within_window_bounds(spark):
    """The normalized EWMA is a convex combination of the trailing
    window's revenues — every smoothed value lies within [min, max] of
    the raw series, and windows count at most 28 days."""
    from neulix_datahub_spark.plans.queries_analytics import ewma_daily_revenue
    from tests.conftest import SF_DIR

    rows = ewma_daily_revenue(spark, SF_DIR).collect()
    assert rows and all(1 <= r.n_days_in_window <= 28 for r in rows)
    daily = {
        r.day: r.revenue for r in rows
    }  # smoothed output also carries the raw value
    lo, hi = min(daily.values()), max(daily.values())
    assert all(lo - 0.01 <= r.ewma_revenue <= hi + 0.01 for r in rows)


def test_k_anonymity_profile_flags_small_groups(spark):
    """Synthetic control: one group of 2 (below k=5) among groups of 10
    — exactly those 2 rows flag at risk; a uniformly large table has
    zero risk and effective_k == its min group size."""
    from neulix_datahub_spark.operators.quality import k_anonymity_profile

    rows = [("a", "x")] * 10 + [("b", "x")] * 10 + [("c", "y")] * 2
    df = spark.createDataFrame(rows, "g string, h string")
    r = k_anonymity_profile(df, ["g", "h"], k=5).collect()[0]
    assert (r.n_groups, r.n_rows) == (3, 22)
    assert (r.groups_below_k, r.rows_at_risk, r.effective_k) == (1, 2, 2)
    assert abs(r.at_risk_frac - 2 / 22) < 1e-6  # emitted rounded to 6dp

    safe = k_anonymity_profile(df.filter("g != 'c'"), ["g", "h"], k=5).collect()[0]
    assert safe.rows_at_risk == 0 and safe.effective_k == 10


def test_metric_layer_ratio_of_sums_not_avg_of_ratios(spark):
    """The declared ratio metric re-derives from sums at every grain —
    on a fixture where group sizes differ, avg-of-ratios would give a
    different (wrong) number; and a ratio metric without num/den is
    rejected at declaration time."""
    import pytest

    from neulix_datahub_spark.operators.metrics import Metric, evaluate_metrics

    df = spark.createDataFrame(
        # group a: 1 big low-rate row; group b: 3 small high-rate rows
        [("a", 1000.0, 10.0), ("b", 10.0, 5.0), ("b", 10.0, 5.0), ("b", 10.0, 5.0)],
        "g string, den double, num double",
    )
    m = [Metric("rate", "ratio", num=F.col("num"), den=F.col("den"))]
    per_g = {r.g: r.rate for r in evaluate_metrics(df, m, ["g"]).collect()}
    assert per_g == {"a": 0.01, "b": 0.5}
    overall = evaluate_metrics(df, m, []).first()["rate"]
    assert overall == 25.0 / 1030.0  # ratio of sums
    assert abs(overall - (0.01 + 0.5) / 2) > 0.2  # ≠ avg of per-group ratios

    with pytest.raises(ValueError, match="needs num and den"):
        Metric("bad", "ratio")


def test_upsert_null_key_overwrites_and_stays_idempotent(spark):
    """NULL keys are ONE key (groupBy semantics): an update with a NULL
    key must REPLACE the target's NULL-key row — a null-unsafe
    anti-join can never match NULL=NULL, so the old row survived and a
    duplicate piled up on every application."""
    from neulix_datahub_spark.operators.upsert import upsert

    target = spark.createDataFrame(
        [(None, "old"), (1, "keep")], "id int, payload string"
    )
    updates = spark.createDataFrame([(None, "new")], "id int, payload string")
    once = upsert(target, updates, "id")
    got = sorted(((r.id, r.payload) for r in once.collect()), key=str)
    assert got == sorted([(None, "new"), (1, "keep")], key=str)
    twice = upsert(once, updates, "id")
    assert sorted(map(tuple, twice.collect()), key=str) == sorted(
        map(tuple, once.collect()), key=str
    )


def test_apply_agg_delta_null_group_key_stays_one_group(spark):
    """A NULL group key must merge with its delta, not fork into two
    rows: the maintenance law apply(agg(v1), diff(v1,v2)) == agg(v2)
    has to hold for the NULL group exactly as groupBy treats it."""
    from neulix_datahub_spark.operators.incremental import apply_agg_delta

    agg = spark.createDataFrame(
        [(None, 5, 10.0), ("a", 2, 4.0)], "g string, cnt long, s double"
    )
    feed = spark.createDataFrame(
        [(None, 3.0, "insert"), (None, 7.0, "insert")],
        "g string, v double, _change_type string",
    )
    out = apply_agg_delta(agg, feed, ["g"], "cnt", {"s": "v"})
    got = sorted(((r.g, r.cnt, r.s) for r in out.collect()), key=str)
    assert got == sorted([(None, 7, 20.0), ("a", 2, 4.0)], key=str)


def test_search_normalizes_query_terms(spark):
    """Query terms go through the index's own normalization: 'Spark' or
    'table ' must hit lowercase postings instead of silently matching
    nothing; an effectively-empty query raises."""
    import pytest as _pytest

    from neulix_datahub_spark.operators.search import (
        bm25_rank,
        build_inverted_index,
        build_positional_index,
        conjunctive_search,
        phrase_search,
    )

    docs = spark.createDataFrame(
        [(1, "Spark tables and Spark queries"), (2, "other words")],
        ["doc_id", "text"],
    )
    idx = build_inverted_index(docs)
    assert [r.doc_id for r in conjunctive_search(idx, ["Spark", " TABLES "]).collect()] == [1]
    lengths = idx.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    scored = bm25_rank(idx, lengths, ["SPARK"]).collect()
    assert [r.doc_id for r in scored] == [1] and scored[0].score > 0
    pos = build_positional_index(docs)
    hits = phrase_search(pos, ["Spark", "Tables"]).collect()
    assert [(r.doc_id, r.n_occurrences) for r in hits] == [(1, 1)]
    with _pytest.raises(ValueError, match="empty after normalization"):
        conjunctive_search(idx, ["   "])


def test_bm25_empty_corpus_returns_empty_scores(spark):
    """An empty doc_lengths (drained index) must yield an empty score
    frame, not a driver TypeError on float(None)."""
    from neulix_datahub_spark.operators.search import bm25_rank

    idx = spark.createDataFrame([], "token string, doc_id long, tf long")
    lengths = spark.createDataFrame([], "doc_id long, dl long")
    assert bm25_rank(idx, lengths, ["spark"]).collect() == []


def test_connected_components_star_handles_long_chains(spark, caplog):
    """Round-9 (r8 VERDICT item 8) + round-10 auto-fallback: the
    large-star/small-star alternation converges on chain graphs whose
    diameter exceeds propagation's iteration budget; since round 10
    propagation no longer refuses there — it LOGS the budget exhaustion
    and retries with star on the same pinned edge list, so long-chain
    template families work without the caller knowing the flag. The two
    algorithms agree wherever both converge."""
    import logging
    import random

    import pytest

    from neulix_datahub_spark.operators.components import connected_components

    # force the DISTRIBUTED paths: this test asserts propagation/star
    # loop behaviors (fallback warning, star fingerprint convergence),
    # which the r14 driver union-find gate would otherwise short-circuit
    # on these tiny fixtures (driver-path parity has its own test below)
    spark.conf.set("spark.neulix.cc.driverMaxEdges", "0")

    # a 60-node path: diameter 59 >> 10 plain-propagation rounds, but
    # the r14 pointer jump (component <- prev_label(min)) doubles the
    # effective radius per round, so propagation now converges INSIDE
    # the default budget — same labels, no star fallback, no warning
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "id_a long, id_b long"
    )
    with caplog.at_level(logging.WARNING,
                         logger="neulix_datahub_spark.operators.components"):
        jumped = {
            r.id: r.component for r in connected_components(chain).collect()
        }
    assert jumped == {i: 0 for i in range(60)}
    assert not any("retrying with the large-star" in r.message
                   for r in caplog.records)
    comps = {
        r.id: r.component
        for r in connected_components(chain, algorithm="star").collect()
    }
    assert comps == {i: 0 for i in range(60)}

    # the auto-fallback path still works when the budget is genuinely
    # exhausted: a 3-node path under max_iter=2 never OBSERVES a
    # zero-change round (labels settle in round 1 but the convergence
    # check needs one more), while star's fingerprint stabilizes in 2 —
    # propagation logs the switch and returns star's (correct) labels
    caplog.clear()
    tiny = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    with caplog.at_level(logging.WARNING,
                         logger="neulix_datahub_spark.operators.components"):
        fell_back = {
            r.id: r.component
            for r in connected_components(tiny, max_iter=2).collect()
        }
    assert fell_back == {0: 0, 1: 0, 2: 0}
    assert any("retrying with the large-star" in r.message
               for r in caplog.records)

    # agreement on a random sparse graph (both converge)
    rng = random.Random(9)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {r.id: r.component
         for r in connected_components(df, max_iter=40).collect()}
    b = {r.id: r.component
         for r in connected_components(df, algorithm="star").collect()}
    assert a == b

    # self-loops and isolated pairs survive both paths identically
    df2 = spark.createDataFrame(
        [(5, 5), (7, 8)], "id_a long, id_b long"
    )
    got = {r.id: r.component
           for r in connected_components(df2, algorithm="star").collect()}
    assert got == {5: 5, 7: 7, 8: 7}

    with pytest.raises(ValueError, match="unknown algorithm"):
        connected_components(df2, algorithm="bogus")
    spark.conf.unset("spark.neulix.cc.driverMaxEdges")


def test_connected_components_driver_gate_parity(spark):
    """r14: a symmetric edge list at or below
    ``spark.neulix.cc.driverMaxEdges`` resolves via one driver-side
    union-find pass instead of the shuffle-round loop. The two paths
    must emit IDENTICAL (id, component) maps — min member id per
    component — on random graphs, paths, cliques, self-loops and the
    empty graph, and the pure union-find must match a brute-force
    reachability reference."""
    import random

    from neulix_datahub_spark.operators.components import (
        connected_components,
        union_find_components,
    )

    rng = random.Random(1914)
    for trial in range(6):
        n = rng.randrange(2, 50)
        m = rng.randrange(1, 80)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        if trial == 4:  # long path: exercises the pointer jump too
            edges = [(i, i + 1) for i in range(40)]
        if trial == 5:  # clique + self-loop + isolated pair
            edges = [(a, b) for a in range(6) for b in range(6)] + [
                (9, 9), (11, 12)
            ]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        driver = {r.id: r.component
                  for r in connected_components(df).collect()}
        spark.conf.set("spark.neulix.cc.driverMaxEdges", "0")
        try:
            dist = {r.id: r.component
                    for r in connected_components(df, max_iter=60).collect()}
        finally:
            spark.conf.unset("spark.neulix.cc.driverMaxEdges")
        assert driver == dist

        # brute-force min-label propagation reference: labels only ever
        # decrease along edges, so the fixed point is the per-component
        # minimum node id
        nodes = {x for e in edges for x in e}
        comp = {x: x for x in nodes}
        changed = True
        while changed:
            changed = False
            for a, b in edges:
                lo = min(comp[a], comp[b])
                if comp[a] != lo:
                    comp[a] = lo
                    changed = True
                if comp[b] != lo:
                    comp[b] = lo
                    changed = True
        uf = union_find_components(edges)
        assert uf == comp


def test_connected_components_star_request_skips_driver_shortcut(
    spark, monkeypatch
):
    """An explicit ``algorithm="star"`` runs the star contraction even
    when the graph is under the driver union-find gate, and labels the
    same components as the default path."""
    from neulix_datahub_spark.operators import components

    calls = []
    star = components._star_components

    def recording(sym, max_iter):
        calls.append(max_iter)
        return star(sym, max_iter)

    monkeypatch.setattr(components, "_star_components", recording)
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 9), (3, 4)], "id_a long, id_b long"
    )
    default = {r.id: r.component
               for r in components.connected_components(df).collect()}
    assert calls == []  # small graph: the default takes the driver path
    starred = {r.id: r.component for r in components.connected_components(
        df, algorithm="star").collect()}
    assert calls == [10]
    assert starred == default == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 9: 9}


def test_profile_edge_guards_r9(spark):
    """Round-9 review: value_histogram refuses degenerate ranges loudly
    (previously an ANSI Inf->int cast exploded deep in the plan);
    winsorize and mad_outlier_flag keep their schema contract on
    empty / all-null columns instead of raising bare TypeErrors."""
    import pytest

    from neulix_datahub_spark.operators.profile import (
        mad_outlier_flag,
        value_histogram,
        winsorize,
    )

    df = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    with pytest.raises(ValueError, match="bins"):
        value_histogram(df, "x", 0, 0.0, 10.0)
    with pytest.raises(ValueError, match="empty value range"):
        value_histogram(df, "x", 5, 3.0, 3.0)

    empty = spark.createDataFrame([], "x double")
    out = winsorize(empty, "x", out_col="x_w")
    assert out.columns == ["x", "x_w"] and out.count() == 0
    nulls = spark.createDataFrame([(None,), (None,)], "x double")
    flagged = mad_outlier_flag(nulls, "x")
    assert [r.is_outlier for r in flagged.collect()] == [False, False]
    # non-degenerate behavior unchanged
    w = winsorize(spark.createDataFrame([(float(i),) for i in range(1, 101)],
                                        "x double"), "x", 0.05, 0.95, out_col="c")
    got = {r.x: r.c for r in w.collect()}
    assert got[1.0] > 1.0 and got[100.0] < 100.0 and got[50.0] == 50.0


def test_grouped_autocorr_refuses_duplicate_days(spark):
    """Round-9 review: a duplicate (group, day) row used to silently
    overwrite the earlier value in the dict build — wrong correlation,
    no signal. Now it refuses with the offending group named."""
    import pytest

    from neulix_datahub_spark.operators.timeseries import grouped_autocorr

    df = spark.createDataFrame(
        [("a", "2024-01-01", 1.0), ("a", "2024-01-01", 2.0),
         ("a", "2024-01-02", 3.0)],
        "k string, d string, v double",
    )
    with pytest.raises(Exception, match="duplicate"):
        grouped_autocorr(df, "k", "d", "v").collect()

    from neulix_datahub_spark.operators.packing import pack_by_token_budget

    with pytest.raises(ValueError, match="budget"):
        pack_by_token_budget(df, "k", "v", budget=0)


def test_bpe_learn_merges_matches_hand_computation(spark):
    """BPE trainer on a corpus small enough to run by hand. Corpus:
    'low low low lower newest newest'. Round 1 pairs: (l,o)x4, (o,w)x4,
    ... tie (l,o)/(o,w) at 4 broken lexicographically -> (l,o). Then
    (lo,w)x4 wins round 2, etc. Also: greedy leftmost merge on 'aaa'
    and early stop when the vocabulary is fully merged."""
    from neulix_datahub_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_segment,
    )

    df = spark.createDataFrame(
        [("low low low lower newest newest",)], ["text"]
    )
    merges = bpe_learn_merges(df, n_merges=4)
    got = [(m["left"], m["right"], m["pair_count"]) for m in merges]
    # counts: low x3 + lower -> (l,o)=4, (o,w)=4; newest x2 -> pairs x2
    assert got[0] == ("l", "o", 4)      # tie (l,o) < (o,w)
    assert got[1] == ("lo", "w", 4)     # after merge 1
    # round 3: 'low' is one symbol in 3 words + lower; remaining pairs:
    # (low,e)=1, (e,r)=1, newest: (n,e)=2,(e,w)=2,(w,e)=2,(e,s)=2,(s,t)=2
    # tie at 2 -> (e,s) lexicographically smallest
    assert got[2] == ("e", "s", 2)
    assert merges[3]["pair_count"] == 2

    # greedy leftmost, non-overlapping: 'aaa' with merge (a,a) -> [aa, a]
    df2 = spark.createDataFrame([("aaa aaa",)], ["text"])
    m2 = bpe_learn_merges(df2, n_merges=1)
    assert (m2[0]["left"], m2[0]["right"], m2[0]["pair_count"]) == ("a", "a", 4)
    seg = spark.range(1).select(
        bpe_segment(F.lit("aaa"), m2).alias("s")
    ).first()["s"]
    assert seg == ["aa", "a"]

    # early stop: single-char vocabulary has one pair then nothing
    df3 = spark.createDataFrame([("ab ab",)], ["text"])
    m3 = bpe_learn_merges(df3, n_merges=5)
    assert len(m3) == 1 and m3[0]["merged"] == "ab"

    # within-word merges apply anywhere the pair occurs...
    seg2 = spark.range(1).select(
        bpe_segment(F.lit("ba ab"), m3).alias("s")
    ).first()["s"]
    assert seg2 == ["b", "a", "ab"]
    # ...but a pair can never merge ACROSS a word boundary: (a,a) on
    # 'ba ab' would span the boundary; the double delimiter blocks it
    cross = [{"left": "a", "right": "a", "merged": "aa"}]
    seg3 = spark.range(1).select(
        bpe_segment(F.lit("ba ab"), cross).alias("s")
    ).first()["s"]
    assert seg3 == ["b", "a", "a", "b"]


def test_bpe_matches_python_reference_on_random_corpora(spark):
    """Property: the distributed trainer (delimited-string replace
    rewrite, SQL pair aggregation, lexicographic tie-break) equals a
    pure-Python Sennrich-style BPE reference (explicit list rewrite)
    on random corpora over a 2-letter alphabet — the nastiest case for
    the string machinery, since learned symbols nest and share
    prefixes ('a','a'->'aa', then 'aa','a', ...)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neulix_datahub_spark.operators.bpe import bpe_learn_merges

    def py_bpe(word_counts: dict, n_merges: int):
        syms = {w: list(w) for w in word_counts}
        merges = []
        for _ in range(n_merges):
            pairs = Counter()
            for w, cnt in word_counts.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    pairs[(s[i], s[i + 1])] += cnt
            if not pairs:
                break
            (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((a, b, a + b, c))
            for w, s in syms.items():
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                syms[w] = out
        return merges

    word = st.text(alphabet="ab", min_size=1, max_size=5)

    @settings(max_examples=6, deadline=None)
    @given(st.lists(word, min_size=1, max_size=12))
    def check(words):
        text = " ".join(words)
        df = spark.createDataFrame([(text,)], ["text"])
        got = [
            (m["left"], m["right"], m["merged"], m["pair_count"])
            for m in bpe_learn_merges(df, n_merges=4)
        ]
        want = py_bpe(Counter(words), 4)
        assert got == want, (words, got, want)

    check()


def test_chunk_tokens_udtf_parity_and_edges(spark):
    """U4 (round 9): the UDTF's rows equal chunk_by_tokens' exactly on
    edge-shaped docs (empty doc -> one empty chunk; NULL doc -> no
    rows; exact-boundary and overlap-partial docs), and bad arguments
    refuse loudly."""
    import pytest

    from neulix_datahub_spark.operators.packing import chunk_by_tokens
    from neulix_datahub_spark.operators.udtfs import register_udtfs

    register_udtfs(spark)
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 2 chunks @ size6/ov2
            (2, "exactly six tokens in this doc"),       # boundary: 1 chunk
            (3, ""),                                     # empty: 1 empty chunk
            (4, None),                                   # NULL: no rows
            (5, "  spaced   out\ttokens  "),             # normalization
        ],
        "doc_id long, text string",
    )
    u = spark.sql(
        "SELECT d.doc_id, c.chunk_id, c.chunk_text, c.n_chunk_tokens "
        "FROM {d} d, LATERAL neulix_chunk_tokens(d.text, 6, 2) c",
        d=docs,
    )
    e = chunk_by_tokens(docs, "text", "doc_id", chunk_size=6, overlap=2).select(
        "doc_id", "chunk_id", "chunk_text", "n_chunk_tokens"
    )
    assert sorted(map(tuple, u.collect())) == sorted(map(tuple, e.collect()))
    got = {(r.doc_id, r.chunk_id): r.n_chunk_tokens for r in u.collect()}
    assert got[(1, 0)] == 6 and got[(1, 1)] == 6  # 10 toks, stride 4 -> 2 chunks
    assert got[(3, 0)] == 0 and (4, 0) not in got

    with pytest.raises(Exception, match="overlap"):
        spark.sql(
            "SELECT * FROM {d} d, LATERAL neulix_chunk_tokens(d.text, 4, 9) c",
            d=docs.limit(1),
        ).collect()


def test_pack_global_tape_matches_naive_cumsum(spark):
    """Property (round 9): the whole-corpus pack assignment (two-phase
    running total, no part_col) equals a naive python exclusive cumsum
    in id order — including NULL token counts (occupy no tape) and
    oversized documents (span packs)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neulix_datahub_spark.operators.packing import pack_by_token_budget

    tok = st.one_of(st.none(), st.integers(0, 700))

    @settings(max_examples=8, deadline=None)
    @given(st.lists(tok, min_size=1, max_size=25))
    def check(tokens):
        rows = [(i, t) for i, t in enumerate(tokens)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        got = {
            r.doc_id: (r.pack_offset, r.pack_id)
            for r in pack_by_token_budget(
                df, "doc_id", "n_tokens", budget=500
            ).collect()
        }
        off = 0
        for i, t in enumerate(tokens):
            assert got[i] == (off, off // 500), (tokens, i, got[i], off)
            off += t or 0

    check()


def _py_batched_bpe(docs, n_rounds, window, unit="word"):
    """Pure-Python reference of the BATCHED trainer spec (round 10):
    ranked window -> greedy-maximal non-interacting prefix scan ->
    single-pass application. Deliberately re-implemented here (not
    imported) so the test is independent of the engine's code paths."""
    import re
    from collections import Counter

    def norm(t):
        # the engine's Java-\s semantics, not Python's Unicode \s
        return re.sub(r"[ \t\n\x0b\f\r]+", " ", t.lower()).strip(" ")

    if unit == "word":
        units = Counter(w for t in docs for w in norm(t).split(" ") if w)
    else:
        units = Counter(u for t in docs if (u := norm(t)))
    vocab = Counter()
    for u, n in units.items():
        vocab[tuple(u)] += n
    merges = []
    for rnd in range(1, n_rounds + 1):
        pairs = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        ranked = sorted(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[:window]
        kept = []
        for (a, b), c in ranked:
            ok = True
            for sa, sb, _ in kept:
                sm = sa + sb
                if (sa in (a, b) or sb in (a, b) or sm in (a, b)
                        or (a + b) in (sa, sb) or sm == a + b):
                    ok = False
                    break
            if ok:
                kept.append((a, b, c))
        for j, (a, b, c) in enumerate(kept, 1):
            merges.append((rnd, j, a, b, a + b, c))
        lut = {(a, b): a + b for a, b, _ in kept}
        nxt = Counter()
        for syms, n in vocab.items():
            out = []
            for x in syms:
                if out and (out[-1], x) in lut:
                    out[-1] = lut[(out[-1], x)]
                else:
                    out.append(x)
            nxt[tuple(out)] += n
        vocab = nxt
    return merges


def test_bpe_batched_matches_reference_on_random_corpora(spark):
    """Property (round 10): the batched trainer — top-window collect,
    greedy-maximal non-interacting selection, one multi-pair fold pass
    per round — equals the pure-Python reference in BOTH unit modes on
    random 2-letter corpora (nested/shared-prefix symbols, same-pair
    runs like 'aaaa', full-merge early stop)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neulix_datahub_spark.operators.bpe import bpe_learn_merges_batched

    word = st.text(alphabet="ab", min_size=1, max_size=5)

    @settings(max_examples=5, deadline=None)
    @given(st.lists(word, min_size=1, max_size=10), st.sampled_from(["word", "raw"]))
    def check(words, unit):
        text = " ".join(words)
        df = spark.createDataFrame([(text,), (text,), (words[0],)], ["text"])
        got = [
            (m["round"], m["round_rank"], m["left"], m["right"],
             m["merged"], m["pair_count"])
            for m in bpe_learn_merges_batched(df, n_rounds=3, window=6, unit=unit)
        ]
        want = _py_batched_bpe([text, text, words[0]], 3, 6, unit=unit)
        assert got == want, (words, unit, got, want)

    check()


def test_bpe_batched_hand_case_and_storage_bound(spark):
    """Round 10 hand case: one round of the batched trainer keeps only
    non-interacting pairs from the window and applies them in a single
    pass (runs included); global ranks are contiguous across rounds.
    Also pins the O(1)-storage contract: prior rounds' localCheckpoints
    are freed, so ≤2 BPE RDDs stay persisted after training."""
    from neulix_datahub_spark.operators.bpe import (
        bpe_learn_merges_batched,
        select_batch,
    )

    # selection rule directly: (e,r) kept; (r,x) blocked by shared r;
    # (x,er) blocked because 'er' is the merged string of a kept pair;
    # (q,z) disjoint -> kept even though an earlier candidate was blocked
    kept = select_batch([
        ("e", "r", 10), ("r", "x", 9), ("x", "er", 8), ("q", "z", 7),
    ])
    assert kept == [("e", "r", 10), ("q", "z", 7)]

    n0 = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    df = spark.createDataFrame([("aaaa bb aaaa bb cc dd",)], ["text"])
    merges = bpe_learn_merges_batched(df, n_rounds=2, window=8, unit="word")
    # round 1 pairs: (a,a)x4(over 2 words: aaaa has 3 adjacencies x2=6)...
    # counts: (a,a)=6, (b,b)=2, (c,c)=1, (d,d)=1 -> all disjoint, all kept
    r1 = [(m["left"], m["right"], m["pair_count"]) for m in merges
          if m["round"] == 1]
    assert r1 == [("a", "a", 6), ("b", "b", 2), ("c", "c", 1), ("d", "d", 1)]
    # single-pass greedy on runs: aaaa -> aa,aa (so round 2 sees (aa,aa)=2)
    r2 = [(m["left"], m["right"], m["pair_count"]) for m in merges
          if m["round"] == 2]
    assert r2[0] == ("aa", "aa", 2)
    ranks = [m["rank"] for m in merges]
    assert ranks == list(range(1, len(merges) + 1))
    # round 11 tightening: the trainer now frees its final working
    # relations on the way out (a chunked resume workflow measured one
    # leaked checkpoint per call before), so training leaves NO new
    # persisted RDDs behind, not just O(1) of them
    n1 = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert n1 - n0 <= 0, (n0, n1)
    # and the CLASSIC single-merge trainer honors the same exit
    # discipline (round-11 review fix: it leaked its final two)
    from neulix_datahub_spark.operators.bpe import bpe_learn_merges

    bpe_learn_merges(df, n_merges=3)
    n2 = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert n2 - n0 <= 0, (n0, n2)


def test_bpe_segment_pandas_parity_with_fold_chain(spark):
    """Round 10: the vectorized mapInPandas apply tier returns the
    SAME token arrays as the chained-expression fold (bpe_segment) on
    random corpora — once-each-in-rank-order, greedy-leftmost-per-pass
    semantics, word-boundary barrier included. The vectorized path is
    the at-scale form (32k chained folds is an analyzer cliff; one
    Arrow pass is not)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neulix_datahub_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_segment,
        bpe_segment_pandas,
    )
    from pyspark.sql import functions as F

    # NBSP in the alphabet: a mergeable SYMBOL to both paths since the
    # round-10 normalization fix (Python \s would have collapsed it)
    word = st.text(alphabet="ab\xa0", min_size=1, max_size=6)

    @settings(max_examples=4, deadline=None)
    @given(st.lists(word, min_size=1, max_size=8))
    def check(words):
        text = " ".join(words)
        df = spark.createDataFrame(
            [(1, text), (2, words[0]), (3, ""), (4, None)], ["id", "text"]
        )
        merges = bpe_learn_merges(df, n_merges=4)
        fold = df.select(
            "id", bpe_segment(F.col("text"), merges).alias("toks")
        )
        vec = bpe_segment_pandas(df, merges, out_col="toks").select("id", "toks")
        f = {r["id"]: r["toks"] for r in fold.collect()}
        v = {r["id"]: r["toks"] for r in vec.collect()}
        assert f == v, (words, f, v)

    check()


def test_bpe_oracle_empty_round_guard(spark):
    """Round-10 ADVICE fix: when the corpus fully merges before the
    unrolled oracle's 8 rounds, the engine stops early while the old
    oracle's cross join with an empty p{i} emptied the whole chain
    (zero rows vs real stats — a latent divergence on small corpora).
    The LEFT JOIN ON TRUE + NULL-passthrough guard makes later rounds
    no-ops; both engines must emit identical stats on such a corpus."""
    import duckdb

    from neulix_datahub_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_segment,
    )
    from neulix_datahub_spark.plans.queries_llm import (
        _BPE_SQL,
        _BPE_TOKENIZE_SQL,
    )
    from tests.compare import assert_frames_match

    rows = [("en", "ab ab"), ("en", "ab"), ("de", "ab ab ab")]
    df = spark.createDataFrame(rows, ["lang", "text"])
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    # trainer: one merge then vocabulary is fully merged
    merges = bpe_learn_merges(df, n_merges=8)
    assert [m["merged"] for m in merges] == ["ab"]
    got_merges = spark.createDataFrame(
        [(m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
         for m in merges],
        "rank bigint, lhs string, rhs string, merged string, pair_count bigint",
    ).toPandas()
    assert_frames_match(got_merges, con.execute(_BPE_SQL).df())

    # apply side: stats survive the early stop in both engines
    got_stats = (
        df.select(
            "lang",
            F.size(bpe_segment(F.col("text"), merges)).alias("__n_tok"),
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            .alias("__n_char"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n_tok").alias("n_bpe_tokens"),
            F.sum("__n_char").alias("n_char_tokens"),
            F.round(F.sum("__n_char") / F.sum("__n_tok"), 6)
            .alias("chars_per_token"),
        )
        .orderBy("lang")
        .toPandas()
    )
    assert len(got_stats) == 2 and got_stats["n_bpe_tokens"].sum() == 6
    assert_frames_match(got_stats, con.execute(_BPE_TOKENIZE_SQL).df())


def test_bpe_merge_table_roundtrip(spark, tmp_path):
    """Round 10: the merge table persists to parquet and loads back in
    application order, and segmenting with the LOADED table is
    token-identical to segmenting with the in-memory one — the
    train-once/apply-everywhere tokenizer workflow, for both the
    classic and the batched (round-carrying) forms."""
    from neulix_datahub_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_learn_merges_batched,
        bpe_segment_pandas,
        load_merges,
        save_merges,
    )

    df = spark.createDataFrame(
        [("low low low lower newest newest",), ("aaaa abab banana",)],
        ["text"],
    )
    for train in (
        lambda: bpe_learn_merges(df, n_merges=4),
        lambda: bpe_learn_merges_batched(df, n_rounds=3, window=8, unit="raw"),
    ):
        merges = train()
        p = str(tmp_path / f"vocab_{len(merges)}")
        save_merges(spark, merges, p)
        loaded = load_merges(spark, p)
        assert loaded == [
            {k: v for k, v in m.items()} for m in merges
        ], (merges, loaded)
        a = bpe_segment_pandas(df, merges, out_col="t").select("t").collect()
        b = bpe_segment_pandas(df, loaded, out_col="t").select("t").collect()
        assert [r["t"] for r in a] == [r["t"] for r in b]


def test_bpe_batched_rewrite_tiers_are_bit_identical(spark):
    """Round 11: the per-round working-set rewrite has two tiers — the
    JVM expression fold (default; zero serialization, wins on large
    unit relations) and the Arrow replay (no per-round codegen compile,
    measured 2x faster per round on small working sets) — and they must
    train the IDENTICAL merge table: ranks, rounds, pairs, counts."""
    from neulix_datahub_spark.operators.bpe import bpe_learn_merges_batched

    df = spark.createDataFrame(
        [("the cat sat on the mat and the dog sat on the log",),
         ("lower lowest newer newest wide wider widest",),
         ("aaaa bb aaaa bb cc",)],
        ["text"],
    )
    for unit in ("word", "raw"):
        fold = bpe_learn_merges_batched(df, n_rounds=5, window=16, unit=unit)
        arrow = bpe_learn_merges_batched(
            df, n_rounds=5, window=16, unit=unit, rewrite="arrow"
        )
        assert fold == arrow, (unit, fold, arrow)
        # r14 third tier: the bounded-working-set driver cycle must
        # train the identical table too (same shared closures, same
        # (count DESC, a, b) order)
        driver = bpe_learn_merges_batched(
            df, n_rounds=5, window=16, unit=unit, rewrite="driver"
        )
        assert fold == driver, (unit, fold, driver)


def test_bpe_batched_auto_tier_picks_arrow_small_and_matches(spark, caplog):
    """Round 11 (updated r14): ``rewrite="auto"`` sizes the working set
    once and picks the tier — the driver tier below its crossover (any
    test corpus), logged — and must train the identical merge table,
    since the tiers are bit-identical. Also pins the input validation
    for the new mode string."""
    import logging

    import pytest

    from neulix_datahub_spark.operators.bpe import bpe_learn_merges_batched

    df = spark.createDataFrame(
        [("the cat sat on the mat and the dog sat on the log",),
         ("lower lowest newer newest wide wider widest",)],
        ["text"],
    )
    fold = bpe_learn_merges_batched(df, n_rounds=4, window=12, unit="word")
    with caplog.at_level(logging.INFO, logger="neulix_datahub_spark.operators.bpe"):
        auto = bpe_learn_merges_batched(
            df, n_rounds=4, window=12, unit="word", rewrite="auto"
        )
    assert auto == fold
    picks = [r for r in caplog.records if "auto rewrite tier" in r.getMessage()]
    assert len(picks) == 1 and "driver" in picks[0].getMessage()
    with pytest.raises(ValueError, match="unknown rewrite"):
        bpe_learn_merges_batched(df, n_rounds=1, rewrite="automatic")


def test_bpe_batched_resume_equals_full_training(spark):
    """Round 10: training R rounds in one go equals training k rounds,
    persisting, and RESUMING with R−k more on the same corpus — ranks,
    rounds, merges, and counts all identical (the grow-an-existing-
    tokenizer workflow)."""
    from neulix_datahub_spark.operators.bpe import bpe_learn_merges_batched

    df = spark.createDataFrame(
        [("the cat sat on the mat",), ("the dog sat on the log",),
         ("lower lowest newer newest",)],
        ["text"],
    )
    for unit in ("word", "raw"):
        full = bpe_learn_merges_batched(df, n_rounds=4, window=12, unit=unit)
        head = bpe_learn_merges_batched(df, n_rounds=2, window=12, unit=unit)
        tail = bpe_learn_merges_batched(
            df, n_rounds=2, window=12, unit=unit, initial_merges=head
        )
        assert head + tail == full, (unit, head, tail, full)


def test_bpe_vectorized_normalization_matches_engine_on_unicode_ws(spark):
    """Round-10 review fix (tightened round 11): the vectorized tier
    must normalize with JAVA's \\s semantics ([ \\t\\n\\x0b\\f\\r]) and
    space-only trim, not Python's Unicode-aware re/strip — U+00A0,
    U+2028, U+3000 are ordinary mergeable SYMBOLS to the engine's
    normalization, and the vectorized pass must agree or
    fold==vectorized parity silently breaks on real corpora. The
    reserved C0 separators \\x1c-\\x1f are now ENFORCED out of the
    symbol stream (deleted before whitespace collapse) in both apply
    tiers and both trainers, so the batched oracle's chr(28)-chr(31)
    record/needle encoding can never false-match."""
    from neulix_datahub_spark.operators.bpe import (
        bpe_segment,
        bpe_segment_pandas,
    )
    from pyspark.sql import functions as F

    texts = [
        "a\xa0b",          # NBSP: a symbol, not whitespace
        "a b c",        # line separator
        "　x　",     # ideographic space
        "p\x1cq\x1dr\x1es\x1ft",  # reserved C0 separators: DELETED
        "x\x1c\ty",          # deletion joins two \\s runs -> one space
        " \x0bmixed\tws\r ", # Java \\s chars DO collapse
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["id", "text"]
    )
    merges = [{"left": "a", "right": "\xa0", "merged": "a\xa0"}]
    fold = {r["id"]: r["t"] for r in df.select(
        "id", bpe_segment(F.col("text"), merges).alias("t")).collect()}
    vec = {r["id"]: r["t"] for r in bpe_segment_pandas(
        df, merges, out_col="t").select("id", "t").collect()}
    assert fold == vec, (fold, vec)
    assert fold[0] == ["a\xa0", "b"]  # NBSP merged as a symbol
    assert fold[3] == list("pqrst")  # reserved range scrubbed
    assert fold[4] == ["x", "y"]  # joined \\s runs collapse to one space


def test_bpe_tokenize_stats_null_vs_zero_lang_parity(spark):
    """Round-10 review fix: a lang whose documents ALL normalize empty
    must report 0 tokens (the oracle's per-document sum), and a lang
    whose documents are ALL NULL must report NULL — the re-planned
    word-join engine alone returned NULL for both."""
    import duckdb

    from neulix_datahub_spark.plans.queries_llm import _BPE_TOKENIZE_SQL
    from tests.compare import assert_frames_match
    from neulix_datahub_spark.plans import queries_llm as qllm

    rows = [("en", "ab ab"), ("empty", "   "), ("empty", ""),
            ("nulls", None), ("mixed", None), ("mixed", "ab")]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    expected = con.execute(_BPE_TOKENIZE_SQL).df()

    # run the registered engine fn against a stand-in loader
    df = spark.createDataFrame(rows, ["lang", "text"])
    orig = qllm.load_table
    try:
        qllm.load_table = lambda _s, _d, _n: df
        got = qllm.bpe_tokenize_stats(spark, "unused").toPandas()
    finally:
        qllm.load_table = orig
    # NULL-bearing int columns arrive as float64 from toPandas and as
    # object from duckdb — normalize both to nullable Int64 (the real
    # fixture has no NULL langs, so the driver never hits this)
    for c in ("n_docs", "n_bpe_tokens", "n_char_tokens"):
        got[c] = got[c].astype("Int64")
        expected[c] = expected[c].astype("Int64")
    assert_frames_match(got, expected)
    by_lang = {r.lang: r.n_bpe_tokens for r in got.itertuples()}
    import pandas as pd
    assert by_lang["empty"] == 0 and by_lang["en"] == 2
    assert pd.isna(by_lang["nulls"]) and by_lang["mixed"] == 1


def test_bpe_batched_oracle_sql_matches_engine_on_random_corpora(spark):
    """Property (round 10): the ORACLE side of the batched trainer —
    the unrolled DuckDB replay with its string-record greedy scan and
    needle encoding (built around two reproduced DuckDB 1.0
    nested-lambda miscompilations) — equals the Spark engine on random
    2-letter corpora, not just the fixtures. Multi-char symbols that
    are prefixes/suffixes of each other are exactly where a sloppy
    needle encoding would false-match."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neulix_datahub_spark.operators.bpe import bpe_learn_merges_batched
    from neulix_datahub_spark.plans.queries_llm import batched_vocab_sql

    sql = batched_vocab_sql(3, 6)
    word = st.text(alphabet="ab", min_size=1, max_size=6)

    @settings(max_examples=5, deadline=None)
    @given(st.lists(word, min_size=1, max_size=10))
    def check(words):
        texts = [" ".join(words), words[0], " ".join(reversed(words))]
        df = spark.createDataFrame([(t,) for t in texts], ["text"])
        got = [
            (m["rank"], m["round"], m["round_rank"], m["left"], m["right"],
             m["merged"], m["pair_count"])
            for m in bpe_learn_merges_batched(df, n_rounds=3, window=6,
                                              unit="raw")
        ]
        con = duckdb.connect()
        con.execute("CREATE TABLE documents(text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?)", [(t,) for t in texts])
        want = [tuple(r) for r in con.execute(sql).fetchall()]
        assert got == want, (words, got, want)

    check()


def test_bpe_oracle_vt_whitespace_parity(spark):
    """Round-10 second review wave: RE2's \\s excludes vertical tab
    (\\x0B) while Java's includes it — the BPE oracles now spell the
    explicit class [ \\t\\n\\v\\f\\r]+, so a VT-containing corpus trains
    the SAME vocabulary in both engines (previously the oracle kept
    'a\\x0bb' as one word while the engine split it)."""
    import duckdb

    from neulix_datahub_spark.operators.bpe import bpe_learn_merges
    from neulix_datahub_spark.plans.queries_llm import _BPE_SQL
    from tests.compare import assert_frames_match

    rows = [("en", "ab\x0bab ab"), ("en", "ab\tab")]
    df = spark.createDataFrame(rows, ["lang", "text"])
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    merges = bpe_learn_merges(df, n_merges=8)
    # engine splits on VT: vocabulary is just 'ab' x5 -> one merge
    assert [m["merged"] for m in merges] == ["ab"]
    assert merges[0]["pair_count"] == 5
    got = spark.createDataFrame(
        [(m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
         for m in merges],
        "rank bigint, lhs string, rhs string, merged string, pair_count bigint",
    ).toPandas()
    assert_frames_match(got, con.execute(_BPE_SQL).df())


def _hf_reference_bpe(word: str, ranks: dict) -> list[str]:
    """Independent pure-Python reference of the public GPT-2/HF ``bpe()``
    loop (encoder.py shape): lowest-rank bigram first, merge all
    leftmost-non-overlapping occurrences, repeat — the semantics any
    consumer of an exported merges.txt applies."""
    syms = tuple(word)
    if len(syms) < 2:
        return list(syms)
    while True:
        pairs = {(syms[i], syms[i + 1]) for i in range(len(syms) - 1)}
        bigram = min(pairs, key=lambda p: ranks.get(p, float("inf")))
        if bigram not in ranks:
            return list(syms)
        first, second = bigram
        out = []
        i = 0
        while i < len(syms):
            try:
                j = syms.index(first, i)
            except ValueError:
                out.extend(syms[i:])
                break
            out.extend(syms[i:j])
            i = j
            if syms[i] == first and i < len(syms) - 1 and syms[i + 1] == second:
                out.append(first + second)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = tuple(out)
        if len(syms) == 1:
            return list(syms)


def test_export_hf_merges_format_and_vocab(tmp_path):
    """Round 11 (r10-verdict task 6): merges.txt carries the #version
    header and space-separated pairs in rank order; vocab.json ids base
    symbols first (sorted) then merged tokens in rank order; space-
    containing symbols are refused without a marker and mapped with
    one."""
    import json

    import pytest

    from neulix_datahub_spark.operators.bpe import export_hf_merges

    merges = [
        {"rank": 1, "left": "l", "right": "o", "merged": "lo", "pair_count": 9},
        {"rank": 2, "left": "lo", "right": "w", "merged": "low", "pair_count": 5},
    ]
    mp, vp = str(tmp_path / "merges.txt"), str(tmp_path / "vocab.json")
    export_hf_merges(merges, mp, vocab_path=vp)
    assert open(mp).read() == "#version: 0.2\nl o\nlo w\n"
    vocab = json.load(open(vp))
    assert vocab == {"l": 0, "o": 1, "w": 2, "lo": 3, "low": 4}

    spaced = [{"rank": 1, "left": "a ", "right": "b", "merged": "a b",
               "pair_count": 1}]
    with pytest.raises(ValueError, match="space"):
        export_hf_merges(spaced, mp)
    export_hf_merges(spaced, mp, space_marker="Ġ")
    assert open(mp, encoding="utf-8").read() == "#version: 0.2\naĠ b\n"

    # round-11 review fix: two merges can produce the SAME merged string
    # (('ab','c') and ('a','bc')) — vocab ids must stay contiguous and
    # first-wins, never gapped by a silent dict overwrite
    twin = [
        {"rank": 1, "left": "ab", "right": "c", "merged": "abc", "pair_count": 3},
        {"rank": 2, "left": "a", "right": "bc", "merged": "abc", "pair_count": 2},
    ]
    export_hf_merges(twin, mp, vocab_path=vp)
    vocab = json.load(open(vp))
    assert sorted(vocab.values()) == list(range(len(vocab))), vocab
    assert vocab == {"a": 0, "ab": 1, "bc": 2, "c": 3, "abc": 4}


def test_bpe_rank_priority_diverges_from_replay_where_documented(spark):
    """The documented divergence, pinned with counts: a later merge
    creating an occurrence of an EARLIER pair is revisited by the HF
    rank-priority loop but not by the once-each replay. Merge table:
    rank 1 (x, yz), rank 2 (y, z); word 'xyz' — replay applies only
    (y,z) (pass for rank 1 sees no (x,yz) adjacency yet), rank-priority
    then revisits and lands the single token 'xyz'."""
    from neulix_datahub_spark.operators.bpe import bpe_segment_pandas

    merges = [
        {"rank": 1, "left": "x", "right": "yz", "merged": "xyz", "pair_count": 1},
        {"rank": 2, "left": "y", "right": "z", "merged": "yz", "pair_count": 1},
    ]
    df = spark.createDataFrame([("xyz xyz", 1)], ["text", "id"])
    replay = bpe_segment_pandas(df, merges, out_col="t").select("t").first()["t"]
    rank = bpe_segment_pandas(
        df, merges, out_col="t", priority="rank"
    ).select("t").first()["t"]
    assert replay == ["x", "yz", "x", "yz"]  # 4 tokens: no revisit
    assert rank == ["xyz", "xyz"]            # 2 tokens: revisited


def test_bpe_rank_priority_matches_hf_reference_property():
    """Property: _apply_merges_rank == the independent GPT-2-style
    reference loop on random symbol strings and random distinct-rank
    merge tables (pure Python — no Spark in the loop)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neulix_datahub_spark.operators.bpe import _apply_merges_rank

    token = st.text(alphabet="abc", min_size=1, max_size=3)
    pair = st.tuples(token, token)
    table = st.lists(pair, min_size=0, max_size=8, unique=True)
    word = st.text(alphabet="abc", min_size=0, max_size=12)

    @settings(max_examples=300, deadline=None)
    @given(word, table)
    def check(w, pairs):
        ranks = {p: i + 1 for i, p in enumerate(pairs)}
        assert _apply_merges_rank(list(w), ranks) == _hf_reference_bpe(
            w, ranks
        ), (w, ranks)

    check()


def test_bpe_export_then_rank_apply_is_hf_bitcompatible(spark, tmp_path):
    """End-to-end bridge: train a real table, export merges.txt, parse
    it back the way an HF consumer does (line order = rank order), and
    check bpe_segment_pandas(priority='rank') per-word equals the
    reference loop over the parsed table — exported artifact and Spark
    segmentation agree bit-for-bit."""
    from neulix_datahub_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_segment_pandas,
        export_hf_merges,
    )

    texts = ["low lower lowest", "new newer newest", "low new lowest"]
    df = spark.createDataFrame([(t, i) for i, t in enumerate(texts)],
                               ["text", "id"])
    merges = bpe_learn_merges(df, n_merges=6)
    mp = str(tmp_path / "merges.txt")
    export_hf_merges(merges, mp)
    lines = open(mp, encoding="utf-8").read().splitlines()
    assert lines[0] == "#version: 0.2"
    ranks = {
        tuple(line.split(" ")): i + 1 for i, line in enumerate(lines[1:])
    }
    got = {
        r["id"]: r["t"]
        for r in bpe_segment_pandas(df, merges, out_col="t", priority="rank")
        .select("id", "t").collect()
    }
    for i, t in enumerate(texts):
        want = []
        for w in t.split(" "):
            want.extend(_hf_reference_bpe(w, ranks))
        assert got[i] == want, (t, got[i], want)


def test_bpe_reserved_c0_contract_enforced_engine_vs_oracle(spark):
    """Round-11 advice fix: the batched oracle's record/needle encoding
    reserves chr(28)-chr(31); a corpus CONTAINING those C0 separators
    previously false-matched the DuckDB selection scan while the engine
    (exact string comparisons) stayed correct — an engine-vs-oracle red
    row guarded only by an upstream-scrub comment. Both normalizations
    now DELETE the reserved range first, so the hostile corpus trains
    the identical vocabulary in both engines."""
    import duckdb

    from neulix_datahub_spark.operators.bpe import bpe_learn_merges_batched
    from neulix_datahub_spark.plans.queries_llm import batched_vocab_sql

    # every reserved codepoint embedded between mergeable letters, plus
    # a run that would have forged a needle boundary (\x1e = record sep)
    rows = [("ab\x1cab ab",), ("a\x1e b\x1fab\x1dab",), ("abab",)]
    df = spark.createDataFrame(rows, ["text"])
    got = [
        (m["rank"], m["round"], m["round_rank"], m["left"], m["right"],
         m["merged"], m["pair_count"])
        for m in bpe_learn_merges_batched(df, n_rounds=3, window=6, unit="raw")
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?)", rows)
    want = [tuple(r) for r in con.execute(batched_vocab_sql(3, 6)).fetchall()]
    assert got == want, (got, want)
    assert got, "hostile corpus must still train merges"
    assert not any(
        c in field for _, _, _, *strs, _ in got
        for field in strs for c in "\x1c\x1d\x1e\x1f"
    )


def test_text_tier_oracle_vt_whitespace_parity(spark):
    """Round-10 migration pinned BEHAVIORALLY for the non-BPE text tier:
    every text oracle now spells the explicit Java-\\s class, so a
    vertical-tab corpus yields the SAME per-lang character-entropy
    profile in both engines (with RE2's \\s the oracle kept \\x0b as a
    distribution character while the engine collapsed it — a silent
    red-row on any VT-containing corpus)."""
    import duckdb

    from neulix_datahub_spark.plans import queries_llm as qllm
    from neulix_datahub_spark.plans.queries_llm import _CHAR_ENTROPY_SQL
    from tests.compare import assert_frames_match

    rows = [("en", "ab\x0bcd ab"), ("en", "xy\x0b\x0bzz"), ("de", "aa\tbb")]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    df = spark.createDataFrame(rows, ["lang", "text"])
    orig = qllm.load_table
    try:
        qllm.load_table = lambda _s, _d, _n: df
        got = qllm.char_entropy_by_lang(spark, "unused").toPandas()
    finally:
        qllm.load_table = orig
    assert_frames_match(got, con.execute(_CHAR_ENTROPY_SQL).df())


def test_ivf_pq_search_degenerate_equals_brute_force(spark):
    # with every coarse cell probed and every PQ cell kept, the funnel
    # prunes nothing — the composed search must equal exact brute-force
    # top-k (same 6-dp rounding, same id tie-break)
    from neulix_datahub_spark.operators.similarity import (
        cosine_top_k,
        ivf_pq_search,
    )
    from neulix_datahub_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    q = [float(x) for x in emb.first()["embedding"]]
    full = ivf_pq_search(
        emb, q, k=5, coarse_k=4, coarse_iters=1, n_probes=4,
        pq_k=2, pq_iters=1, top_cells=4,
    )
    topk, info = full
    assert info["n_candidates"] == info["n_shortlist"] == emb.count()
    brute = [
        (r.vec_id, r.score)
        for r in cosine_top_k(emb, q, k=5).select(
            "vec_id", F.round("score", 6).alias("score")
        ).collect()
    ]
    got = [(r.vec_id, r.score) for r in topk.collect()]
    assert got == brute


def test_ivf_pq_search_refuses_odd_dim(spark):
    import pytest

    from neulix_datahub_spark.operators.similarity import ivf_pq_search

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="even"):
        ivf_pq_search(df, [1.0, 2.0, 3.0])


def _ivfpq_fixture(spark):
    from neulix_datahub_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    prior = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    return emb, prior, delta


def _ivfpq_rows(spark, path):
    from neulix_datahub_spark.sources.fragstore import open_index

    rows = open_index(path, "ivfpq").read(spark, "codes").select(
        "id", "coarse", "c0", "c1"
    )
    return sorted(map(tuple, rows.collect()))


def test_ivfpq_index_ingest_slice_invariant_and_idempotent(spark, tmp_path):
    # frozen codebooks: build(prior) + ingest(delta) lands BYTE-identical
    # code rows whether the delta arrives in one batch or two, and a
    # redelivered batch is a no-op (id anti-join)
    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        ingest_ivfpq_delta,
        read_ivfpq_meta,
    )

    _, prior, delta = _ivfpq_fixture(spark)
    p1, p2 = str(tmp_path / "one"), str(tmp_path / "two")
    build_ivfpq_index(prior, p1, coarse_k=4, coarse_iters=2, pq_k=4,
                      pq_iters=2)
    build_ivfpq_index(prior, p2, coarse_k=4, coarse_iters=2, pq_k=4,
                      pq_iters=2)
    # the two builds froze identical codebooks (deterministic Lloyd)
    assert read_ivfpq_meta(p1)["codebooks"] == read_ivfpq_meta(p2)["codebooks"]

    st = ingest_ivfpq_delta(spark, delta, p1)
    assert st["n_new"] == delta.count()
    half = delta.filter(F.col("vec_id") % 2 == 0)
    rest = delta.filter(F.col("vec_id") % 2 == 1)
    ingest_ivfpq_delta(spark, half, p2)
    ingest_ivfpq_delta(spark, rest, p2)
    assert _ivfpq_rows(spark, p1) == _ivfpq_rows(spark, p2)
    assert read_ivfpq_meta(p1)["n_vecs"] == read_ivfpq_meta(p2)["n_vecs"]

    again = ingest_ivfpq_delta(spark, delta, p1)
    assert again["n_new"] == 0
    assert _ivfpq_rows(spark, p1) == _ivfpq_rows(spark, p2)


def test_ivfpq_query_reads_only_probed_directories(spark, tmp_path):
    # the coarse IN-filter must prune at the DIRECTORY level: a planted
    # corrupt file inside a non-probed cell directory never loads
    import os

    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from neulix_datahub_spark.sources.fragstore import open_index

    emb, _, _ = _ivfpq_fixture(spark)
    path = str(tmp_path / "idx")
    build_ivfpq_index(emb, path, coarse_k=4, coarse_iters=2, pq_k=4,
                      pq_iters=2)
    q = [float(x) for x in emb.first()["embedding"]]
    topk, info = query_ivfpq_index(spark, path, q, k=5, n_probes=1,
                                   top_cells=16)
    probed = set(info["probes"])
    victim = next(c for c in range(4) if c not in probed)
    vdir = os.path.join(
        open_index(path, "ivfpq").gen_dir("codes"), "frag=0", f"coarse={victim}"
    )
    assert os.path.isdir(vdir)
    with open(os.path.join(vdir, "part-corrupt.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    again, info2 = query_ivfpq_index(spark, path, q, k=5, n_probes=1,
                                     top_cells=16)
    assert [tuple(r) for r in again.collect()] == [
        tuple(r) for r in topk.collect()
    ]
    assert info2["probes"] == info["probes"]


def test_ivfpq_compaction_invariant_and_defragments(spark, tmp_path):
    # compaction is a pure rewrite: same row multiset, fewer files,
    # pointer-flipped generation; queries answer identically after
    import os

    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        compact_ivfpq_index,
        ingest_ivfpq_delta,
        query_ivfpq_index,
        read_ivfpq_meta,
    )
    from neulix_datahub_spark.sources.fragstore import open_index

    emb, prior, delta = _ivfpq_fixture(spark)
    path = str(tmp_path / "idx")
    build_ivfpq_index(prior, path, coarse_k=4, coarse_iters=2, pq_k=4,
                      pq_iters=2)
    for i in range(3):  # fragment the hot cells with repeated ingests
        ingest_ivfpq_delta(
            spark, delta.filter(F.col("vec_id") % 3 == i), path
        )
    before_rows = _ivfpq_rows(spark, path)
    q = [float(x) for x in emb.first()["embedding"]]
    before_top = [
        tuple(r) for r in query_ivfpq_index(spark, path, q, k=5)[0].collect()
    ]
    v0 = read_ivfpq_meta(path)["codes_version"]

    def nfiles():
        return open_index(path, "ivfpq").n_files("codes")

    frag = nfiles()
    compact_ivfpq_index(spark, path, files_per_cell=1)
    meta = read_ivfpq_meta(path)
    assert meta["codes_version"] == v0 + 1
    assert not os.path.exists(os.path.join(path, f"codes_v{v0}"))
    assert nfiles() < frag
    assert _ivfpq_rows(spark, path) == before_rows
    after_top = [
        tuple(r) for r in query_ivfpq_index(spark, path, q, k=5)[0].collect()
    ]
    assert after_top == before_top


def test_ivfpq_residual_encoding_beats_plain(spark, tmp_path):
    # the IVFADC claim made concrete: with identical coarse cells and
    # codebook budget, quantizing residuals yields strictly less total
    # reconstruction error than quantizing raw vectors
    from neulix_datahub_spark.operators.ivfpq_index import (
        _residual,
        build_ivfpq_index,
        read_ivfpq_meta,
    )
    from neulix_datahub_spark.sources.fragstore import open_index

    emb, _, _ = _ivfpq_fixture(spark)

    def total_err(path):
        meta = read_ivfpq_meta(path)
        half = meta["dim"] // 2
        at_rest = open_index(path, "ivfpq").read(spark, "codes")
        if meta["encode"] == "residual":
            target = _residual(
                F.col("vec"), F.col("coarse"), meta["coarse_centroids"]
            )
        else:
            target = F.col("vec")
        tbl0 = F.array(
            *[F.array(*[F.lit(x) for x in c]) for c in meta["codebooks"][0]]
        )
        tbl1 = F.array(
            *[F.array(*[F.lit(x) for x in c]) for c in meta["codebooks"][1]]
        )

        def d2(a, b):
            return F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )

        return at_rest.select(
            (
                d2(F.slice(target, 1, half),
                   F.element_at(tbl0, F.col("c0") + 1))
                + d2(F.slice(target, half + 1, half),
                     F.element_at(tbl1, F.col("c1") + 1))
            ).alias("e")
        ).agg(F.sum("e")).first()[0]

    pp, pr = str(tmp_path / "plain"), str(tmp_path / "resid")
    kw = dict(coarse_k=4, coarse_iters=2, pq_k=4, pq_iters=2)
    build_ivfpq_index(emb, pp, encode="plain", **kw)
    build_ivfpq_index(emb, pr, encode="residual", **kw)
    e_plain, e_resid = total_err(pp), total_err(pr)
    assert e_resid < e_plain, (e_resid, e_plain)


def test_hashed_embedding_table_equals_column_form(spark):
    # the two spellings share the feature-code construction; the table
    # form (explode + groupBy + map assembly) must produce IDENTICAL
    # vectors to the pure-Column fold, including the NULL-text zero
    # vector and the empty-string row
    from neulix_datahub_spark.operators.text import (
        hashed_embedding_table,
        hashed_ngram_embedding,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox"),
            (3, "completely different words entirely here"),
            (4, ""),
            (5, None),
            (6, "one"),
        ],
        "doc_id long, text string",
    )
    col_form = {
        r.doc_id: list(r.e)
        for r in df.select(
            "doc_id", hashed_ngram_embedding("text", dim=16).alias("e")
        ).collect()
    }
    tbl_form = {
        r.doc_id: list(r.e)
        for r in hashed_embedding_table(
            df, "text", "doc_id", dim=16, out_col="e"
        ).collect()
    }
    assert col_form == tbl_form
    assert tbl_form[5] == [0.0] * 16  # NULL text -> zero vector
    # unit norm where nonzero
    for k, v in tbl_form.items():
        n2 = sum(x * x for x in v)
        assert k == 5 or abs(n2 - 1.0) < 1e-12


def test_ivfpq_batch_equals_single_probe_exactly(spark, tmp_path):
    # the batch expressions inline the SAME python-float codeword norms
    # and accumulate dots in the same order as the driver-side path, so
    # batch == per-probe query_ivfpq_index EXACTLY (ids and 6-dp scores)
    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        query_ivfpq_index,
        query_ivfpq_index_batch,
    )

    emb, _, _ = _ivfpq_fixture(spark)
    path = str(tmp_path / "idx")
    build_ivfpq_index(emb, path, coarse_k=4, coarse_iters=2, pq_k=4,
                      pq_iters=2)
    probe_rows = emb.filter(F.col("vec_id") % 100 == 0)
    got = {
        (r.probe_id, r.neighbor_id): r.score
        for r in query_ivfpq_index_batch(
            spark, probe_rows, path, k=5, n_probes=2, top_cells=4
        ).collect()
    }
    want = {}
    for p in probe_rows.collect():
        topk, _ = query_ivfpq_index(
            spark, path, [float(x) for x in p.embedding], k=6,
            n_probes=2, top_cells=4,
        )
        rows = [r for r in topk.collect() if r.id != p.vec_id][:5]
        for r in rows:
            want[(p.vec_id, r.id)] = r.score
    assert got == want


def test_ivfpq_batch_residual_equals_single_probe_exactly(spark, tmp_path):
    # round 13 (closing the r12 refusal): the IVFADC cross terms are
    # probe-independent constants, so residual batch probing inlines
    # the SAME python-float inner table as the single-probe cell loop —
    # batch == per-probe query_ivfpq_index EXACTLY on a residual index
    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        query_ivfpq_index,
        query_ivfpq_index_batch,
    )

    emb, _, _ = _ivfpq_fixture(spark)
    path = str(tmp_path / "r")
    build_ivfpq_index(emb, path, coarse_k=4, coarse_iters=2, pq_k=4,
                      pq_iters=2, encode="residual")
    probe_rows = emb.filter(F.col("vec_id") % 100 == 0)
    got = {
        (r.probe_id, r.neighbor_id): r.score
        for r in query_ivfpq_index_batch(
            spark, probe_rows, path, k=5, n_probes=2, top_cells=4
        ).collect()
    }
    want = {}
    for p in probe_rows.collect():
        topk, _ = query_ivfpq_index(
            spark, path, [float(x) for x in p.embedding], k=6,
            n_probes=2, top_cells=4,
        )
        rows = [r for r in topk.collect() if r.id != p.vec_id][:5]
        for r in rows:
            want[(p.vec_id, r.id)] = r.score
    assert got == want


def test_const_double_array_none_renders_typed_null(spark):
    # r13 optimization: the batch probe's 512-entry denominator table
    # ships as ONE F.expr literal instead of per-element py4j lit calls;
    # None entries (degenerate all-zero reconstructions) must survive as
    # typed NULLs exactly like F.lit(list)'s did
    from neulix_datahub_spark.operators.similarity import (
        const_double_array,
    )

    vals = [1.5, None, float("inf"), -0.0, 3.141592653589793]
    row = spark.range(1).select(
        const_double_array(vals).alias("a"), F.lit(vals).alias("b")
    ).first()
    assert row.a == row.b
    assert row.a[1] is None


def test_ivfpq_query_rejects_zero_norm_probes(spark, tmp_path):
    import pytest

    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        query_ivfpq_index,
        query_ivfpq_index_batch,
        read_ivfpq_meta,
    )

    emb, _, _ = _ivfpq_fixture(spark)
    path = str(tmp_path / "z")
    build_ivfpq_index(emb, path, coarse_k=4, coarse_iters=1, pq_k=4,
                      pq_iters=1)
    dim = read_ivfpq_meta(path)["dim"]
    with pytest.raises(ValueError, match="zero norm"):
        query_ivfpq_index(spark, path, [0.0] * dim)
    zero = spark.createDataFrame(
        [(9_999_999, [0.0] * dim)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="zero norm"):
        query_ivfpq_index_batch(spark, zero, path)
    short = spark.createDataFrame(
        [(9_999_999, [1.0] * (dim - 2))],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dim"):
        query_ivfpq_index_batch(spark, short, path)


def test_ivfpq_ingest_validates_delta_and_recounts(spark, tmp_path):
    # round 13 ADVICE fixes: an internal duplicate id or a wrong-dim
    # vector in the delta fails loudly instead of corrupting the index,
    # and n_vecs always equals a recount of the codes
    import pytest

    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        ingest_ivfpq_delta,
        read_ivfpq_meta,
    )
    from neulix_datahub_spark.sources.fragstore import open_index

    _, prior, delta = _ivfpq_fixture(spark)
    path = str(tmp_path / "v")
    build_ivfpq_index(prior, path, coarse_k=4, coarse_iters=1, pq_k=4,
                      pq_iters=1)
    dup = delta.limit(1).unionAll(delta.limit(1))
    with pytest.raises(ValueError, match="ingest_ivfpq_delta"):
        ingest_ivfpq_delta(spark, dup, path)
    dim = read_ivfpq_meta(path)["dim"]
    wrong = spark.createDataFrame(
        [(8_888_888, [1.0] * (dim + 2))],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dim"):
        ingest_ivfpq_delta(spark, wrong, path)
    # n_vecs moves with the atomic commit, so after an ingest it equals
    # a recount of the at-rest codes (a crash before the commit changes
    # neither: tests/test_fragstore.py)
    st = ingest_ivfpq_delta(spark, delta, path)
    true_n = open_index(path, "ivfpq").read(spark, "codes").count()
    assert st["n_vecs"] == true_n == prior.count() + delta.count()
    assert read_ivfpq_meta(path)["n_vecs"] == st["n_vecs"]


def test_ivfpq_cell_cap_bounds_and_degenerates(spark, tmp_path):
    # round 13 (hot-cell skew): cell_cap keeps at most cap candidates
    # per (probe, coarse, c0, c1) shortlist cell via md5(id) sampling;
    # a cap >= every cell size is a no-op, and batch == per-probe holds
    # under the cap (same content-addressed sample in both paths)
    from neulix_datahub_spark.operators.ivfpq_index import (
        _batch_shortlist_scored,
        build_ivfpq_index,
        ingest_ivfpq_delta,
        query_ivfpq_index,
        query_ivfpq_index_batch,
    )

    emb, _, _ = _ivfpq_fixture(spark)
    path = str(tmp_path / "cap")
    build_ivfpq_index(emb, path, coarse_k=4, coarse_iters=2, pq_k=4,
                      pq_iters=2)
    # a clustered hot delta: 40 near-identical vectors land in one cell
    base = emb.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("__v")
    )
    hot = base.crossJoin(spark.range(1, 41)).select(
        (F.lit(5_000_000) + F.col("id")).alias("vec_id"),
        F.transform(
            "__v", lambda x: x + F.lit(0.5) + F.col("id") * F.lit(1e-4)
        ).alias("embedding"),
    )
    ingest_ivfpq_delta(spark, hot, path)
    probes = hot.filter(F.col("vec_id") % 10 == 1)
    # bound: no (probe, cell) group exceeds the cap
    capped = _batch_shortlist_scored(
        spark, probes, path, n_probes=2, top_cells=4, cell_cap=5
    )
    uncapped = _batch_shortlist_scored(
        spark, probes, path, n_probes=2, top_cells=4
    )
    n_c, n_u = capped.count(), uncapped.count()
    assert n_c < n_u  # the hot cell actually got capped
    assert n_c <= probes.count() * 2 * 4 * 5
    # degenerate: cap >= any cell size == uncapped, row for row
    big = _batch_shortlist_scored(
        spark, probes, path, n_probes=2, top_cells=4, cell_cap=10_000
    )
    assert sorted(map(tuple, big.collect())) == sorted(
        map(tuple, uncapped.collect())
    )
    # batch == per-probe under the same cap
    got = {
        (r.probe_id, r.neighbor_id): r.score
        for r in query_ivfpq_index_batch(
            spark, probes, path, k=5, n_probes=2, top_cells=4, cell_cap=5
        ).collect()
    }
    want = {}
    for p in probes.collect():
        topk, _ = query_ivfpq_index(
            spark, path, [float(x) for x in p.embedding], k=6,
            n_probes=2, top_cells=4, cell_cap=5,
        )
        rows = [r for r in topk.collect() if r.id != p.vec_id][:5]
        for r in rows:
            want[(p.vec_id, r.id)] = r.score
    assert got == want


def test_ivfpq_delete_tombstone_lifecycle(spark, tmp_path):
    # round 13: deletes are tombstones (idempotent, final until
    # compaction), every query path reads through the anti-join, and
    # compaction purges physically + empties the ledger + recounts
    import pytest

    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ingest_ivfpq_delta,
        query_ivfpq_index,
        query_ivfpq_index_batch,
        read_ivfpq_meta,
    )
    from neulix_datahub_spark.sources.fragstore import open_index

    emb, _, _ = _ivfpq_fixture(spark)
    path = str(tmp_path / "del")
    build_ivfpq_index(emb, path, coarse_k=4, coarse_iters=2, pq_k=4,
                      pq_iters=2)
    n_total = emb.count()
    dead = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    n_dead = dead.count()
    st = delete_from_ivfpq_index(spark, dead, path)
    assert st["n_tombstones"] == n_dead
    assert st["n_live"] == n_total - n_dead
    # idempotent: re-delete changes nothing
    st2 = delete_from_ivfpq_index(spark, dead, path)
    assert st2["n_tombstones"] == n_dead and st2["n_live"] == st["n_live"]
    # no query path can return a deleted id
    probe = emb.filter(F.col("vec_id") == 0).first()
    topk, _ = query_ivfpq_index(
        spark, path, [float(x) for x in probe.embedding], k=50,
        n_probes=4, top_cells=16,
    )
    dead_ids = {r.vec_id for r in dead.collect()}
    assert not ({r.id for r in topk.collect()} & dead_ids)
    batch = query_ivfpq_index_batch(
        spark, emb.filter(F.col("vec_id") % 100 == 0), path, k=20,
        n_probes=4, top_cells=16,
    )
    assert not ({r.neighbor_id for r in batch.collect()} & dead_ids)
    # re-ingest of a tombstoned id refuses pre-compaction
    with pytest.raises(ValueError, match="tombstoned"):
        ingest_ivfpq_delta(
            spark, emb.join(dead, "vec_id", "semi"), path
        )
    # compaction purges physically, recounts, empties the ledger
    new_meta = compact_ivfpq_index(spark, path)
    assert new_meta["n_vecs"] == n_total - n_dead
    store = open_index(path, "ivfpq")
    assert store.read(spark, "codes").count() == n_total - n_dead
    assert store.dead(spark) is None
    # the id is gone from rest, so it is ingestable again
    st3 = ingest_ivfpq_delta(
        spark, emb.join(dead, "vec_id", "semi").limit(1), path
    )
    assert st3["n_new"] == 1
    assert read_ivfpq_meta(path)["n_vecs"] == n_total - n_dead + 1


def test_ivfpq_rebuild_structure_and_measured_drift_behavior(spark, tmp_path):
    # round 13: rebuild retrains coarse+PQ on the LIVE corpus under the
    # sidecar's frozen structural params, purges tombstones, and commits
    # by generation flip. MEASURED drift behavior (recorded in SCALE.md,
    # deliberately NOT the textbook story): on a TRANSLATED cluster the
    # drifted vectors are cosine-tight but Euclidean-spread, so
    # Euclidean retraining spreads the directional near-dups across
    # cells and amplification does NOT drop — the cap/dedup, not
    # rebuild, is the mitigation for near-duplicate directional mass.
    # This test pins the structural contract and that both audits stay
    # well-formed across the rebuild.
    from neulix_datahub_spark.operators.ivfpq_index import (
        audit_ivfpq_recall,
        build_ivfpq_index,
        delete_from_ivfpq_index,
        ingest_ivfpq_delta,
        read_ivfpq_meta,
        rebuild_ivfpq_index,
    )
    from neulix_datahub_spark.sources.fragstore import open_index

    emb, _, _ = _ivfpq_fixture(spark)
    path = str(tmp_path / "rb")
    build_ivfpq_index(emb, path, coarse_k=8, coarse_iters=3, pq_k=8,
                      pq_iters=3)
    delta = emb.filter(F.col("vec_id") % 5 == 2).select(
        (F.lit(3_000_000) + F.col("vec_id")).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.5)).alias(
            "embedding"
        ),
    )
    ingest_ivfpq_delta(spark, delta, path)
    dead = emb.filter(F.col("vec_id") % 50 == 1).select("vec_id")
    delete_from_ivfpq_index(spark, dead, path)
    probes = delta.filter((F.col("vec_id") - 3_000_000) % 100 == 2)
    before = audit_ivfpq_recall(spark, probes, path, k=10).agg(
        F.sum("n_shortlist").alias("sl"), F.sum("n_hits").alias("h"),
        F.sum("n_exact").alias("e"),
    ).first()
    old_meta = read_ivfpq_meta(path)
    meta = rebuild_ivfpq_index(spark, path)
    # structural params frozen; generation advanced; tombstones purged
    assert meta["coarse_k"] == old_meta["coarse_k"]
    assert meta["pq_k"] == old_meta["pq_k"]
    assert meta["codes_version"] == old_meta["codes_version"] + 1
    n_expect = emb.count() + delta.count() - dead.count()
    assert meta["n_vecs"] == n_expect
    at_rest = open_index(path, "ivfpq").read(spark, "codes")
    assert at_rest.count() == n_expect
    assert at_rest.select("id").distinct().count() == n_expect
    after = audit_ivfpq_recall(spark, probes, path, k=10).agg(
        F.sum("n_shortlist").alias("sl"), F.sum("n_hits").alias("h"),
        F.sum("n_exact").alias("e"),
    ).first()
    # both audits well-formed: every probe found its exact top-10 and a
    # non-empty funnel, before and after the rebuild
    n_probes_ = probes.count()
    assert before["e"] == 10 * n_probes_ == after["e"]
    assert before["sl"] > 0 and after["sl"] > 0
    assert 0 <= after["h"] <= after["e"]
