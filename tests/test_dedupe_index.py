"""Incremental near-dup dedup against the persisted signature index
(round 11, r10-verdict task 1): incremental == batch, exactly;
re-ingest adds nothing; cross-boundary merges compose through the
reduced graph."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from neulix_datahub_spark.operators.components import dedup_by_components
from neulix_datahub_spark.operators.dedupe import (
    minhash_near_duplicates,
    verify_candidate_pairs,
)
from neulix_datahub_spark.operators.dedupe_index import (
    build_dedup_index,
    dedup_survivors,
    ingest_dedup_delta,
    read_dedup_labels,
    read_dedup_meta,
)


def _labels_dict(spark, path):
    return {
        r["id"]: r["component"]
        for r in read_dedup_labels(spark, path).collect()
    }


def _corpus(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


# a small planted corpus: originals + near-copies (first word dropped)
# + unrelated docs; long enough that dropping one word keeps 3-gram
# Jaccard >= 0.8
_BASE = [
    (1, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (2, "colorless green ideas sleep furiously while the night watchman counts the stars above"),
    (3, "a completely different document about spark shuffles and partition pruning at scale"),
    (4, "yet another unrelated text mentioning tokenizers embeddings and deduplication pipelines"),
]
_COPIES = [
    (101, _BASE[0][1].split(" ", 1)[1]),
    (102, _BASE[1][1].split(" ", 1)[1]),
]


def _batch_labels(spark, rows, threshold=0.8):
    """Reference answer: the one-shot classic pipeline's survivors."""
    df = _corpus(spark, rows)
    cand = minhash_near_duplicates(df, "text", "doc_id")
    pairs = verify_candidate_pairs(
        df, cand, text_col="text", id_col="doc_id", threshold=threshold
    )
    kept = dedup_by_components(df, pairs, id_col="doc_id")
    return sorted(r["doc_id"] for r in kept.select("doc_id").collect())


def test_incremental_equals_batch_single_delta(spark, tmp_path):
    """build(prior) + ingest(delta) produces the IDENTICAL label map as
    build(full) — and both agree with the classic one-shot pipeline's
    survivor set."""
    rows = _BASE + _COPIES
    prior, delta = rows[:4], rows[4:]
    p_inc = str(tmp_path / "inc")
    p_full = str(tmp_path / "full")

    build_dedup_index(_corpus(spark, prior), p_inc)
    stats = ingest_dedup_delta(spark, _corpus(spark, delta), p_inc)
    assert stats["n_new"] == 2 and stats["n_edges"] >= 2

    build_dedup_index(_corpus(spark, rows), p_full)
    assert _labels_dict(spark, p_inc) == _labels_dict(spark, p_full)

    survivors = dedup_survivors(
        spark, p_inc, _corpus(spark, rows), "doc_id"
    )
    assert sorted(
        r["doc_id"] for r in survivors.select("doc_id").collect()
    ) == _batch_labels(spark, rows)


def test_incremental_multi_delta_composes(spark, tmp_path):
    """Two sequential ingests equal the one-shot build: the second
    delta's candidates must see the FIRST delta's appended features,
    not just the original build's."""
    rows = _BASE + _COPIES + [(103, _BASE[2][1].split(" ", 1)[1])]
    p_inc = str(tmp_path / "inc")
    p_full = str(tmp_path / "full")

    build_dedup_index(_corpus(spark, rows[:4]), p_inc)
    ingest_dedup_delta(spark, _corpus(spark, rows[4:6]), p_inc)
    ingest_dedup_delta(spark, _corpus(spark, rows[6:]), p_inc)
    build_dedup_index(_corpus(spark, rows), p_full)
    assert _labels_dict(spark, p_inc) == _labels_dict(spark, p_full)
    assert read_dedup_meta(p_inc)["n_docs"] == len(rows)


def test_reingest_is_idempotent(spark, tmp_path):
    """Re-ingesting an already-ingested delta (the retried-Airflow-task
    case) adds nothing: stats all zero, labels identical, no new index
    files, pointer unmoved."""
    p = str(tmp_path / "idx")
    build_dedup_index(_corpus(spark, _BASE), p)
    delta = _corpus(spark, _COPIES)
    ingest_dedup_delta(spark, delta, p)
    before_labels = _labels_dict(spark, p)
    before_meta = read_dedup_meta(p)
    before_files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(p)
        for f in fs
        if not f.startswith(("_", "."))
    )

    again = ingest_dedup_delta(spark, delta, p)
    assert again == {
        "n_new": 0, "n_candidates": 0, "n_edges": 0,
        "labels_version": before_meta["labels_version"],
    }
    assert _labels_dict(spark, p) == before_labels
    assert read_dedup_meta(p) == before_meta
    after_files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(p)
        for f in fs
        if not f.startswith(("_", "."))
    )
    assert after_files == before_files


def test_delta_bridges_two_prior_components(spark, tmp_path):
    """The hard incremental-CC case: a delta document connects TWO
    distinct prior components (possible whenever threshold < 2t-1 is
    violated... i.e. for t=0.5 two docs at J~0.3 can share a bridge at
    J>=0.5 each) — the reduced graph must merge the prior labels, and
    the remap must relabel BOTH old components to the global minimum."""
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "iota kappa lmbda mu nu xi omicron pi"
    bridge = a + " " + b  # shares half its shingles with each side
    prior = [(10, a), (20, b)]
    delta = [(30, bridge)]
    p = str(tmp_path / "bridge")
    # rows-per-band = 1: collision probability 1-(1-s)^32 ~ 1 at
    # s~0.47, so the banding can't miss the bridge pairs and the test
    # exercises the MERGE, not the LSH miss rate
    lsh = dict(num_hashes=32, bands=32, threshold=0.4, shingle_n=2)
    meta = build_dedup_index(_corpus(spark, prior), p, **lsh)
    assert meta["threshold"] == 0.4
    # prior state: two singleton components
    assert _labels_dict(spark, p) == {10: 10, 20: 20}
    ingest_dedup_delta(spark, _corpus(spark, delta), p)
    got = _labels_dict(spark, p)
    p_full = str(tmp_path / "bridge_full")
    build_dedup_index(_corpus(spark, prior + delta), p_full, **lsh)
    assert got == _labels_dict(spark, p_full)
    assert got == {10: 10, 20: 10, 30: 10}, got


def test_incremental_equals_batch_property(spark, tmp_path):
    """Property: on random small corpora (shared vocabulary so near-dup
    pairs actually occur) and a random split point, incremental ==
    batch label maps, exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    vocab = ["red", "green", "blue", "fox", "dog", "run", "jump", "sky"]
    doc = st.lists(st.sampled_from(vocab), min_size=3, max_size=10).map(
        " ".join
    )
    case = st.lists(doc, min_size=2, max_size=7).flatmap(
        lambda docs: st.integers(1, len(docs) - 1).map(
            lambda k: (docs, k)
        )
    )
    counter = iter(range(10_000))

    @settings(max_examples=5, deadline=None)
    @given(case)
    def check(docs_k):
        docs, k = docs_k
        rows = [(i, t) for i, t in enumerate(docs)]
        run = next(counter)
        p_inc = str(tmp_path / f"pi{run}")
        p_full = str(tmp_path / f"pf{run}")
        build_dedup_index(
            _corpus(spark, rows[:k]), p_inc, threshold=0.5, shingle_n=2
        )
        ingest_dedup_delta(spark, _corpus(spark, rows[k:]), p_inc)
        build_dedup_index(
            _corpus(spark, rows), p_full, threshold=0.5, shingle_n=2
        )
        assert _labels_dict(spark, p_inc) == _labels_dict(spark, p_full)

    check()


def test_stream_ingest_slice_invariant_and_redelivery_idempotent(
    spark, tmp_path
):
    """The foreachBatch twin: (a) two micro-batches through
    stream_dedup_index_ingest land the SAME labels as a one-shot batch
    build (slice invariance); (b) a full REDELIVERY of the stream with
    a fresh checkpoint (the checkpoint-loss case — worse than any
    foreachBatch replay) changes nothing, because idempotence lives in
    the index's id anti-join, not in sink stamps."""
    import shutil

    from neulix_datahub_spark.operators.dedupe_index import (
        build_dedup_index,
    )
    from neulix_datahub_spark.streaming.sinks import stream_dedup_index_ingest

    rows = _BASE + _COPIES
    p = str(tmp_path / "sidx")
    build_dedup_index(_corpus(spark, rows[:4]), p)

    src = tmp_path / "src"
    src.mkdir()
    for name, part, mtime in (("a", rows[4:5], 1e6), ("b", rows[5:], 2e6)):
        stage = str(tmp_path / f"stage_{name}")
        _corpus(spark, part).coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = str(src / f"{name}.parquet")
        shutil.move(os.path.join(stage, pf), dst)
        os.utime(dst, (mtime, mtime))

    def drain(ckpt):
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        stream_dedup_index_ingest(
            stream, p, checkpoint_dir=str(tmp_path / ckpt)
        ).awaitTermination()

    drain("ckpt1")
    got = _labels_dict(spark, p)
    p_full = str(tmp_path / "full")
    build_dedup_index(_corpus(spark, rows), p_full)
    assert got == _labels_dict(spark, p_full)

    before_meta = read_dedup_meta(p)
    drain("ckpt2")  # fresh checkpoint: full redelivery of both batches
    assert _labels_dict(spark, p) == got
    assert read_dedup_meta(p) == before_meta


def test_compaction_is_invariant_and_defragments(spark, tmp_path):
    """compact_dedup_index is a pure rewrite: after several fragmenting
    ingests, compaction cuts the per-band file counts to the target,
    flips both feature pointers in one sidecar commit, removes the old
    generations — and changes NOTHING observable: labels identical, a
    post-compaction ingest still produces exactly the batch answer."""
    from neulix_datahub_spark.operators.dedupe_index import (
        build_dedup_index,
        compact_dedup_index,
    )
    from neulix_datahub_spark.sources.fragstore import open_index

    rows = _BASE + _COPIES + [(103, _BASE[2][1].split(" ", 1)[1])]
    p = str(tmp_path / "cidx")
    build_dedup_index(_corpus(spark, rows[:4]), p)
    ingest_dedup_delta(spark, _corpus(spark, rows[4:5]), p)
    ingest_dedup_delta(spark, _corpus(spark, rows[5:6]), p)
    before = _labels_dict(spark, p)

    log = compact_dedup_index(spark, p, files_per_band=1, shingle_files=1)
    assert log["band_files_after"] < log["band_files_before"], log
    assert log["shingle_files_after"] <= log["shingle_files_before"], log
    meta = read_dedup_meta(p)
    assert meta["bands_version"] == 1 and meta["shingles_version"] == 1
    assert not os.path.exists(os.path.join(p, "bands_v0"))
    assert not os.path.exists(os.path.join(p, "shingles_v0"))
    store = open_index(p, "dedup")
    assert os.path.isdir(store.gen_dir("bands"))
    assert os.path.isdir(store.gen_dir("shingles"))
    assert _labels_dict(spark, p) == before

    # the compacted index keeps composing: one more ingest == full build
    ingest_dedup_delta(spark, _corpus(spark, rows[6:]), p)
    p_full = str(tmp_path / "cfull")
    build_dedup_index(_corpus(spark, rows), p_full)
    assert _labels_dict(spark, p) == _labels_dict(spark, p_full)


def test_duplicate_or_null_ids_are_refused(spark, tmp_path):
    """Round-11 review fix: id uniqueness is the index's identity
    contract (anti-join idempotence, one-row-per-id labels, n_docs).
    A duplicate-id or NULL-id batch is REFUSED with a clear error in
    both build and ingest instead of silently corrupting the grain."""
    import pytest

    from neulix_datahub_spark.operators.dedupe_index import (
        build_dedup_index,
    )

    p = str(tmp_path / "dupidx")
    dup = _corpus(spark, [(1, "some text here"), (1, "other text entirely")])
    with pytest.raises(ValueError, match="duplicate"):
        build_dedup_index(dup, p)

    build_dedup_index(_corpus(spark, _BASE), p)
    fresh_dup = _corpus(
        spark, [(999, "some text here"), (999, "other text entirely")]
    )
    with pytest.raises(ValueError, match="duplicate"):
        ingest_dedup_delta(spark, fresh_dup, p)
    nul = spark.createDataFrame(
        [(None, "ghost row")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="NULL"):
        ingest_dedup_delta(spark, nul, p)
    # the refused batches changed nothing
    assert _labels_dict(spark, p) == {r[0]: r[0] for r in _BASE}


def test_stale_generations_are_swept(spark, tmp_path):
    """Round-11 review fix: a crash between a pointer flip and its
    cleanup rmtree orphans the old generation; the next ingest or
    compaction sweeps every generation BELOW the committed pointers
    (never at/above them)."""
    from neulix_datahub_spark.operators.dedupe_index import (
        compact_dedup_index,
    )

    p = str(tmp_path / "sweep")
    build_dedup_index(_corpus(spark, _BASE), p)
    # plant crash debris: fake pre-flip generations below the pointers
    ingest_dedup_delta(spark, _corpus(spark, _COPIES[:1]), p)  # labels_v1
    os.makedirs(os.path.join(p, "labels_v0"), exist_ok=True)
    compact_dedup_index(spark, p)  # pointers -> bands_v1/shingles_v1
    os.makedirs(os.path.join(p, "bands_v0"), exist_ok=True)
    os.makedirs(os.path.join(p, "shingles_v0"), exist_ok=True)
    before = _labels_dict(spark, p)
    ingest_dedup_delta(spark, _corpus(spark, _COPIES[1:]), p)
    for stale in ("labels_v0", "labels_v1", "bands_v0", "shingles_v0"):
        assert not os.path.exists(os.path.join(p, stale)), stale
    meta = read_dedup_meta(p)
    assert os.path.isdir(os.path.join(p, f"labels_v{meta['labels_version']}"))
    assert set(before) <= set(_labels_dict(spark, p))


def test_dedup_oracle_vt_whitespace_parity(spark, tmp_path):
    """Round-11 review fix: the dedup-tier oracles normalized with
    RE2's '\\s+' (which EXCLUDES vertical tab) while the engine's
    shingles use Java \\s (which includes it) — the same latent
    divergence round 10 migrated the text tier away from. The closure
    oracle now spells the explicit ASCII class; a VT corpus must dedup
    identically in both engines."""
    import duckdb

    # 'alpha\x0bbeta ...' — Java \s splits on VT, so both docs
    # normalize to the SAME text and are exact near-dups; with RE2 \s+
    # the oracle would keep 'alpha\x0bbeta' as one token and see two
    # UNRELATED docs (jaccard 0 on trigrams of different tokenizations)
    t1 = "alpha\x0bbeta gamma delta epsilon zeta"
    t2 = "alpha beta gamma delta epsilon zeta"
    rows = [(1, t1), (2, t2)]
    p = str(tmp_path / "vt")
    build_dedup_index(_corpus(spark, rows), p)
    assert _labels_dict(spark, p) == {1: 1, 2: 1}

    from neulix_datahub_spark.plans.queries_stream import NEARDUP_CLOSURE_SQL

    sql = NEARDUP_CLOSURE_SQL.replace(
        """corpus AS (
    SELECT doc_id, lang, text FROM documents WHERE doc_id < 100
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, lang,
           substring(text, instr(text, ' ') + 1) AS text
    FROM documents WHERE doc_id < 100
)""",
        "corpus AS (SELECT doc_id, 'xx' AS lang, text FROM documents)",
    ) + "SELECT id, component FROM (SELECT id, min(r) AS component FROM reach GROUP BY id) ORDER BY id"
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    assert [tuple(r) for r in con.execute(sql).fetchall()] == [(1, 1), (2, 1)]


def test_null_text_rows_are_singletons(spark, tmp_path):
    """NULL-text docs carry no content to near-match on: they band and
    shingle into nothing, survive as their own components, and never
    pair — in build and ingest alike."""
    p = str(tmp_path / "nulls")
    build_dedup_index(
        _corpus(spark, [(1, "some words here repeated words here"), (2, None)]), p
    )
    stats = ingest_dedup_delta(
        spark, _corpus(spark, [(3, None), (4, "unrelated fresh content")]), p
    )
    assert stats["n_new"] == 2 and stats["n_edges"] == 0
    assert _labels_dict(spark, p) == {1: 1, 2: 2, 3: 3, 4: 4}


# ---------------------------------------------------------------------------
# Semantic (embedding-cosine) incremental index — shares the label-
# extension/commit machinery; candidates are exact cosine, verify is
# exact bigram Jaccard, so incremental == batch is the same theorem.

_VECS = [
    (1, [1.0, 0.0, 0.0], "alpha beta gamma delta"),
    (2, [0.99, 0.1, 0.0], "alpha beta gamma epsilon"),   # near-dup of 1
    (3, [0.0, 1.0, 0.0], "totally different words here"),
    (4, [0.0, 0.98, 0.2], "totally different words there"),  # near-dup of 3
    (5, [0.0, 0.0, 1.0], "unrelated content entirely"),
]


def _sem_tables(spark, rows):
    emb = spark.createDataFrame(
        [(i, v) for i, v, _ in rows], "vec_id long, embedding array<double>"
    )
    docs = spark.createDataFrame(
        [(i, t) for i, _, t in rows], "doc_id long, text string"
    )
    return emb, docs


def _sem_labels(spark, path):
    from neulix_datahub_spark.operators.semantic_index import (
        read_semantic_labels,
    )

    return {
        r["id"]: r["component"]
        for r in read_semantic_labels(spark, path).collect()
    }


def test_semantic_incremental_equals_batch_and_is_idempotent(spark, tmp_path):
    """build(prior) + ingest(delta) == build(full) for the embedding
    index, including a delta vector that joins a PRIOR near-dup pair's
    component; re-ingesting the same delta is a no-op."""
    from neulix_datahub_spark.operators.semantic_index import (
        build_semantic_index,
        ingest_semantic_delta,
        read_semantic_meta,
        semantic_survivors,
    )

    prior, delta = _VECS[:3], _VECS[3:]
    p_inc, p_full = str(tmp_path / "si"), str(tmp_path / "sf")
    e1, d1 = _sem_tables(spark, prior)
    build_semantic_index(e1, d1, p_inc, cos_threshold=0.9,
                         jaccard_threshold=0.5)
    e2, d2 = _sem_tables(spark, delta)
    stats = ingest_semantic_delta(spark, e2, d2, p_inc)
    assert stats["n_new"] == 2 and stats["n_edges"] == 1

    ef, df_ = _sem_tables(spark, _VECS)
    build_semantic_index(ef, df_, p_full, cos_threshold=0.9,
                         jaccard_threshold=0.5)
    got = _sem_labels(spark, p_inc)
    assert got == _sem_labels(spark, p_full)
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}

    before = read_semantic_meta(p_inc)
    again = ingest_semantic_delta(spark, e2, d2, p_inc)
    assert again["n_new"] == 0 and read_semantic_meta(p_inc) == before

    kept = semantic_survivors(spark, p_inc, ef, "vec_id")
    assert sorted(r["vec_id"] for r in kept.select("vec_id").collect()) == [1, 3, 5]


def test_semantic_verify_stage_is_load_bearing(spark, tmp_path):
    """A pair above the cosine threshold but BELOW the Jaccard verify
    threshold must not merge — the two-stage recipe's precision stage
    works in the incremental path too."""
    from neulix_datahub_spark.operators.semantic_index import (
        build_semantic_index,
        ingest_semantic_delta,
    )

    rows = [
        (1, [1.0, 0.0], "completely unrelated text one"),
        (2, [0.999, 0.01], "nothing shared with that other"),
    ]
    e1, d1 = _sem_tables(spark, rows[:1])
    p = str(tmp_path / "verify")
    build_semantic_index(e1, d1, p, cos_threshold=0.9, jaccard_threshold=0.5)
    e2, d2 = _sem_tables(spark, rows[1:])
    stats = ingest_semantic_delta(spark, e2, d2, p)
    assert stats["n_candidates"] == 1 and stats["n_edges"] == 0
    assert _sem_labels(spark, p) == {1: 1, 2: 2}


def test_semantic_banded_incremental_equals_batch_and_exact(spark, tmp_path):
    """candidates=\"banded\" (the 100 TB path): sign-LSH band collisions
    + exact-cosine precision stage replace the brute-force delta×corpus
    join. Banding is a data-independent pure function of the vector, so
    build(prior)+ingest(delta) == build(full) holds for the banded
    definition too; at permissive banding every verified pair collides,
    so the result also equals exact mode on this fixture. The banding
    parameters are frozen in the sidecar and the bands relation appends
    per ingest."""
    import os

    from neulix_datahub_spark.operators.semantic_index import (
        build_semantic_index,
        ingest_semantic_delta,
        read_semantic_meta,
    )

    kw = dict(cos_threshold=0.9, jaccard_threshold=0.5,
              candidates="banded", num_planes=16, bands=8)
    p_inc, p_full = str(tmp_path / "bi"), str(tmp_path / "bf")
    e1, d1 = _sem_tables(spark, _VECS[:3])
    build_semantic_index(e1, d1, p_inc, **kw)
    e2, d2 = _sem_tables(spark, _VECS[3:])
    stats = ingest_semantic_delta(spark, e2, d2, p_inc)
    assert stats["n_new"] == 2 and stats["n_edges"] == 1

    ef, df_ = _sem_tables(spark, _VECS)
    build_semantic_index(ef, df_, p_full, **kw)
    got = _sem_labels(spark, p_inc)
    assert got == _sem_labels(spark, p_full)
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}

    meta = read_semantic_meta(p_inc)
    assert meta["candidates"] == "banded" and meta["num_planes"] == 16
    from neulix_datahub_spark.sources.fragstore import open_index

    bands = open_index(p_inc, "semantic").read(spark, "bands")
    assert bands.count() == 5 * 8  # one row per (id, band), delta appended

    import pytest

    with pytest.raises(ValueError, match="unknown candidates"):
        build_semantic_index(e1, d1, str(tmp_path / "bad"),
                             candidates="bucketed")


def test_semantic_compaction_is_invariant_and_defragments(spark, tmp_path):
    """compact_semantic_index mirrors the text index's maintenance job:
    after fragmenting ingests on a BANDED index, compaction rewrites
    vectors + shingles + bands into next generations with one sidecar
    flip, removes the old generations, and changes nothing observable —
    labels identical, and a post-compaction ingest still lands on the
    full-build answer."""
    import os

    from neulix_datahub_spark.operators.semantic_index import (
        build_semantic_index,
        compact_semantic_index,
        ingest_semantic_delta,
        read_semantic_meta,
    )

    kw = dict(cos_threshold=0.9, jaccard_threshold=0.5,
              candidates="banded", num_planes=16, bands=8)
    p = str(tmp_path / "csi")
    e1, d1 = _sem_tables(spark, _VECS[:2])
    build_semantic_index(e1, d1, p, **kw)
    e2, d2 = _sem_tables(spark, _VECS[2:3])
    ingest_semantic_delta(spark, e2, d2, p)
    e3, d3 = _sem_tables(spark, _VECS[3:4])
    ingest_semantic_delta(spark, e3, d3, p)
    before = _sem_labels(spark, p)

    log = compact_semantic_index(spark, p, vector_files=1, shingle_files=1)
    assert log["vector_files_after"] < log["vector_files_before"], log
    assert log["band_files_after"] < log["band_files_before"], log
    meta = read_semantic_meta(p)
    assert (meta["vectors_version"], meta["shingles_version"],
            meta["bands_version"]) == (1, 1, 1)
    for old in ("vectors_v0", "shingles_v0", "bands_v0"):
        assert not os.path.exists(os.path.join(p, old))
    assert _sem_labels(spark, p) == before

    e4, d4 = _sem_tables(spark, _VECS[4:])
    ingest_semantic_delta(spark, e4, d4, p)
    p_full = str(tmp_path / "csf")
    ef, df_ = _sem_tables(spark, _VECS)
    build_semantic_index(ef, df_, p_full, **kw)
    assert _sem_labels(spark, p) == _sem_labels(spark, p_full)
    assert _sem_labels(spark, p) == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}


def test_semantic_index_refuses_docs_embedding_mismatch(spark, tmp_path):
    """The semantic index joins TWO inputs (embeddings + documents), so
    their correspondence is enforced, not assumed: a docs batch with a
    duplicate row would append duplicate shingle rows; an embedding
    with no docs row could never Jaccard-verify (a permanently inert
    hole in the dedup state). Both refuse, at build and at ingest;
    NULL text stays legitimate (no-shingles drop, shared with the
    batch path)."""
    import pytest

    from neulix_datahub_spark.operators.semantic_index import (
        build_semantic_index,
        ingest_semantic_delta,
    )

    e1, d1 = _sem_tables(spark, _VECS[:2])
    p = str(tmp_path / "contract")

    dup_docs = d1.unionByName(d1.limit(1))
    with pytest.raises(ValueError, match="duplicate rows"):
        build_semantic_index(e1, dup_docs, p, cos_threshold=0.9,
                             jaccard_threshold=0.5)
    with pytest.raises(ValueError, match="no docs row"):
        build_semantic_index(e1, d1.limit(1), p, cos_threshold=0.9,
                             jaccard_threshold=0.5)

    build_semantic_index(e1, d1, p, cos_threshold=0.9, jaccard_threshold=0.5)
    e2, d2 = _sem_tables(spark, _VECS[2:4])
    with pytest.raises(ValueError, match="duplicate rows"):
        ingest_semantic_delta(spark, e2, d2.unionByName(d2.limit(1)), p)
    with pytest.raises(ValueError, match="no docs row"):
        ingest_semantic_delta(spark, e2, d2.limit(1), p)

    # NULL text is allowed: the row exists, it just carries no shingles
    # (so it can never verify — by the SHARED projection contract, the
    # batch pipeline drops it identically).
    e3 = spark.createDataFrame(
        [(9, [0.5, 0.5, 0.0])], "vec_id long, embedding array<double>"
    )
    d3 = spark.createDataFrame([(9, None)], "doc_id long, text string")
    stats = ingest_semantic_delta(spark, e3, d3, p)
    assert stats["n_new"] == 1
    assert _sem_labels(spark, p)[9] == 9


def test_canonical_index_survivors_argmax(spark, tmp_path):
    """The persisted-index twin of canonical_by_components: highest
    score per cluster survives (min-id tie-break), unclustered rows
    pass through, and with a constant score it degrades to the min-id
    dedup_survivors pick."""
    from neulix_datahub_spark.operators.dedupe_index import (
        canonical_index_survivors,
    )

    rows = _BASE + _COPIES
    p = str(tmp_path / "cidx")
    build_dedup_index(_corpus(spark, rows), p)
    df = _corpus(spark, rows)

    # length scores: the ORIGINALS are one token longer than the copies
    kept = sorted(
        r["doc_id"]
        for r in canonical_index_survivors(
            spark, p, df, "doc_id", F.length("text")
        ).collect()
    )
    assert kept == [1, 2, 3, 4]

    # inverted score: the COPIES win their clusters
    kept_inv = sorted(
        r["doc_id"]
        for r in canonical_index_survivors(
            spark, p, df, "doc_id", -F.length("text")
        ).collect()
    )
    assert kept_inv == [3, 4, 101, 102]

    # constant score == min-id pick == dedup_survivors
    kept_const = sorted(
        r["doc_id"]
        for r in canonical_index_survivors(
            spark, p, df, "doc_id", F.lit(1)
        ).collect()
    )
    assert kept_const == sorted(
        r["doc_id"] for r in dedup_survivors(spark, p, df, "doc_id").collect()
    )


def test_semantic_auto_candidate_mode_switch_point(spark, tmp_path, monkeypatch):
    """candidates='auto' resolves by corpus row count at build time —
    exact strictly below the crossover, banded at/above — and the
    RESOLVED mode freezes into the sidecar (ingest follows it; labels
    identical either way since both modes feed the same precision
    stage)."""
    from neulix_datahub_spark.operators import semantic_index as si

    prior = _VECS[:3]
    e1, d1 = _sem_tables(spark, prior)

    # 3 rows < crossover 4 -> exact
    monkeypatch.setattr(si, "_AUTO_BANDED_MIN_ROWS", 4)
    p_exact = str(tmp_path / "auto_exact")
    meta = si.build_semantic_index(
        e1, d1, p_exact, cos_threshold=0.9, jaccard_threshold=0.5
    )
    assert meta["candidates"] == "exact"
    assert "bands_version" not in meta

    # 3 rows >= crossover 3 -> banded, and the frozen mode drives ingest
    monkeypatch.setattr(si, "_AUTO_BANDED_MIN_ROWS", 3)
    p_banded = str(tmp_path / "auto_banded")
    meta = si.build_semantic_index(
        e1, d1, p_banded, cos_threshold=0.9, jaccard_threshold=0.5
    )
    assert meta["candidates"] == "banded"
    assert meta["bands_version"] == 0
    e2, d2 = _sem_tables(spark, _VECS[3:])
    si.ingest_semantic_delta(spark, e2, d2, p_banded)
    assert si.read_semantic_meta(p_banded)["candidates"] == "banded"

    # same labels as an explicit-exact build over the full corpus
    ef, df_ = _sem_tables(spark, _VECS)
    p_full = str(tmp_path / "explicit")
    si.build_semantic_index(
        ef, df_, p_full, cos_threshold=0.9, jaccard_threshold=0.5,
        candidates="exact",
    )
    assert _sem_labels(spark, p_banded) == _sem_labels(spark, p_full)


def test_cosine_pairs_arrow_tier_parity(spark):
    """The r14 Arrow precision stage must be BIT-identical to the
    join + HOF form it gates over: same rounded cosines, same filtered
    pair set, on adversarial vectors (near-threshold values, zero
    vectors -> NaN cosines, negative components), plus the fallback
    conditions — unknown pair ids drop like the inner joins, a ragged,
    null-bearing, duplicate-id or over-the-byte-gate vector relation
    routes to the join form."""
    import random

    from neulix_datahub_spark.operators.semantic_index import (
        _cosine_pairs,
    )

    rng = random.Random(7)
    dim = 16
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(41)]
    vecs.append((41, vecs[0][1][:]))        # exact duplicate -> cos 1.0
    vectors = spark.createDataFrame(vecs, "id long, vec array<double>")
    pairs = spark.createDataFrame(
        [(a, b) for a in range(42) for b in range(a + 1, 42)]
        + [(0, 999)],                        # unknown id: joins drop it
        "id_a long, id_b long",
    )

    def run(gate, vs=vectors):
        spark.conf.set("spark.neulix.semantic.driverMaxVectors", str(gate))
        try:
            out = _cosine_pairs(pairs, vs, -2.0)
            plan = out._jdf.queryExecution().analyzed().toString()
            return sorted(map(tuple, out.collect())), "MapInArrow" in plan
        finally:
            spark.conf.unset("spark.neulix.semantic.driverMaxVectors")

    (arrow, used_arrow), (join, _) = run(10_000), run(0)
    assert used_arrow
    assert arrow == join and len(arrow) > 0
    assert all(len(t) == 3 for t in arrow)

    # a duplicate id (two vectors for id 5) takes the join form, which
    # emits one row per matching duplicate; the Arrow tier's one-vector-
    # per-id map would silently collapse them
    dup = spark.createDataFrame(
        vecs + [(5, vecs[9][1][:])], "id long, vec array<double>"
    )
    (dup_gated, used_arrow), (dup_join, _) = run(10_000, dup), run(0, dup)
    assert not used_arrow
    assert dup_gated == dup_join
    assert len(dup_join) == len(join) + 41

    # a zero-norm vector raises the SAME ANSI divide-by-zero both ways
    import pytest

    zvecs = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [0.0, 0.0])], "id long, vec array<double>"
    )
    zpairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    for gate in ("10000", "0"):
        spark.conf.set("spark.neulix.semantic.driverMaxVectors", gate)
        try:
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                _cosine_pairs(zpairs, zvecs, -2.0).collect()
        finally:
            spark.conf.unset("spark.neulix.semantic.driverMaxVectors")

    # threshold filtering identical too (NaN pairs behave the same)
    def run_t(gate):
        spark.conf.set("spark.neulix.semantic.driverMaxVectors", str(gate))
        try:
            return sorted(
                map(tuple, _cosine_pairs(pairs, vectors, 0.30).collect())
            )
        finally:
            spark.conf.unset("spark.neulix.semantic.driverMaxVectors")

    assert run_t(10_000) == run_t(0)

    # ragged dims and null vectors refuse the Arrow tier (fall back to
    # the join form — results still equal by definition)
    ragged = spark.createDataFrame(
        vecs + [(42, [1.0] * (dim - 3)), (43, None)],
        "id long, vec array<double>",
    )
    spark.conf.set("spark.neulix.semantic.driverMaxVectors", "10000")
    try:
        out = _cosine_pairs(pairs, ragged, -2.0)
        assert "mapInArrow" not in out._jdf.queryExecution().analyzed().toString()
        assert "MapInArrow" not in out._jdf.queryExecution().analyzed().toString()
    finally:
        spark.conf.unset("spark.neulix.semantic.driverMaxVectors")

    # the gate is in bytes (rows x dim, in 64-dim equivalents): 42
    # dim-128 vectors fit a 60-row gate by count but not by size
    # (42 x 128 > 60 x 64), so they take the join form, with the same
    # results the Arrow tier gives under a larger gate
    wide = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(128)]) for i in range(42)],
        "id long, vec array<double>",
    )
    (wide_join, used_arrow), (wide_arrow, used_arrow_big) = (
        run(60, wide), run(10_000, wide)
    )
    assert not used_arrow and used_arrow_big
    assert wide_join == wide_arrow and len(wide_join) == 42 * 41 // 2
