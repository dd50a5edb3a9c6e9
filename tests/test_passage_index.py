"""Incremental passage dedup against the persisted gram-count index
(round 11): build(prior)+ingest(delta) == full-corpus counts, exactly;
re-ingest adds nothing; orphan fragments are swept; compaction is a
pure rewrite."""

from __future__ import annotations

import os

import pytest

from neulix_datahub_spark.operators.passage_index import (
    build_passage_index,
    compact_passage_index,
    ingest_passage_delta,
    read_passage_gram_counts,
    read_passage_meta,
    scrub_against_passage_index,
)
from neulix_datahub_spark.operators.passages import remove_repeated_passages
from neulix_datahub_spark.sources.fragstore import open_index


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# a corpus where the repeated 3-gram runs CROSS the prior/delta split:
# "shared passage tokens" appears in prior doc 1 and delta doc 101 —
# only a corpus-wide count finds it; "prior only run here" repeats
# inside the prior; delta doc 102 repeats its own passage
_PRIOR = [
    (1, "alpha shared passage tokens omega"),
    (2, "prior only run here one"),
    (3, "prior only run here two"),
    (4, "nothing in common with anything"),
]
_DELTA = [
    (101, "beta shared passage tokens gamma"),
    (102, "self repeat span x self repeat span y"),
]


def _scrub_rows(spark, path, docs):
    return sorted(
        map(
            tuple,
            scrub_against_passage_index(spark, docs, path, min_count=2)
            .select("doc_id", "text", "n_tokens_after", "n_passages")
            .collect(),
        )
    )


def test_incremental_equals_batch(spark, tmp_path):
    path = str(tmp_path / "idx")
    full = _docs(spark, _PRIOR + _DELTA)
    build_passage_index(_docs(spark, _PRIOR), path, n=3)
    ingest_passage_delta(spark, _docs(spark, _DELTA), path)

    got = _scrub_rows(spark, path, full)
    want = sorted(
        map(
            tuple,
            remove_repeated_passages(full, "text", "doc_id", n=3)
            .select("doc_id", "text", "n_tokens_after", "n_passages")
            .collect(),
        )
    )
    assert got == want
    # and the cross-boundary passage was actually found (load-bearing)
    by_id = {r[0]: r for r in got}
    assert "shared passage tokens" not in by_id[1][1]
    assert "shared passage tokens" not in by_id[101][1]
    # the within-delta self-repeat too
    assert by_id[102][3] >= 1


def test_reingest_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_passage_index(_docs(spark, _PRIOR), path, n=3)
    ingest_passage_delta(spark, _docs(spark, _DELTA), path)
    before = sorted(
        map(tuple, read_passage_gram_counts(spark, path).collect())
    )
    meta_before = read_passage_meta(path)

    stats = ingest_passage_delta(spark, _docs(spark, _DELTA), path)
    assert stats["n_new"] == 0
    assert read_passage_meta(path) == meta_before
    after = sorted(
        map(tuple, read_passage_gram_counts(spark, path).collect())
    )
    assert after == before


def test_orphan_fragment_is_swept_and_never_counted(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_passage_index(_docs(spark, _PRIOR), path, n=3)
    meta = read_passage_meta(path)
    # simulate a crash AFTER the fragment write, BEFORE the pointer
    # bump: a frag=1 exists but n_fragments is still 1
    orphan = os.path.join(
        open_index(path, "passage").gen_dir("grams"), "frag=1"
    )
    _docs(spark, _DELTA).sparkSession.createDataFrame(
        [("ghost gram never", 999)], "gram string, cnt long"
    ).write.parquet(orphan)
    assert meta["n_fragments"] == 1
    counts = {
        r["gram"]: r["cnt"]
        for r in read_passage_gram_counts(spark, path).collect()
    }
    assert "ghost gram never" not in counts  # committed frags only
    ingest_passage_delta(spark, _docs(spark, _DELTA), path)
    # the retried ingest swept the orphan and REUSED slot 1
    counts = {
        r["gram"]: r["cnt"]
        for r in read_passage_gram_counts(spark, path).collect()
    }
    assert "ghost gram never" not in counts
    assert counts.get("shared passage tokens") == 2


def test_compaction_is_invariant_and_defragments(spark, tmp_path):
    path = str(tmp_path / "idx")
    full = _docs(spark, _PRIOR + _DELTA)
    build_passage_index(_docs(spark, _PRIOR), path, n=3)
    ingest_passage_delta(spark, _docs(spark, _DELTA[:1]), path)
    ingest_passage_delta(spark, _docs(spark, _DELTA[1:]), path)
    before = _scrub_rows(spark, path, full)
    counts_before = sorted(
        map(tuple, read_passage_gram_counts(spark, path).collect())
    )

    log = compact_passage_index(spark, path, files=2)
    assert log["fragments_before"] == 3
    assert log["fragments_after"] == 1
    meta = read_passage_meta(path)
    assert meta["generation"] == 1 and meta["n_fragments"] == 1
    assert not os.path.exists(os.path.join(path, "grams_v0"))
    assert sorted(
        map(tuple, read_passage_gram_counts(spark, path).collect())
    ) == counts_before
    assert _scrub_rows(spark, path, full) == before
    # a further ingest keeps working on the new generation
    extra = _docs(spark, [(201, "prior only run here three")])
    ingest_passage_delta(spark, extra, path)
    counts = {
        r["gram"]: r["cnt"]
        for r in read_passage_gram_counts(spark, path).collect()
    }
    assert counts.get("only run here") == 3


def test_duplicate_and_null_ids_refused(spark, tmp_path):
    path = str(tmp_path / "idx")
    dup = _docs(spark, [(1, "a b c"), (1, "d e f")])
    with pytest.raises(ValueError, match="duplicate"):
        build_passage_index(dup, path, n=3)
    build_passage_index(_docs(spark, _PRIOR), path, n=3)
    null_id = spark.createDataFrame(
        [(None, "x y z")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="NULL"):
        ingest_passage_delta(spark, null_id, path)
    # a delta overlapping known ids is fine (anti-joined away), but
    # duplicates WITHIN the never-seen remainder are refused
    mixed = _docs(spark, [(1, "already known"), (300, "n1"), (300, "n2")])
    with pytest.raises(ValueError, match="duplicate"):
        ingest_passage_delta(spark, mixed, path)


def test_index_scrub_plan_shape(spark, tmp_path):
    """Scale pin: the index-backed scrub filters the corpus grams by a
    LeftSemi against the repeated-gram relation (never multiplies), has
    no cartesian product, and every window is partitioned by doc_id."""
    from tests.test_plan_shapes import global_windows

    path = str(tmp_path / "idx")
    full = _docs(spark, _PRIOR + _DELTA)
    build_passage_index(_docs(spark, _PRIOR), path, n=3)
    ingest_passage_delta(spark, _docs(spark, _DELTA), path)
    out = scrub_against_passage_index(spark, full, path)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert global_windows(out) == []


def test_stream_ingest_slice_invariant_and_redelivery_idempotent(
    spark, tmp_path
):
    """The foreachBatch twin: (a) two micro-batches through
    stream_passage_index_ingest land the SAME gram counts as a one-shot
    batch build (slice invariance — counts are additive); (b) a full
    REDELIVERY with a fresh checkpoint (the checkpoint-loss case)
    changes nothing, because idempotence lives in the id-ledger
    anti-join, not in sink stamps."""
    import shutil

    from neulix_datahub_spark.streaming.sinks import (
        stream_passage_index_ingest,
    )

    p = str(tmp_path / "pidx")
    build_passage_index(_docs(spark, _PRIOR), p, n=3)

    src = tmp_path / "src"
    src.mkdir()
    for name, part, mtime in (
        ("a", _DELTA[:1], 1e6),
        ("b", _DELTA[1:], 2e6),
    ):
        stage = str(tmp_path / f"stage_{name}")
        _docs(spark, part).coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = str(src / f"{name}.parquet")
        shutil.move(os.path.join(stage, pf), dst)
        os.utime(dst, (mtime, mtime))

    def drain(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        stream_passage_index_ingest(
            stream, p, checkpoint_dir=str(tmp_path / ckpt)
        ).awaitTermination()

    drain("ckpt1")
    got = sorted(map(tuple, read_passage_gram_counts(spark, p).collect()))
    p_full = str(tmp_path / "full")
    build_passage_index(_docs(spark, _PRIOR + _DELTA), p_full, n=3)
    want = sorted(
        map(tuple, read_passage_gram_counts(spark, p_full).collect())
    )
    assert got == want

    before_meta = read_passage_meta(p)
    drain("ckpt2")  # fresh checkpoint: full redelivery of both batches
    assert sorted(
        map(tuple, read_passage_gram_counts(spark, p).collect())
    ) == got
    assert read_passage_meta(p) == before_meta


def test_incremental_equals_batch_property(spark, tmp_path):
    """Property: on random small corpora (shared vocabulary so repeated
    grams actually occur) split at a random point into prior + delta,
    the index-backed scrub == the from-scratch batch scrub, exactly —
    text, token counts and passage counts."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    vocab = ["red", "green", "blue", "fox", "dog", "run"]
    doc = st.lists(st.sampled_from(vocab), min_size=2, max_size=8).map(
        " ".join
    )
    case = st.lists(doc, min_size=2, max_size=7).flatmap(
        lambda docs: st.integers(1, len(docs) - 1).map(lambda k: (docs, k))
    )
    counter = iter(range(10_000))

    @settings(max_examples=5, deadline=None)
    @given(case)
    def check(docs_k):
        docs, k = docs_k
        rows = [(i, t) for i, t in enumerate(docs)]
        run = next(counter)
        p = str(tmp_path / f"pp{run}")
        build_passage_index(_docs(spark, rows[:k]), p, n=2)
        ingest_passage_delta(spark, _docs(spark, rows[k:]), p)
        got = _scrub_rows(spark, p, _docs(spark, rows))
        want = sorted(
            map(
                tuple,
                remove_repeated_passages(_docs(spark, rows), "text", "doc_id", n=2)
                .select("doc_id", "text", "n_tokens_after", "n_passages")
                .collect(),
            )
        )
        assert got == want

    check()


def test_hash_key_mode_index_matches_string_mode(spark, tmp_path):
    """A key_mode='hash' index (xxhash64 gram keys at rest and on the
    wire) must scrub identically to the string-keyed index, and the
    mode must survive build -> ingest -> compaction."""
    full = _docs(spark, _PRIOR + _DELTA)
    ps, ph = str(tmp_path / "s"), str(tmp_path / "h")
    for path, mode in ((ps, "string"), (ph, "hash")):
        build_passage_index(_docs(spark, _PRIOR), path, n=3, key_mode=mode)
        ingest_passage_delta(spark, _docs(spark, _DELTA), path)
    assert _scrub_rows(spark, ps, full) == _scrub_rows(spark, ph, full)
    compact_passage_index(spark, ph)
    assert read_passage_meta(ph)["key_mode"] == "hash"
    assert _scrub_rows(spark, ps, full) == _scrub_rows(spark, ph, full)
    # the at-rest gram relation really is hashed (long keys)
    t = dict(read_passage_gram_counts(spark, ph).dtypes)["gram"]
    assert t == "bigint"
