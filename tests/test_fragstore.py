"""The shared fragment store under the five persisted indexes: racing
writers lose nothing, a crash before the commit changes nothing, and a
sidecar of an unknown layout is refused loudly."""

from __future__ import annotations

import json
import os

import pytest

from neulix_datahub_spark.sources import fragstore
from neulix_datahub_spark.sources.fragstore import open_index
from neulix_datahub_spark.sources.snapshots import ConcurrentSnapshotError

PRIOR, A, B = [0, 1, 2], [10], [20]


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"document {i} about topic {i % 3} words") for i in ids],
        "doc_id long, text string",
    )


def _emb(spark, ids):
    return spark.createDataFrame(
        [(i, [1.0 + i % 3, float(i % 5), 1.0, float(i % 2)]) for i in ids],
        "vec_id long, embedding array<double>",
    )


class _Dedup:
    kind, known, counter = "dedup", "labels", "n_docs"

    def build(self, spark, p, ids):
        from neulix_datahub_spark.operators.dedupe_index import build_dedup_index

        build_dedup_index(_docs(spark, ids), p)

    def ingest(self, spark, p, ids):
        from neulix_datahub_spark.operators.dedupe_index import ingest_dedup_delta

        return ingest_dedup_delta(spark, _docs(spark, ids), p)


class _Semantic:
    kind, known, counter = "semantic", "labels", "n_docs"

    def build(self, spark, p, ids):
        from neulix_datahub_spark.operators.semantic_index import (
            build_semantic_index,
        )

        build_semantic_index(
            _emb(spark, ids), _docs(spark, ids), p,
            cos_threshold=0.9, jaccard_threshold=0.5,
        )

    def ingest(self, spark, p, ids):
        from neulix_datahub_spark.operators.semantic_index import (
            ingest_semantic_delta,
        )

        return ingest_semantic_delta(
            spark, _emb(spark, ids), _docs(spark, ids), p
        )


class _Passage:
    kind, known, counter = "passage", "ids", "n_docs"

    def build(self, spark, p, ids):
        from neulix_datahub_spark.operators.passage_index import (
            build_passage_index,
        )

        build_passage_index(_docs(spark, ids), p, n=3)

    def ingest(self, spark, p, ids):
        from neulix_datahub_spark.operators.passage_index import (
            ingest_passage_delta,
        )

        return ingest_passage_delta(spark, _docs(spark, ids), p)


class _Search:
    kind, known, counter = "search", "doclens", "n_docs"

    def build(self, spark, p, ids):
        from neulix_datahub_spark.operators.search_index import build_search_index

        build_search_index(_docs(spark, ids), p)

    def ingest(self, spark, p, ids):
        from neulix_datahub_spark.operators.search_index import (
            ingest_search_delta,
        )

        return ingest_search_delta(spark, _docs(spark, ids), p)

    def delete(self, spark, p, ids):
        from neulix_datahub_spark.operators.search_index import (
            delete_from_search_index,
        )

        return delete_from_search_index(spark, _docs(spark, ids), p)

    def compact(self, spark, p):
        from neulix_datahub_spark.operators.search_index import (
            compact_search_index,
        )

        return compact_search_index(spark, p, files=2)


class _Ivfpq:
    kind, known, counter = "ivfpq", "codes", "n_vecs"

    def build(self, spark, p, ids):
        from neulix_datahub_spark.operators.ivfpq_index import build_ivfpq_index

        build_ivfpq_index(
            _emb(spark, ids), p, coarse_k=2, coarse_iters=1, pq_k=2, pq_iters=1
        )

    def ingest(self, spark, p, ids):
        from neulix_datahub_spark.operators.ivfpq_index import ingest_ivfpq_delta

        return ingest_ivfpq_delta(spark, _emb(spark, ids), p)

    def delete(self, spark, p, ids):
        from neulix_datahub_spark.operators.ivfpq_index import (
            delete_from_ivfpq_index,
        )

        return delete_from_ivfpq_index(spark, _emb(spark, ids), p)

    def compact(self, spark, p):
        from neulix_datahub_spark.operators.ivfpq_index import (
            compact_ivfpq_index,
        )

        return compact_ivfpq_index(spark, p)


INDEXES = {c.kind: c() for c in (_Dedup, _Semantic, _Passage, _Search, _Ivfpq)}


def _state(spark, ix, p):
    """(live ids, the counter, at-rest ledger rows) of an index."""
    store = open_index(p, ix.kind)
    live = sorted(r[0] for r in store.live(spark, ix.known).select("id").collect())
    at_rest = store.read(spark, ix.known).count()
    return live, store.meta[ix.counter], at_rest


def _call(ix, spark, p, op):
    name, *args = op
    return getattr(ix, name)(spark, p, *args)


def _at_commit(monkeypatch, competing):
    """Run ``competing`` once, at the commit point of the next commit
    (after that writer staged everything, before it takes the lock)."""
    orig = fragstore.Txn.commit
    fired = []

    def commit(self, **updates):
        if not fired:
            fired.append(True)
            competing()
        return orig(self, **updates)

    monkeypatch.setattr(fragstore.Txn, "commit", commit)


RACES = [
    (kind, ("ingest", A), ("ingest", B)) for kind in INDEXES
] + [
    (kind, first, second)
    for kind in ("search", "ivfpq")
    for first, second in [
        (("compact",), ("delete", [0])),
        (("delete", [0]), ("compact",)),
    ]
] + [
    ("ivfpq", ("ingest", A), ("compact",)),
    ("ivfpq", ("compact",), ("ingest", A)),
]


@pytest.mark.parametrize(
    "kind,first,second", RACES,
    ids=[f"{k}-{f[0]}-vs-{s[0]}" for k, f, s in RACES],
)
def test_racing_writers_lose_nothing(spark, tmp_path, monkeypatch, kind, first, second):
    """``second`` runs to completion at ``first``'s commit point. Every
    acknowledged write must be visible afterwards, or its call must
    raise ConcurrentSnapshotError; no id is lost or duplicated, and the
    counter equals a recount of the at-rest ledger."""
    ix = INDEXES[kind]
    p = str(tmp_path / kind)
    ix.build(spark, p, PRIOR)
    acked = []

    def competing():
        _call(ix, spark, p, second)
        acked.append(second)

    _at_commit(monkeypatch, competing)
    try:
        _call(ix, spark, p, first)
        acked.append(first)
    except ConcurrentSnapshotError:
        pass
    monkeypatch.undo()

    assert second in acked  # the competing writer committed first
    want = set(PRIOR)
    for op in acked:
        if op[0] == "ingest":
            want |= set(op[1])
    for op in acked:
        if op[0] == "delete":
            want -= set(op[1])
    live, counter, at_rest = _state(spark, ix, p)
    assert live == sorted(want)
    assert counter == at_rest


def test_threaded_ingests_retry_to_completion(spark, tmp_path):
    """Real concurrency, more writers than cores: every thread ingests
    its own id and, on ConcurrentSnapshotError, re-reads and retries
    (the documented contract). All ids land exactly once and the
    counter equals a recount."""
    from concurrent.futures import ThreadPoolExecutor

    ix = INDEXES["passage"]
    p = str(tmp_path / "threads")
    ix.build(spark, p, PRIOR)
    new_ids = [100 + i for i in range(min(len(os.sched_getaffinity(0)), 6) + 2)]

    def writer(i):
        for _ in range(len(new_ids)):
            try:
                return ix.ingest(spark, p, [i])["n_new"]
            except ConcurrentSnapshotError:
                continue
        return 0

    with ThreadPoolExecutor(len(new_ids)) as pool:
        futures = [pool.submit(writer, i) for i in new_ids]
        assert [f.result(timeout=600) for f in futures] == [1] * len(new_ids)
    live, counter, at_rest = _state(spark, ix, p)
    assert live == sorted(PRIOR + new_ids)
    assert counter == at_rest == len(live)


@pytest.mark.parametrize("kind", list(INDEXES))
@pytest.mark.parametrize("where", ["staged", "torn"])
def test_crash_before_commit_changes_nothing(spark, tmp_path, monkeypatch, kind, where):
    """A crash after the staged write — before the commit (``staged``),
    or after the fragments were renamed into place but before the
    sidecar replace (``torn``) — leaves the index readable and equal to
    its pre-call state, and a retried call succeeds."""
    ix = INDEXES[kind]
    p = str(tmp_path / kind)
    ix.build(spark, p, PRIOR)
    before, meta_before = _state(spark, ix, p), open_index(p, kind).view()

    def crash(*a, **kw):
        raise RuntimeError("simulated crash")

    if where == "staged":
        monkeypatch.setattr(fragstore.Txn, "commit", crash)
    else:
        monkeypatch.setattr(fragstore.os, "replace", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ix.ingest(spark, p, A)
    monkeypatch.undo()

    assert open_index(p, kind).view() == meta_before
    assert _state(spark, ix, p) == before
    assert ix.ingest(spark, p, A)["n_new"] == len(A)
    live, counter, at_rest = _state(spark, ix, p)
    assert live == sorted(PRIOR + A) and counter == at_rest == len(PRIOR + A)


@pytest.mark.parametrize("kind", list(INDEXES))
def test_unknown_layout_is_refused(spark, tmp_path, kind):
    """A sidecar with no layout field (an index written before the
    fragment store) or an unknown one is refused with an error that
    names the layout and says to rebuild — never read as live data."""
    ix = INDEXES[kind]
    p = str(tmp_path / kind)
    ix.build(spark, p, PRIOR)
    sidecar = os.path.join(p, f"_{kind.upper()}_META.json")
    with open(sidecar, encoding="utf-8") as f:
        meta = json.load(f)
    for layout in (None, "fragstore/999"):
        if layout is None:
            meta.pop("layout")
        else:
            meta["layout"] = layout
        with open(sidecar, "w", encoding="utf-8") as f:
            json.dump(meta, f)
        with pytest.raises(ValueError, match="layout") as err:
            ix.ingest(spark, p, A)
        msg = str(err.value)
        assert "rebuild" in msg
        assert (layout or "pre-fragstore") in msg


def test_frag_k_era_search_index_is_refused_then_rebuilt(spark, tmp_path):
    """A ``frag_K``-era search index (no layout marker, an uncommitted
    orphan fragment on disk) is refused by every reader; rebuilding at
    the same path replaces it and reads only the new build."""
    from neulix_datahub_spark.operators.search_index import (
        build_search_index,
        query_search_index,
        read_search_meta,
    )

    p = str(tmp_path / "legacy")
    for k in (0, 1):  # frag_1 is the orphan: n_fragments says 1
        _docs(spark, [100 + k]).write.parquet(
            os.path.join(p, "postings_v0", f"frag_{k}")
        )
    with open(os.path.join(p, "_SEARCH_META.json"), "w", encoding="utf-8") as f:
        json.dump({"generation": 0, "n_fragments": 1, "id_col": "doc_id"}, f)
    with pytest.raises(ValueError, match="rebuild"):
        read_search_meta(p)
    with pytest.raises(ValueError, match="rebuild"):
        query_search_index(spark, p, ["document"])

    build_search_index(_docs(spark, PRIOR), p)
    got = query_search_index(spark, p, ["document"]).select("doc_id").collect()
    assert sorted(r[0] for r in got) == PRIOR
    assert not os.path.exists(os.path.join(p, "postings_v0"))
    assert read_search_meta(p)["seq"] == 1
