"""Incremental exact-substring (passage) dedup against a persisted
gram-count index — the daily-ingest form of ``operators/passages.py``
(round 11; the third member of the persisted-index family after the
MinHash signature index and the semantic vector index).

The reference's operating model is daily incremental ingest
(``reference/core/airflow/dags/data_capture/wikipedia_dag.py:20-23``);
re-counting every word n-gram of a 100 TB corpus per day to decide
what is "repeated" is the passage tier's largest avoidable cost. This
module keeps the corpus-wide gram counts AT REST so each delta pays
only for itself. Families (``sources/fragstore.py`` owns the layout and
the commit):

- ``grams`` — ``(gram, cnt)``. The build writes the first fragment;
  every ingest appends ONE fragment holding only the delta's gram
  counts; readers aggregate ``sum(cnt) GROUP BY gram`` over the
  committed fragments. COUNTS are additive, so a fragment must become
  visible exactly once — which the store's commit guarantees.
- ``ids`` — ``(id)`` of every indexed document, the identity ledger:
  ingest anti-joins the delta against it, so re-ingesting the same
  delta (the retried-Airflow-task case) adds nothing — idempotence by
  construction, same contract as ``dedupe_index``.

The sidecar (``_PASSAGE_META.json``) freezes ``n``, ``key_mode`` and
the column names. Compaction (:func:`compact_passage_index`)
aggregates all committed fragments into one fragment of the next
generation — after it the read-side group-by touches one right-sized
relation. Gram counts only ever AGGREGATE (sum is associative), so
compaction is a pure rewrite.

Equivalence contract (driver-checked at sf0.01 by
``incremental_passage_scrub_stats``): ``build(prior); ingest(d1); ...;
ingest(dk)`` then scrubbing ANY document set against the index ==
scrubbing it against the gram counts of ``prior ∪ d1 ∪ … ∪ dk``
computed from scratch — EXACTLY, because counts are a pure additive
function of the documents and the scrub machinery
(interval union + excision) is shared verbatim with the batch form.

Scale shape: an ingest shuffles only the delta's grams (map-side
combined); the at-rest relation is never read by ingest at all — only
the ids ledger (one column) is scanned for the anti-join. The
read-side ``sum GROUP BY gram`` over prior+delta fragments is the
honest cost of exact corpus-wide counts and runs at scrub time, where
it would run anyway; at 100 TB the gram key becomes ``xxhash64(gram)``
(same documented trade as ``operators/passages.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neulix_datahub_spark.operators.passages import (
    _merge_hits_into_runs,
    _scrub_with_runs,
    _with_gram_key,
    positioned_token_grams,
)
from neulix_datahub_spark.sources.fragstore import (
    IndexStore,
    assert_unique_ids,
    create_index,
    open_index,
)

__all__ = [
    "build_passage_index",
    "ingest_passage_delta",
    "compact_passage_index",
    "read_passage_gram_counts",
    "scrub_against_passage_index",
    "read_passage_meta",
]


def _store(path: str) -> IndexStore:
    return open_index(path, "passage")


def read_passage_meta(path: str) -> dict:
    return _store(path).view("grams")


def _delta_gram_counts(df: DataFrame, meta: dict) -> DataFrame:
    grams = _with_gram_key(
        positioned_token_grams(df, meta["text_col"], meta["id_col"], meta["n"]),
        meta.get("key_mode", "string"),
    )
    return grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))


def build_passage_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    key_mode: str = "string",
) -> dict:
    """One-shot batch build: persist the corpus gram counts and the id
    ledger as the first fragment. Parameters are frozen into the
    sidecar — including ``key_mode`` (``'hash'`` stores ``xxhash64``
    gram keys, the 100 TB at-rest/shuffle-width mode; see
    ``passages._with_gram_key``) — so the index can never mix gram
    widths or key kinds."""
    if key_mode not in ("string", "hash"):
        raise ValueError(f"key_mode must be 'string' or 'hash', got {key_mode!r}")
    assert_unique_ids(df, id_col, "build_passage_index")
    meta = {"n": n, "text_col": text_col, "id_col": id_col, "key_mode": key_mode}
    with create_index(path, "passage", meta) as txn:
        txn.append("grams", _delta_gram_counts(df, meta))
        n_docs = txn.append(
            "ids", df.select(F.col(id_col).alias("id")), count=True
        )
        return txn.commit(n_docs=n_docs).view("grams")


def ingest_passage_delta(spark: SparkSession, delta: DataFrame, path: str) -> dict:
    """Incremental ingest: count ONLY the never-seen delta rows' grams
    into one new fragment and append their ids. Returns
    ``{n_new, n_fragments}``.

    The at-rest gram relation is never read; the only prior state
    scanned is the one-column id ledger (the idempotence anti-join).
    """
    store = _store(path)
    new, n_new = store.stage_delta(spark, delta, "ids")
    if n_new == 0:
        return {"n_new": 0, "n_fragments": store.n_fragments("grams")}
    with store.begin() as txn:
        txn.append("grams", _delta_gram_counts(new, store.meta))
        txn.append("ids", new.select(F.col(store.meta["id_col"]).alias("id")))
        store = txn.commit(n_docs=store.meta["n_docs"] + n_new)
    return {"n_new": n_new, "n_fragments": store.n_fragments("grams")}


def _gram_counts(spark: SparkSession, store: IndexStore) -> DataFrame:
    return (
        store.read(spark, "grams")
        .groupBy("gram")
        .agg(F.sum("cnt").alias("cnt"))
    )


def read_passage_gram_counts(spark: SparkSession, path: str) -> DataFrame:
    """Corpus-wide gram counts from the committed fragments:
    ``(gram, cnt)`` with ``cnt`` summed across fragments."""
    return _gram_counts(spark, _store(path))


def scrub_against_passage_index(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    min_count: int = 2,
) -> DataFrame:
    """Excise from ``df`` every passage whose grams the INDEX says are
    repeated (>= ``min_count`` corpus-wide, prior + all ingested
    deltas) — the incremental twin of
    ``passages.remove_repeated_passages``, same output shape. ``df`` is
    typically the day's delta (scrub-on-arrival) or any corpus slice;
    the repeated-gram decision always reflects the WHOLE indexed
    corpus, which is the point."""
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    store = _store(path)
    meta = store.meta
    text_col, id_col, n = meta["text_col"], meta["id_col"], meta["n"]
    repeated = (
        _gram_counts(spark, store)
        .filter(F.col("cnt") >= min_count)
        .select("gram")
    )
    grams = _with_gram_key(
        positioned_token_grams(df, text_col, id_col, n),
        meta.get("key_mode", "string"),
    )
    hits = grams.join(repeated, "gram", "left_semi").select(id_col, "pos")
    runs = _merge_hits_into_runs(hits, id_col, n)
    return _scrub_with_runs(df, runs, text_col, id_col)


def compact_passage_index(spark: SparkSession, path: str, files: int = 8) -> dict:
    """Maintenance: aggregate all committed fragments into one fragment
    of the next generation (counts summed — a pure rewrite, sum is
    associative). Returns the fragment/file-count log."""
    store = _store(path)
    log = {
        "fragments_before": store.n_fragments("grams"),
        "gram_files_before": store.n_files("grams"),
    }
    with store.begin() as txn:
        txn.rewrite("grams", _gram_counts(spark, store).repartition(files))
        txn.rewrite(
            "ids", store.read(spark, "ids").repartition(max(1, files // 4))
        )
        store = txn.commit()
    log["fragments_after"] = 1
    log["gram_files_after"] = store.n_files("grams")
    return log
