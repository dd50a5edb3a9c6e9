"""Persisted incremental full-text (BM25) search index — the at-rest
lifecycle form of ``operators/search.py`` (round 13; the fifth member
of the persisted-index family after the MinHash signature index, the
semantic vector index, the passage gram index, and the IVF-PQ vector
index).

The reference's operating model is daily incremental ingest
(``reference/core/airflow/dags/data_capture/wikipedia_dag.py:20-23``);
re-tokenizing a 100 TB corpus per day to answer keyword queries is the
search tier's largest avoidable cost. This module keeps the postings
relation AT REST so each delta pays only for itself — and, uniquely in
the index family, incremental maintenance is EXACT:

    build(A); ingest(B)  ==  build(A ∪ B)       (bit-identical)

because every statistic BM25 needs is either per-document (tf, dl —
pure functions of that document's text, complete within the fragment
that carries the document) or recomputed at query time from the full
live relation (df, N, avgdl). There are no trained parameters to
freeze, so this index enjoys the strong theorem the ANN indexes
(frozen codebooks, slice-invariance only) cannot have. Deletes inherit
it too: scoring reads every input through the live (tombstone-
anti-joined) relation, so a post-delete query equals a from-scratch
rebuild without the deleted documents.

Families (``sources/fragstore.py`` owns the layout, the tombstone
ledger, the sweep and the commit):

- ``postings`` — ``(token, id, tf)`` partitioned by ``bkt =
  crc32(token) % n_buckets``: a query computes its terms' buckets
  driver-side (zlib.crc32 is the exact Python twin of Spark's
  ``crc32``, unit-pinned), so non-queried token DIRECTORIES are never
  read — the inverted-index analogue of the IVF coarse-cell directory
  pruning. Each document's postings live entirely inside ONE fragment
  (tf needs no cross-fragment merge), so fragments are unioned, never
  aggregated.
- ``doclens`` — ``(id, dl)`` for EVERY ingested document (``dl = 0``
  for empty/all-stopword docs), doubling as the identity ledger:
  ingest anti-joins the delta against it, so a redelivered batch adds
  nothing — idempotence by construction, same contract as the sibling
  indexes. Scoring statistics use the ``dl > 0`` rows (the batch
  tier's semantics: a document with no tokens is invisible to
  retrieval).
- ``positions`` — ``(token, id, pos)``, the phrase-capable family
  (``positional=True`` builds only): one row per token OCCURRENCE,
  same bucketing, NOT stopword-filtered (a phrase is a property of
  consecutive positions — dropping a token would silently break 'state
  of the art'; the Lucene trade). Every per-document fact, so the
  exactness theorem covers it unchanged.
- ``tombs`` — deleted ids; every read path anti-joins them.
  Final-until-compaction: a tombstoned id cannot be re-ingested until
  compaction purges it physically (resurrection-by-append would strand
  two at-rest posting sets behind one tombstone), the ``ivfpq_index``
  semantics.

The sidecar (``_SEARCH_META.json``) freezes the columns, ``n_buckets``,
``k1``/``b`` and the stopwords. Compaction unions the live fragments
into one fragment of the next generation, purging tombstones.

avgdl determinism: ``dl`` is integral and document counts are exact,
so ``avgdl = sum(dl)/N`` is bit-deterministic across partitionings and
engines (integer partial sums are exact at any association below
2^53); the only float association left is the ≤|terms|-element
per-document score sum, which callers round before ranking (the
``keyword_search_bm25`` discipline).

Scale shape: an ingest tokenizes only the delta (one explode + one
map-side-combined groupBy, shuffle on the delta's tokens) and scans
ONE prior column (the id ledger, for the anti-join) — the at-rest
postings are never read by ingest. A query reads only its terms'
bucket directories across fragments; df/N/avgdl are one small
aggregate over the (1-row-per-doc) doclens relation. Stopword tokens
are exactly the hot keys a posting list drops in production — the
frozen ``stopwords`` list does that here; anything kept is still just
a skewed groupBy key at ingest (operators/skew.py territory), never a
query-time join explosion, because queries touch single tokens.

Reference parity: the reference has no search tier (it delegates SQL
to a warehouse, ``core/utils/db_core.py:119-135``); this is the L4
training-data-pipeline tier (corpus keyword retrieval / contamination
lookup), persisted form.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neulix_datahub_spark.operators.search import (
    bm25_rank,
    build_inverted_index,
    conjunctive_search,
    normalize_terms,
)
from neulix_datahub_spark.sources.fragstore import (
    IndexStore,
    assert_unique_ids,
    create_index,
    open_index,
)

__all__ = [
    "build_search_index",
    "ingest_search_delta",
    "delete_from_search_index",
    "query_search_index",
    "conjunctive_search_index",
    "phrase_search_index",
    "proximity_search_index",
    "keyword_snippets_index",
    "compact_search_index",
    "read_search_meta",
    "read_live_postings",
    "read_live_doclens",
    "read_live_positions",
    "token_bucket",
]


def _store(path: str) -> IndexStore:
    return open_index(path, "search")


def read_search_meta(path: str) -> dict:
    return _store(path).view("postings")


def token_bucket(token: str, n_buckets: int) -> int:
    """Driver-side twin of the at-rest partition key
    ``pmod(crc32(token), n_buckets)``: ``zlib.crc32`` and Spark's
    ``crc32`` are both CRC-32/ISO-HDLC over UTF-8 bytes and return the
    same unsigned 32-bit value (unit-pinned), so the driver can name a
    query's bucket directories without touching the data."""
    return zlib.crc32(token.encode("utf-8")) % n_buckets


def _bucket_col(n_buckets: int) -> F.Column:
    return F.pmod(F.crc32(F.col("token")), F.lit(n_buckets)).cast("int")


def _delta_postings(df: DataFrame, meta: dict) -> DataFrame:
    """``(token, id, tf, bkt)`` for the delta under the index's frozen
    parameters — the single construction build and ingest share, which
    is what makes ``ingest == rebuild`` provable."""
    postings = build_inverted_index(
        df, text_col=meta["text_col"], id_col=meta["id_col"]
    )
    if meta.get("stopwords"):
        postings = postings.filter(
            ~F.col("token").isin(list(meta["stopwords"]))
        )
    return postings.select(
        "token",
        F.col(meta["id_col"]).alias("id"),
        "tf",
        _bucket_col(meta["n_buckets"]).alias("bkt"),
    )


def _delta_positions(df: DataFrame, meta: dict) -> DataFrame:
    """``(token, id, pos, bkt)`` for the delta — the phrase-capable
    family. Deliberately NOT stopword-filtered: a phrase is a property
    of consecutive positions, so dropping a token would silently turn
    'state of the art' into a never-matching query; the positional
    family trades at-rest bytes for exact phrase semantics (the
    standard Lucene positional-postings trade, noted in
    ``search.build_positional_index``)."""
    from neulix_datahub_spark.operators.search import (
        build_positional_index,
    )

    return build_positional_index(
        df, text_col=meta["text_col"], id_col=meta["id_col"]
    ).select(
        "token",
        F.col(meta["id_col"]).alias("id"),
        "pos",
        _bucket_col(meta["n_buckets"]).alias("bkt"),
    )


def _delta_doclens(df: DataFrame, postings: DataFrame, meta: dict) -> DataFrame:
    """``(id, dl)`` for EVERY delta document — dl from the delta's own
    postings (sum tf), 0 for docs with no kept tokens, so the ledger
    is complete and idempotence covers empty documents too."""
    dls = postings.groupBy("id").agg(F.sum("tf").alias("__dl"))
    return (
        df.select(F.col(meta["id_col"]).alias("id"))
        .join(dls, "id", "left")
        .select("id", F.coalesce("__dl", F.lit(0)).cast("long").alias("dl"))
    )


def build_search_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 32,
    k1: float = 1.2,
    b: float = 0.75,
    stopwords: list[str] | None = None,
    positional: bool = False,
) -> dict:
    """One-shot batch build: persist the corpus postings (bucket-
    partitioned) and the doc-length ledger as the first fragment — plus,
    with ``positional=True``, the phrase-capable ``(token, id, pos)``
    family. Parameters freeze into the sidecar — including the stopword
    list and positional mode, so index and queries can never disagree
    on what was indexed."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    assert_unique_ids(df, id_col, "build_search_index")
    meta = {
        "text_col": text_col, "id_col": id_col,
        "n_buckets": int(n_buckets),
        "k1": float(k1), "b": float(b),
        "stopwords": sorted(stopwords) if stopwords else [],
        "positional": bool(positional),
    }
    with create_index(path, "search", meta) as txn:
        txn.append("postings", _delta_postings(df, meta), partition_by="bkt")
        if positional:
            txn.append(
                "positions", _delta_positions(df, meta), partition_by="bkt"
            )
        # doclens from the staged postings (not the lazy plan), so dl is
        # derived from exactly the rows the commit makes visible
        n_docs = txn.append(
            "doclens",
            _delta_doclens(df, txn.read_staged(df.sparkSession, "postings"), meta),
            count=True,
        )
        return txn.commit(n_docs=n_docs).view("postings")


def ingest_search_delta(spark: SparkSession, delta: DataFrame, path: str) -> dict:
    """Incremental ingest: tokenize ONLY the never-seen delta rows into
    one new postings fragment and append their lengths to the ledger.
    Returns ``{n_new, n_fragments}``.

    The at-rest postings are never read; the only prior state scanned
    is the one-column id ledger (the idempotence anti-join) and the
    tombstone ledger (re-ingest of a deleted id refuses until
    compaction purges it — the resurrection guard shared with
    ``ingest_ivfpq_delta``)."""
    store = _store(path)
    new, n_new = store.stage_delta(spark, delta, "doclens")
    if n_new == 0:
        return {"n_new": 0, "n_fragments": store.n_fragments("postings")}
    meta = store.meta
    with store.begin() as txn:
        txn.append("postings", _delta_postings(new, meta), partition_by="bkt")
        if meta.get("positional"):
            txn.append(
                "positions", _delta_positions(new, meta), partition_by="bkt"
            )
        txn.append(
            "doclens",
            _delta_doclens(new, txn.read_staged(spark, "postings"), meta),
        )
        store = txn.commit(n_docs=meta["n_docs"] + n_new)
    return {"n_new": n_new, "n_fragments": store.n_fragments("postings")}


def read_live_postings(spark: SparkSession, path: str) -> DataFrame:
    """The queryable postings: committed fragments unioned (never
    aggregated — each document's rows are complete within one
    fragment) minus the tombstone ledger. Every retrieval path reads
    through this, so a deleted document can never score."""
    return _store(path).live(spark, "postings")


def _live_positions(spark: SparkSession, store: IndexStore) -> DataFrame:
    if not store.meta.get("positional"):
        raise ValueError(
            "this search index was built without positional=True — "
            "phrase retrieval needs the (token, id, pos) family; "
            "rebuild with build_search_index(..., positional=True)"
        )
    return store.live(spark, "positions")


def read_live_positions(spark: SparkSession, path: str) -> DataFrame:
    """The phrase-capable ``(token, id, pos)`` rows (positional
    indexes only) — live, like the postings."""
    return _live_positions(spark, _store(path))


def read_live_doclens(spark: SparkSession, path: str) -> DataFrame:
    """The live ``(id, dl)`` ledger (tombstones excluded) — the
    statistics relation: N and avgdl derive from its ``dl > 0`` rows,
    recomputed per query, which is what makes deletes scoring-exact."""
    return _store(path).live(spark, "doclens")


def delete_from_search_index(
    spark: SparkSession, ids: DataFrame, path: str
) -> dict:
    """Delete documents by id — tombstones, not rewrites (the
    ``ivfpq_index`` semantics: idempotent under redelivery, unknown
    ids accepted, FINAL until compaction purges physically). Because
    df/N/avgdl recompute over the live relation at query time, a
    post-delete query is bit-equal to a rebuild without the deleted
    docs — the delete inherits the index's exactness theorem. Returns
    ``{n_deleted_request, n_tombstones, n_live}``."""
    return _store(path).delete(spark, ids, "doclens")


def _pruned(rows: DataFrame, meta: dict, terms: list[str]) -> DataFrame:
    """The terms' rows with the bucket filter FIRST: ``bkt`` is the
    partition column, so ``bkt IN (...)`` prunes non-queried token
    directories before the token equality even runs — the driver names
    the buckets via the crc32 twin, no data touched."""
    buckets = sorted({token_bucket(t, meta["n_buckets"]) for t in terms})
    return rows.filter(
        F.col("bkt").isin(buckets) & F.col("token").isin(list(terms))
    )


def _pruned_postings(
    spark: SparkSession, store: IndexStore, terms: list[str]
) -> DataFrame:
    return _pruned(store.live(spark, "postings"), store.meta, terms).select(
        "token", F.col("id").alias(store.meta["id_col"]), "tf"
    )


def _pruned_positions(
    spark: SparkSession, store: IndexStore, terms: list[str]
) -> DataFrame:
    return _pruned(_live_positions(spark, store), store.meta, terms).select(
        "token", F.col("id").alias(store.meta["id_col"]), "pos"
    )


def query_search_index(
    spark: SparkSession, path: str, terms: list[str]
) -> DataFrame:
    """BM25 retrieval against the at-rest index: normalize the query
    through the index's tokenizer twin, prune to the terms' bucket
    directories, and score with the SAME ``bm25_rank`` the batch tier
    uses (df per term over the live postings, N/avgdl over the live
    ``dl > 0`` ledger — all recomputed, nothing stale). Returns
    ``(id_col, score)``; callers round before ranking, as ever."""
    store = _store(path)
    meta = store.meta
    uniq = list(set(normalize_terms(terms)))
    lengths = (
        store.live(spark, "doclens")
        .filter(F.col("dl") > 0)
        .select(F.col("id").alias(meta["id_col"]), "dl")
    )
    return bm25_rank(
        _pruned_postings(spark, store, uniq), lengths, uniq,
        k1=meta["k1"], b=meta["b"], id_col=meta["id_col"],
    )


def conjunctive_search_index(
    spark: SparkSession, path: str, terms: list[str]
) -> DataFrame:
    """Boolean AND retrieval against the at-rest index — the batch
    tier's ``conjunctive_search`` over the bucket-pruned live
    postings. Returns ``(id_col)``."""
    store = _store(path)
    uniq = list(set(normalize_terms(terms)))
    return conjunctive_search(
        _pruned_postings(spark, store, uniq), uniq,
        id_col=store.meta["id_col"],
    )


def phrase_search_index(
    spark: SparkSession, path: str, phrase: list[str]
) -> DataFrame:
    """Exact phrase retrieval against the at-rest positional family —
    the batch tier's ``phrase_search`` (consecutive-position self-
    joins, each leg reading only its term's bucket-pruned live rows).
    Stopwords are NOT dropped from positions (see
    ``_delta_positions``), so any phrase the tokenizer can spell is
    answerable. Returns ``(id_col, n_occurrences)``."""
    from neulix_datahub_spark.operators.search import phrase_search

    store = _store(path)
    toks = normalize_terms(phrase)
    return phrase_search(
        _pruned_positions(spark, store, toks), toks,
        id_col=store.meta["id_col"],
    )


def proximity_search_index(
    spark: SparkSession, path: str, terms: list[str]
) -> DataFrame:
    """NEAR/k retrieval against the at-rest positional family: minimal
    span over one-occurrence-per-term choices
    (``search.proximity_spans`` — per-term join legs, each reading
    only its term's bucket-pruned live rows). Callers filter
    ``min_span <= slop`` or rank by it. Returns
    ``(id_col, min_span, n_combos)``."""
    from neulix_datahub_spark.operators.search import proximity_spans

    store = _store(path)
    toks = sorted(set(normalize_terms(terms)))
    return proximity_spans(
        _pruned_positions(spark, store, toks), toks,
        id_col=store.meta["id_col"],
    )


def keyword_snippets_index(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    terms: list[str],
    window: int = 5,
) -> DataFrame:
    """Result snippets SERVED from the persisted positional family:
    hit positions come from the bucket-pruned live index, and only the
    documents the index says match re-tokenize for the excerpt slice
    (``docs`` supplies the text — the index stores positions, not
    prose). Deleted documents never surface: the positions are read
    through the tombstone anti-join, and the inner join against the
    best-window relation carries that through. Output identical to the
    corpus form (unit-pinned)."""
    from neulix_datahub_spark.operators.search import keyword_snippets

    store = _store(path)
    meta = store.meta
    if not meta.get("positional"):
        raise ValueError(
            "this search index was built without positional=True — "
            "snippets-from-index need the (token, id, pos) family; "
            "use keyword_snippets over the corpus instead"
        )
    uniq = list(set(normalize_terms(terms)))
    return keyword_snippets(
        docs,
        terms,
        window=window,
        text_col=meta["text_col"],
        id_col=meta["id_col"],
        pos_index=_pruned_positions(spark, store, uniq),
    )


def compact_search_index(spark: SparkSession, path: str, files: int = 8) -> dict:
    """Maintenance: union the live fragments (tombstones purged
    physically) into one fragment of the next generation — postings
    are per-document facts, so compaction is a pure rewrite (no
    aggregation), and the next generation starts with an empty
    tombstone ledger. Returns the fragment/file-count log."""
    store = _store(path)
    log = {
        "fragments_before": store.n_fragments("postings"),
        "posting_files_before": store.n_files("postings"),
    }
    with store.begin() as txn:
        for fam in ("postings", "positions"):
            if fam in store.meta["families"]:
                txn.rewrite(
                    fam, store.live(spark, fam).repartition(files),
                    partition_by="bkt",
                )
        n_docs = txn.rewrite(
            "doclens",
            store.live(spark, "doclens").repartition(max(1, files // 4)),
            count=True,
        )
        txn.rewrite("tombs")
        store = txn.commit(n_docs=n_docs)
    log["fragments_after"] = 1
    log["posting_files_after"] = store.n_files("postings")
    log["n_docs"] = n_docs
    return log
