"""Driver-visible wrappers for the non-SQL streaming operators (S2/S4
extensions, U3): each runs a bounded Structured Streaming query to
completion and returns the materialized result. The streaming *final
state* over a bounded input equals a batch aggregate over the same
input, so these carry real DuckDB oracles — the hash check proves
batch/stream parity end-to-end, not just that rows came back. (The
micro-batch mechanics themselves are additionally asserted in
tests/test_streaming.py.)
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neulix_datahub_spark.plans.queries_ext import PYSOURCE_SQL as _PYSOURCE_STREAM_SQL
# the S5 semantic twin shares its batch sibling's oracle VERBATIM —
# slice-invariance means the stream must land on the identical row
from neulix_datahub_spark.plans.queries_llm import (
    _INCR_SEMANTIC_SQL as _STREAM_INCR_SEMANTIC_SQL,
    _PASSAGE_SCRUB_SQL as _STREAM_INCR_PASSAGE_SQL,
)
from neulix_datahub_spark.sources.tables import load_table
from neulix_datahub_spark.streaming.sinks import (
    read_upsert_table,
    stream_upsert_to_parquet,
)
from neulix_datahub_spark.streaming.stateful import (
    running_user_totals,
    streaming_funnel,
)
from neulix_datahub_spark.streaming.windows import (
    dynamic_sessionized,
    read_events_stream,
    run_stream_to_memory,
    tumbling_counts,
)


def _scratch(spark: SparkSession, prefix: str) -> str:
    """Scratch root under the shared warehouse dir (executors write the
    snapshot parquet, so the path must resolve cluster-wide), with
    stale-sibling sweeping — see io.warehouse_scratch."""
    from neulix_datahub_spark.sources.io import warehouse_scratch

    return warehouse_scratch(spark, prefix)


def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running totals, drained to completion; the
    final emission per user is the answer and must equal the batch
    groupBy over the same bounded input (the DuckDB oracle)."""
    name = f"stateful_totals_{uuid.uuid4().hex[:8]}"
    stream = running_user_totals(read_events_stream(spark, sf_dir))
    run_stream_to_memory(stream, name, output_mode="update", shuffle_partitions=8)
    return spark.sql(
        f"""SELECT user_id, n_events, sum_value, max_value FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY n_events DESC) AS rn
                FROM {name})
            WHERE rn = 1"""
    ).drop("rn")


_STATEFUL_TOTALS_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value,
       max(value) AS max_value
FROM events
GROUP BY user_id
"""


def stream_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch funnel (event_funnel_stats) re-implemented as a
    STATEFUL STREAM (streaming/stateful.py::streaming_funnel): per-user
    view→click→purchase state machine with 72 h step deadlines,
    arrival-order-proof via buffer-and-recompute. Drained over the
    bounded fixture, each user's final emission (max n_seen) must
    aggregate to exactly the batch funnel's numbers — the oracle IS the
    batch funnel SQL, so the hash check proves the state machine
    implements the same semantics end-to-end."""
    name = f"funnel_{uuid.uuid4().hex[:8]}"
    stream = streaming_funnel(read_events_stream(spark, sf_dir))
    run_stream_to_memory(stream, name, output_mode="update", shuffle_partitions=8)
    final = spark.sql(
        f"""SELECT user_id, t1, t2, t3 FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY n_seen DESC) AS rn
                FROM {name})
            WHERE rn = 1"""
    )
    return final.agg(
        F.count("t1").alias("view_users"),
        F.count("t2").alias("click_users"),
        F.count("t3").alias("purchase_users"),
        F.round(F.try_divide(F.count("t2") * 100.0, F.count("t1")), 4).alias(
            "view_to_click_pct"
        ),
        F.round(F.try_divide(F.count("t3") * 100.0, F.count("t2")), 4).alias(
            "click_to_purchase_pct"
        ),
        F.round(F.try_divide(F.count("t3") * 100.0, F.count("t1")), 4).alias(
            "overall_pct"
        ),
    )


from neulix_datahub_spark.plans.queries_analytics import (  # noqa: E402
    FUNNEL_SQL as _STREAM_FUNNEL_SQL,
)


def stream_upsert_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE sink: latest event per user after draining the
    stream into a snapshot-versioned parquet table."""
    tmp = _scratch(spark, "neulix_stream_upsert_")
    stream = read_events_stream(spark, sf_dir)
    q = stream_upsert_to_parquet(
        stream, f"{tmp}/table", key="user_id", tiebreak="ts",
        checkpoint_dir=f"{tmp}/ckpt",
    )
    q.awaitTermination()
    out = read_upsert_table(spark, f"{tmp}/table")
    return out.select("user_id", "ts", "event_type", F.round("value", 4).alias("value"))


# Last-write-wins by (user_id, ts): the fixture has no per-user max-ts
# ties at microsecond precision (verified at sf0.01/sf0.1), so the
# winning row is unique and the MERGE result is oracle-expressible.
_STREAM_UPSERT_SQL = """
SELECT user_id, ts, event_type, round(value, 4) AS value
FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
    FROM events
)
WHERE rn = 1
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 plumbing, driver-visible and oracle-checked: synthesize a binary
    asset column from the documents fixture (payload = utf-8 text bytes),
    run the Arrow-batched mapInPandas feature extraction, and aggregate
    the derived metadata. ``n_bytes`` flows through the mapInPandas
    boundary, so the hash check covers the binary-column schema, the
    Arrow batch shape, and the byte accounting; the stubbed decode
    outputs (width/height — sha1-derived, not SQL-expressible) are
    asserted in tests/test_operators.py instead."""
    from neulix_datahub_spark.operators.multimodal import extract_image_features
    from neulix_datahub_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    assets = docs.select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    feats = extract_image_features(assets)
    return (
        feats.groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("n_bytes").alias("min_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
    )


# The fixture text is pure ASCII (verified), so utf-8 byte length ==
# octet_length of the encoded blob in both engines.
_MULTIMODAL_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_assets,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(min(octet_length(encode(text))) AS BIGINT) AS min_bytes,
       CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
FROM documents
WHERE doc_id % 10 = 0
"""


def lsh_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 end-to-end, the canonical three-stage recipe: MinHash LSH
    candidates → exact n-gram-Jaccard verify (>= 0.8) → connected
    components → one survivor (min id) per near-dup cluster. Runs on the
    planted corpus (originals + perturbed copies); the fixture also
    contains *organic* near-dups (exact Jaccard 0.9+ between distinct
    doc_ids), so the verify stage is load-bearing, not ceremonial.

    The DuckDB oracle recomputes the answer from first principles:
    all-pairs exact Jaccard >= 0.8 → transitive closure (recursive CTE)
    → min-label components → drop non-representatives. A green row
    therefore proves the banded join surfaced every true >= 0.8 pair
    (miss probability per pair at s = 0.8, 16 bands × 4 rows: ~2e-4;
    the fixture's real pairs sit at 0.9+ where it is ~4e-8) and that
    verify/components/survivor-pick agree with the exact computation."""
    from neulix_datahub_spark.operators.components import dedup_by_components
    from neulix_datahub_spark.operators.dedupe import (
        minhash_near_duplicates,
        verify_candidate_pairs,
    )
    from neulix_datahub_spark.plans.queries_llm import planted_near_dup_corpus

    corpus = planted_near_dup_corpus(spark, sf_dir)
    cand = minhash_near_duplicates(corpus, "text", "doc_id", num_hashes=64, bands=16)
    pairs = verify_candidate_pairs(
        corpus, cand, text_col="text", id_col="doc_id", n=3, threshold=0.8
    )
    kept = dedup_by_components(corpus, pairs, id_col="doc_id")
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs_kept"))
        .orderBy("lang")
    )


def canonical_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 end-to-end, quality-aware survivor pick (round 11): the same
    candidates → verify → components pipeline as ``lsh_dedup_pipeline``,
    but the survivor of each near-dup cluster is chosen by
    ``canonical_by_components`` — HIGHEST token count wins, min-id
    tie-break — which is what production curation does with a duplicate
    family (CCNet/RefinedWeb keep the best/longest copy, not an
    arbitrary one). On the planted corpus the perturbed twin is exactly
    one token shorter than its original, so a green row proves the
    argmax landed on every original (``n_kept_twin`` counts only twins
    whose pair the 0.8 threshold rejected — those are their own
    clusters), and the kept-token sum pins WHICH rows survived, not
    just how many.

    The DuckDB oracle recomputes components from first principles
    (all-pairs exact Jaccard → recursive closure) and replays the same
    (token count DESC, id ASC) window pick."""
    from neulix_datahub_spark.operators.components import canonical_by_components
    from neulix_datahub_spark.operators.dedupe import (
        minhash_near_duplicates,
        normalize_text,
        verify_candidate_pairs,
    )
    from neulix_datahub_spark.plans.queries_llm import planted_near_dup_corpus

    corpus = planted_near_dup_corpus(spark, sf_dir)
    cand = minhash_near_duplicates(corpus, "text", "doc_id", num_hashes=64, bands=16)
    pairs = verify_candidate_pairs(
        corpus, cand, text_col="text", id_col="doc_id", n=3, threshold=0.8
    )
    n_toks = F.coalesce(
        F.size(F.split(normalize_text(F.col("text")), " ")), F.lit(0)
    )
    kept = canonical_by_components(corpus, pairs, id_col="doc_id", score=n_toks)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum((F.col("doc_id") < 1_000_000).cast("bigint")).alias(
                "n_kept_original"
            ),
            F.sum((F.col("doc_id") >= 1_000_000).cast("bigint")).alias(
                "n_kept_twin"
            ),
            F.sum(n_toks).cast("bigint").alias("n_kept_tokens"),
        )
        .orderBy("lang")
    )


def incremental_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 INCREMENTAL (round 11, r10-verdict task 1): the daily-ingest
    form of the near-dup pipeline. Build the persisted signature index
    (bands + hashed shingles + component labels at rest) over the PRIOR
    corpus — the 100 originals — then ingest the perturbed copies as a
    never-seen DELTA: only the delta is signatured, candidates come
    from the delta-bands ⋈ persisted-bands equi-join (plus intra-delta),
    verification reads prior shingles from parquet instead of prior
    text, and the component labels extend through the delta-sized
    reduced graph. The emitted survivor profile separates prior-side
    and delta-side keeps.

    The DuckDB oracle recomputes the answer from first principles over
    the FULL corpus — all-pairs exact Jaccard >= 0.8 → recursive
    transitive closure → min-label components → survivor counts — so a
    green hash row IS the proof the verdict asked for:
    dedupe(prior index + delta) == dedupe(full corpus), exactly (the
    candidate set is a deterministic function of the text — shared
    banding expression — and components compose because prior labels
    are a connectivity-preserving star form of the prior edge set)."""
    from neulix_datahub_spark.operators.dedupe_index import (
        build_dedup_index,
        dedup_survivors,
        ingest_dedup_delta,
    )
    from neulix_datahub_spark.plans.queries_llm import planted_near_dup_corpus
    from neulix_datahub_spark.sources.io import warehouse_scratch

    corpus = planted_near_dup_corpus(spark, sf_dir)
    prior = corpus.filter(F.col("doc_id") < 1_000_000)
    delta = corpus.filter(F.col("doc_id") >= 1_000_000)
    root = warehouse_scratch(spark, "_neulix_dedup_idx_")
    path = f"{root}/index"
    build_dedup_index(prior, path)
    ingest_dedup_delta(spark, delta, path)
    kept = dedup_survivors(spark, path, corpus, "doc_id")
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum((F.col("doc_id") < 1_000_000).cast("bigint"))
            .alias("n_kept_prior"),
            F.sum((F.col("doc_id") >= 1_000_000).cast("bigint"))
            .alias("n_kept_delta"),
        )
        .orderBy("lang")
    )


# The from-first-principles near-dup closure shared VERBATIM by the
# three planted-corpus dedup oracles (one copy — the WORD_W0_SQL
# lesson): planted corpus (100 originals + first-token-dropped twins)
# → exact 3-gram shingle sets under the ENGINE's normalization (Java
# \s spelled as the explicit ASCII class; RE2's bare \s excludes
# \x0b, the round-10 migration lesson extended to the dedup tier in
# round 11) → all-pairs exact Jaccard with the engine's 6-dp rounding
# (verify_pairs_with_shingles rounds before thresholding) → recursive
# transitive closure → min-label components → losers.
NEARDUP_CLOSURE_SQL = r"""
WITH RECURSIVE corpus AS (
    SELECT doc_id, lang, text FROM documents WHERE doc_id < 100
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, lang,
           substring(text, instr(text, ' ') + 1) AS text
    FROM documents WHERE doc_id < 100
),
sh AS (
    SELECT doc_id,
           list_distinct(
               CASE WHEN len(t) >= 3
                    THEN [array_to_string(t[i:i+2], ' ')
                          for i in generate_series(1, len(t) - 2)]
                    ELSE [array_to_string(t, ' ')] END
           ) AS shingles
    FROM (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')), ' ') AS t
        FROM corpus
    )
),
edges AS (
    SELECT a.doc_id AS u, b.doc_id AS v
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) >= 0.8
),
sym AS (
    SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges
),
reach AS (
    SELECT id, id AS r FROM (SELECT DISTINCT u AS id FROM sym)
    UNION
    SELECT reach.id, s.v AS r FROM reach JOIN sym s ON reach.r = s.u
),
losers AS (
    SELECT id FROM (SELECT id, min(r) AS component FROM reach GROUP BY id)
    WHERE id != component
)
"""

_INCR_DEDUP_SQL = NEARDUP_CLOSURE_SQL + """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(CASE WHEN doc_id < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept_prior,
       CAST(sum(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept_delta
FROM corpus
WHERE doc_id NOT IN (SELECT id FROM losers)
GROUP BY lang
ORDER BY lang
"""


def stream_incremental_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 twin of ``incremental_dedup_stats`` (round 11): the persisted
    signature index built over the originals, then the perturbed-twin
    DELTA delivered as a STREAM — two micro-batches through the
    ``stream_dedup_index_ingest`` foreachBatch sink, each one a daily
    ingest (delta-only signatures, at-rest candidate join, reduced-graph
    label extension, pointer-flip commit). The oracle recomputes the
    FULL corpus dedup from first principles (all-pairs Jaccard →
    recursive closure → min-label survivors), so a green hash row
    proves the final state is invariant to micro-batch slicing:
    stream(d1); stream(d2) == one batch build. sum_kept_ids pins the
    exact survivor SET, not just counts."""
    from neulix_datahub_spark.operators.dedupe_index import (
        build_dedup_index,
        dedup_survivors,
    )
    from neulix_datahub_spark.plans.queries_llm import planted_near_dup_corpus
    from neulix_datahub_spark.streaming.sinks import stream_dedup_index_ingest

    import os
    import shutil

    tmp = _scratch(spark, "neulix_sidx_")
    corpus = planted_near_dup_corpus(spark, sf_dir)
    prior = corpus.filter(F.col("doc_id") < 1_000_000)
    delta = corpus.filter(F.col("doc_id") >= 1_000_000)
    path = f"{tmp}/index"
    build_dedup_index(prior, path)

    # stage the delta as two files -> two micro-batches (mtime fixes
    # the delivery order; invariance to the split is the point)
    src = f"{tmp}/src"
    os.makedirs(src, exist_ok=True)
    half = delta.filter(F.col("doc_id") % 2 == 0)
    rest = delta.filter(F.col("doc_id") % 2 == 1)
    for name, part, mtime in (("a", half, 1_000_000), ("b", rest, 2_000_000)):
        stage = f"{tmp}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(os.path.join(stage, pf), dst)
        os.utime(dst, (mtime, mtime))
    stream = (
        spark.readStream.schema("doc_id bigint, lang string, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_dedup_index_ingest(stream, path, checkpoint_dir=f"{tmp}/ckpt")
    q.awaitTermination()

    kept = dedup_survivors(spark, path, corpus, "doc_id")
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum((F.col("doc_id") < 1_000_000).cast("bigint"))
            .alias("n_kept_prior"),
            F.sum((F.col("doc_id") >= 1_000_000).cast("bigint"))
            .alias("n_kept_delta"),
            F.sum("doc_id").alias("sum_kept_ids"),
        )
        .orderBy("lang")
    )


def stream_incremental_passage_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """S5 twin of ``incremental_passage_scrub_stats`` (round 11): the
    persisted gram-count index built over the 3/4 prior corpus, then
    the remaining quarter delivered as a STREAM — two micro-batches
    through the ``stream_passage_index_ingest`` foreachBatch sink, each
    one a daily fragment-committed ingest. The full corpus is then
    scrubbed against the index; the oracle is the from-scratch
    full-corpus ``_PASSAGE_SCRUB_SQL`` VERBATIM, so a green hash row
    proves the final gram counts are invariant to micro-batch slicing:
    stream(d1); stream(d2) == one batch build — counts are additive and
    redelivered ids anti-join to nothing."""
    import os
    import shutil

    from neulix_datahub_spark.operators.passage_index import (
        build_passage_index,
        scrub_against_passage_index,
    )
    from neulix_datahub_spark.plans.queries_llm import _scrub_profile
    from neulix_datahub_spark.streaming.sinks import (
        stream_passage_index_ingest,
    )

    tmp = _scratch(spark, "neulix_pidx_")
    docs = load_table(spark, sf_dir, "documents")
    prior = docs.filter(F.col("doc_id") % 4 != 3)
    delta = docs.filter(F.col("doc_id") % 4 == 3)
    path = f"{tmp}/index"
    build_passage_index(prior, path, n=8)

    # stage the delta as two files -> two micro-batches (mtime fixes
    # the delivery order; invariance to the split is the point)
    src = f"{tmp}/src"
    os.makedirs(src, exist_ok=True)
    half = delta.filter(F.col("doc_id") % 8 == 3)
    rest = delta.filter(F.col("doc_id") % 8 == 7)
    for name, part, mtime in (("a", half, 1_000_000), ("b", rest, 2_000_000)):
        stage = f"{tmp}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(os.path.join(stage, pf), dst)
        os.utime(dst, (mtime, mtime))
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_passage_index_ingest(stream, path, checkpoint_dir=f"{tmp}/ckpt")
    q.awaitTermination()

    return _scrub_profile(
        scrub_against_passage_index(spark, docs, path, min_count=2)
    )


def stream_incremental_semantic_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """S5 twin of ``incremental_semantic_dedup_stats`` (round 11): the
    persisted VECTOR index built over the 3/4 prior corpus, then the
    remaining quarter delivered as a STREAM of joined
    (vec_id, embedding, doc_id, text) rows — two micro-batches through
    the ``stream_semantic_index_ingest`` foreachBatch sink, each one a
    daily semantic ingest. The oracle recomputes the full-corpus
    semantic dedup from first principles (all-pairs cosine + Jaccard →
    closure → min-label survivors), so a green hash row proves the
    final state is invariant to micro-batch slicing for the embedding
    recipe too: stream(d1); stream(d2) == one batch build."""
    import os
    import shutil

    from neulix_datahub_spark.operators.semantic_index import (
        build_semantic_index,
        semantic_survivors,
    )
    from neulix_datahub_spark.streaming.sinks import (
        stream_semantic_index_ingest,
    )

    tmp = _scratch(spark, "neulix_semstream_")
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    prior = F.col("vec_id") % 4 != 0
    path = f"{tmp}/index"
    build_semantic_index(
        emb.filter(prior), docs.filter(F.col("doc_id") % 4 != 0), path
    )

    delta = (
        emb.filter(~prior)
        .join(docs, emb["vec_id"] == docs["doc_id"])
        .select("vec_id", "embedding", "doc_id", "text")
    )
    src = f"{tmp}/src"
    os.makedirs(src, exist_ok=True)
    half = delta.filter(F.col("vec_id") % 8 == 0)
    rest = delta.filter(F.col("vec_id") % 8 == 4)
    for name, part, mtime in (("a", half, 1_000_000), ("b", rest, 2_000_000)):
        stage = f"{tmp}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(os.path.join(stage, pf), dst)
        os.utime(dst, (mtime, mtime))
    stream = (
        spark.readStream.schema(
            "vec_id bigint, embedding array<float>, doc_id bigint, text string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_semantic_index_ingest(stream, path, checkpoint_dir=f"{tmp}/ckpt")
    q.awaitTermination()

    kept = semantic_survivors(spark, path, emb, "vec_id")
    return kept.agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum((F.col("vec_id") % 4 != 0).cast("bigint")).alias("n_kept_prior"),
        F.sum((F.col("vec_id") % 4 == 0).cast("bigint")).alias("n_kept_delta"),
        F.sum("vec_id").alias("sum_kept_ids"),
    )


_STREAM_INCR_DEDUP_SQL = NEARDUP_CLOSURE_SQL + """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(CASE WHEN doc_id < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept_prior,
       CAST(sum(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept_delta,
       CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids
FROM corpus
WHERE doc_id NOT IN (SELECT id FROM losers)
GROUP BY lang
ORDER BY lang
"""


# round 11: now built on the SHARED closure — which also fixed two
# latent engine≠oracle divergences this copy carried (RE2 '\s+'
# missing \x0b, and a missing 6-dp rounding before the threshold;
# both value-identical on the ASCII fixture, both red-row hazards on
# a real corpus)
_LSH_DEDUP_SQL = NEARDUP_CLOSURE_SQL + """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_kept
FROM corpus
WHERE doc_id NOT IN (SELECT id FROM losers)
GROUP BY lang
ORDER BY lang
"""

# Canonical (argmax-quality) survivor pick: reuses the shared closure's
# `reach` (min-label membership of every CLUSTERED id), scores every
# member by token count under the engine's normalization, and replays
# the (n_toks DESC, id ASC) row_number pick. The closure's own min-id
# `losers` CTE is deliberately unused here — the whole point is a
# different survivor rule over the same components.
_CANONICAL_DEDUP_SQL = NEARDUP_CLOSURE_SQL + r"""
, scored AS (
    SELECT doc_id, lang,
           COALESCE(len(string_split(trim(regexp_replace(lower(text),
               '[ \t\n\v\f\r]+', ' ', 'g')), ' ')), 0) AS n_toks
    FROM corpus
),
memb AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
ranked AS (
    SELECT m.id,
           row_number() OVER (
               PARTITION BY m.component
               ORDER BY s.n_toks DESC, m.id
           ) AS rk
    FROM memb m JOIN scored s ON s.doc_id = m.id
),
canon_losers AS (SELECT id FROM ranked WHERE rk > 1)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(CASE WHEN doc_id < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept_original,
       CAST(sum(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept_twin,
       CAST(sum(n_toks) AS BIGINT) AS n_kept_tokens
FROM scored
WHERE doc_id NOT IN (SELECT id FROM canon_losers)
GROUP BY lang
ORDER BY lang
"""


def stream_python_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IO25 streaming form (round 9): drain the CUSTOM Python stream
    source (sources/pysource.py SyntheticCorpusStreamSource — offsets
    are plain row positions checkpointed by Structured Streaming; each
    micro-batch advances 300 rows of the same pure-function-of-id
    contract as the batch source) and aggregate the landed table with
    the IDENTICAL shape as python_datasource_stats. The oracle is the
    SAME generate_series SQL, so a green row proves stream==batch
    parity for the custom source: 4 micro-batches deliver every row
    exactly once, no boundary drift, checksums included. Drained via
    processAllAvailable (the Python micro-batch stream does not support
    Trigger.AvailableNow; Spark logs the fallback)."""
    from neulix_datahub_spark.sources.pysource import register_sources

    register_sources(spark)
    name = f"pysrc_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("neulix_synthetic_corpus_stream")
        .option("rows", "1200")
        .option("batch", "300")
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    landed = spark.table(name)
    key = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("decimal(38,0)")
    return (
        landed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.sum(key).cast("decimal(38,0)").cast("string").alias("checksum"),
        )
        .orderBy("shard")
    )


def stream_interval_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, driver-visible and oracle-checked:
    click events joined to same-user purchase events within the following
    12 hours, both as unbounded streams with watermarks; the drained join
    is aggregated per user in batch. Over the bounded fixture the result
    equals the identical batch join — the DuckDB oracle — so the hash
    check proves the streaming join's key/range/watermark semantics, not
    just that rows came back."""
    from neulix_datahub_spark.streaming.joins import stream_interval_join

    ev = read_events_stream(spark, sf_dir)
    joined = stream_interval_join(
        ev.filter(F.col("event_type") == "click").select("user_id", "ts"),
        ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value"),
        key="user_id",
        ts_col="ts",
        lower="0 seconds",
        upper="12 hours",
        watermark="24 hours",
    )
    name = f"interval_join_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(joined, name, output_mode="append", shuffle_partitions=8)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("right_value"), 4).alias("sum_purchase_value"),
        )
        .orderBy("user_id")
    )


_INTERVAL_JOIN_SQL = """
SELECT a.user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(sum(b.value), 4) AS sum_purchase_value
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 12 HOUR
GROUP BY a.user_id
ORDER BY a.user_id
"""


DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def stream_dedup_corpus_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1-streaming (tail-registered; rotates into the driver window in
    round 3): drain the documents fixture through the incremental dedup
    sink, then summarize the admitted corpus per language. Over a
    bounded input the admitted set must equal batch exact-dedup
    (min-doc_id survivor per normalized content), which is the DuckDB
    oracle; the id-sum pins the exact survivor choice. Cross-batch
    precedence (earlier batch beats later regardless of id) is pinned
    separately in tests/test_streaming.py."""
    from neulix_datahub_spark.streaming.sinks import (
        read_stream_corpus,
        stream_dedup_to_parquet,
    )

    tmp = _scratch(spark, "neulix_stream_dedup_")
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    q = stream_dedup_to_parquet(
        stream, f"{tmp}/corpus", checkpoint_dir=f"{tmp}/ckpt"
    )
    q.awaitTermination()
    out = read_stream_corpus(spark, f"{tmp}/corpus")
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("lang")
    )


_STREAM_DEDUP_SQL = r"""
WITH winners AS (
    SELECT min(doc_id) AS doc_id
    FROM documents
    GROUP BY trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g'))
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(d.doc_id) AS BIGINT) AS sum_doc_id
FROM documents d JOIN winners USING (doc_id)
GROUP BY d.lang
ORDER BY d.lang
"""


def stream_enriched_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-ext stream-static enrichment: the events stream joins the static
    customer dimension per micro-batch (streaming/joins.py
    ``stream_static_enrich``), then aggregates by market segment and
    event type. Over the bounded fixture the drained result equals the
    same join+groupBy as a batch query — the DuckDB oracle."""
    import uuid

    from neulix_datahub_spark.streaming.joins import stream_static_enrich

    name = f"enriched_{uuid.uuid4().hex[:8]}"
    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream_static_enrich(ev, cust, stream_key="user_id", dim_key="c_custkey")
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    run_stream_to_memory(agg, name, output_mode="complete", shuffle_partitions=8)
    return spark.sql(f"SELECT * FROM {name}")


_ENRICHED_SQL = """
SELECT c_mktsegment, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
"""


def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate tier (round 5) — the "hypertable rollup"
    analogue: the tumbling hourly aggregate maintained INCREMENTALLY as
    a materialized table. The windowed count/sum runs in update mode,
    so each micro-batch hands only the changed (window, type) totals to
    the foreachBatch MERGE, which upserts them into the
    snapshot-versioned rollup table (composite rollup key; latest total
    wins). Reading the materialized table back must equal the from-
    scratch batch aggregate — the oracle recomputes exactly
    ``events_hourly``. At 100 TB the rollup table is touched
    per-changed-window, never rebuilt."""
    tmp = _scratch(spark, "neulix_rollup_")
    stream = tumbling_counts(read_events_stream(spark, sf_dir)).withColumn(
        "rollup_key",
        F.concat_ws("|", F.col("window_start").cast("string"), "event_type"),
    )
    q = stream_upsert_to_parquet(
        stream, f"{tmp}/table", key="rollup_key",
        checkpoint_dir=f"{tmp}/ckpt", output_mode="update",
    )
    q.awaitTermination()
    out = read_upsert_table(spark, f"{tmp}/table")
    return out.select(
        "window_start", "event_type", "n_events", "sum_value"
    ).orderBy("window_start", "event_type")


_STREAM_ROLLUP_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""



def rollup_routed_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate ROUTING (round 5, operators/rollup.py): the
    daily per-type totals answered from the MATERIALIZED hourly rollup
    — never touching raw events after materialization. count partials
    merge by sum, sums by sum, avg derived as sum/count at the end.
    The hourly sum is stored rounded to 4 dp (the rollup table's
    contract, same as stream_hourly_rollup), so the oracle aggregates
    the identically-rounded hourly CTE — byte-honest about what a
    routed answer reads. Maintenance of the rollup itself is proven
    incrementally by stream_hourly_rollup; this query proves the
    routing algebra."""
    from neulix_datahub_spark.operators.rollup import answer_from_rollup

    tmp = _scratch(spark, "neulix_route_")
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    hourly.write.mode("overwrite").parquet(f"{tmp}/hourly")
    rollup = spark.read.parquet(f"{tmp}/hourly")
    routed = answer_from_rollup(
        rollup,
        rollup_grain="hour",
        query_grain="day",
        window_col="window_start",
        group_cols=["event_type"],
        measures={
            "n_events": ("count", "n_events"),
            "sum_value": ("sum", "sum_value"),
        },
    )
    # Hashed columns via exact integer arithmetic: the routed daily sum
    # is a true 2-dp money value carried in a double whose accumulated
    # float error (~1e-12) is far under half a cent, so round(x*100)
    # recovers the exact integer CENTS in any engine; sum_value and the
    # 6-dp avg then derive by integer half-up division — identical
    # everywhere. (round(sum/count, 6) instead diverged between
    # engines: with bit-identical inputs, a multiply-based round impl
    # crosses the .5 boundary that a correctly-rounded one doesn't.)
    cents = 'CAST(round(sum_value * 100) AS BIGINT)'
    avg_q = (
        f"(2 * {cents} * 1000000 + n_events * 100) div (2 * n_events * 100)"
    )
    return routed.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        (F.expr(cents) / F.lit(100.0)).alias("sum_value"),
        (F.expr(avg_q) / F.lit(1_000_000.0)).alias("avg_value"),
    ).orderBy("day", "event_type")


_ROLLUP_ROUTED_SQL = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS h, event_type,
           CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sv
    FROM events GROUP BY 1, 2
),
daily AS (
    SELECT date_trunc('day', h) AS d, event_type,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(round(sum(sv) * 100) AS BIGINT) AS cents
    FROM hourly GROUP BY 1, 2
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       event_type,
       n_events,
       cents / 100.0 AS sum_value,
       ((2 * cents * 1000000 + n_events * 100) // (2 * n_events * 100))
           / 1000000.0 AS avg_value
FROM daily
ORDER BY day, event_type
"""


def rollup_routed_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routing across the WEEK boundary case (round 5): weeks straddle
    months, so the router refuses week->month — but day->week is a
    legal whole-bucket union, and this query drives exactly that route
    through the oracle gate: a materialized DAILY rollup answers the
    weekly per-type totals. Complements rollup_routed_daily (hour->day)
    and the guard unit that pins the refusals."""
    from neulix_datahub_spark.operators.rollup import answer_from_rollup

    tmp = _scratch(spark, "neulix_route_wk_")
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    daily.write.mode("overwrite").parquet(f"{tmp}/daily")
    rollup = spark.read.parquet(f"{tmp}/daily")
    routed = answer_from_rollup(
        rollup,
        rollup_grain="day",
        query_grain="week",
        window_col="window_start",
        group_cols=["event_type"],
        measures={
            "n_events": ("count", "n_events"),
            "sum_value": ("sum", "sum_value"),
        },
    )
    return routed.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("week_start"),
        "event_type",
        "n_events",
        # exact cents recovery — see rollup_routed_daily
        (F.expr("CAST(round(sum_value * 100) AS BIGINT)") / F.lit(100.0)).alias(
            "sum_value"
        ),
    ).orderBy("week_start", "event_type")


_ROLLUP_WEEKLY_SQL = """
WITH daily AS (
    SELECT date_trunc('day', ts) AS d, event_type,
           CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sv
    FROM events GROUP BY 1, 2
)
SELECT strftime(date_trunc('week', d), '%Y-%m-%d') AS week_start,
       event_type,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(round(sum(sv) * 100) AS BIGINT) / 100.0 AS sum_value
FROM daily
GROUP BY 1, 2
ORDER BY week_start, event_type
"""


def stream_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance (round 6): drain the
    events stream through stream_agg_maintain_to_parquet, which folds
    each micro-batch's per-type count/sum DELTA into an aggregate
    snapshot table — no Spark aggregation state, exactly-once via the
    batch stamp its snapshot commit carries. The final table must equal
    the batch groupBy over the same bounded input (the oracle), proving
    the delta-fold path end-to-end under real micro-batching."""
    from neulix_datahub_spark.streaming.sinks import (
        read_upsert_table,
        stream_agg_maintain_to_parquet,
    )

    tmp = _scratch(spark, "neulix_stream_mv_")
    stream = read_events_stream(spark, sf_dir)
    q = stream_agg_maintain_to_parquet(
        stream,
        f"{tmp}/agg",
        group_cols=["event_type"],
        count_col="n_events",
        sum_map={"sum_value": "value"},
        checkpoint_dir=f"{tmp}/ckpt",
    )
    q.awaitTermination()
    out = read_upsert_table(spark, f"{tmp}/agg")
    return out.select(
        "event_type",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    ).orderBy("event_type")


_STREAM_MV_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def stream_dynamic_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-gap session windows under REAL micro-batching (round
    6): drain the events stream through dynamic_sessionized
    (streaming/windows.py — error events hold sessions open 2 h, others
    8 h, per-user keyed state), then summarize to the same session-size
    distribution as the batch dynamic_gap_sessions query. The oracle IS
    the batch query's SQL, so the hash proves the streaming state
    machine implements interval-union session merge identically."""
    name = f"dynsess_{uuid.uuid4().hex[:8]}"
    stream = dynamic_sessionized(read_events_stream(spark, sf_dir))
    run_stream_to_memory(stream, name, output_mode="complete", shuffle_partitions=8)
    sessions = spark.sql(f"SELECT n_events, sum_value FROM {name}")
    return (
        sessions.groupBy(F.col("n_events").alias("events_per_session"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(F.sum("sum_value"), 4).alias("total_value"),
        )
        .orderBy("events_per_session")
    )


from neulix_datahub_spark.plans.queries_analytics import (  # noqa: E402
    DYNAMIC_SESSIONS_SQL as _DYN_SESS_SQL,
)


def stream_catalog_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional multi-table streaming (round 6): the events stream
    maintains TWO catalog members per micro-batch — the accumulated
    clean rows (append) and their per-type count/sum aggregate (an
    operators/incremental.py delta fold) — committed atomically by
    stream_commit_tables. The events fixture is pre-split into 4 files
    and streamed with maxFilesPerTrigger=1, so 4 real commits happen;
    the emitted all_versions_consistent verdict time-travels to EVERY
    catalog version and checks aggregate == groupBy(clean) there — the
    cross-table invariant only atomic commits can hold at every point.
    The oracle recomputes the final aggregate from the base table and
    pins the verdict true."""
    from neulix_datahub_spark.operators.incremental import apply_agg_delta
    from neulix_datahub_spark.sources.snapshots import (
        read_catalog,
        snapshot_versions,
    )
    from neulix_datahub_spark.streaming.sinks import stream_commit_tables

    tmp = _scratch(spark, "neulix_stream_cat_")
    # value is 2-dp money: stream it as DECIMAL(18,2) so the delta-fold
    # sums are associative and every catalog version's aggregate equals
    # the recompute EXACTLY — a double sum checksum at ~1e5+ magnitude
    # can flip its last digit on micro-batch order alone.
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("decimal(18,2)").alias("value")
    )
    ev.repartition(4).write.parquet(f"{tmp}/src")
    stream = (
        spark.readStream.schema("event_type string, value decimal(18,2)")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/src")
    )

    def clean(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        return batch if existing is None else existing.unionByName(batch)

    def counts(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        feed = batch.withColumn("_change_type", F.lit("insert"))
        base = existing if existing is not None else (
            batch.limit(0)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum("value").cast("decimal(28,2)").alias("sum_value"),
            )
        )
        return apply_agg_delta(
            base, feed, ["event_type"], "n_events", {"sum_value": "value"}
        )

    cat = f"{tmp}/catalog"
    q = stream_commit_tables(
        stream,
        cat,
        {"events_clean": clean, "counts_by_type": counts},
        checkpoint_dir=f"{tmp}/ckpt",
    )
    q.awaitTermination()

    consistent = True
    for v in snapshot_versions(cat):
        tables = read_catalog(spark, cat, version=v)
        want = {
            (r.event_type, r.n, r.s)  # decimal sums: exact, no rounding
            for r in tables["events_clean"]
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("value").cast("decimal(28,2)").alias("s"),
            )
            .collect()
        }
        got = {
            (r.event_type, r.n_events, r.sum_value)
            for r in tables["counts_by_type"]
            .select("event_type", "n_events", F.col("sum_value").cast("decimal(28,2)"))
            .collect()
        }
        consistent = consistent and got == want

    final = read_catalog(spark, cat)["counts_by_type"]
    return final.select(
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.lit(consistent and len(snapshot_versions(cat)) >= 4).alias(
            "all_versions_consistent"
        ),
    ).orderBy("event_type")


_STREAM_CAT_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       true AS all_versions_consistent
FROM events
GROUP BY event_type
ORDER BY event_type
"""


_LATE_SPLIT = "2024-01-02"


def stream_late_data_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 watermark semantics under the hash gate: day-1 events are
    delivered TWO micro-batches after the rest of the month, by which
    time the committed 2-hour watermark has advanced a full day past
    them — the tumbling aggregation must DROP every late row (their
    windows are expired) while keeping every on-time window intact.
    File order is forced with pinned mtimes (the file source orders by
    timestamp), and the late file rides the THIRD batch because the
    watermark a batch FILTERS with is the one committed from the data
    through the batch before it (one-commit lag, measured: a late row
    in batch 1 still passes; in batch 2 it is dropped with
    numRowsDroppedByWatermark=1). The drop set is then a pure function
    of the fixture and the oracle recomputes the surviving aggregate
    from the on-time slice alone — upgrading S3 from unit-only to
    oracle-checked: a green row proves rows behind the watermark
    neither count nor resurrect closed windows."""
    import os
    import shutil

    from neulix_datahub_spark.streaming.windows import run_stream_to_memory

    tmp = _scratch(spark, "neulix_late_")
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    split = F.lit(_LATE_SPLIT).cast("timestamp")
    mid = F.lit("2024-01-16").cast("timestamp")
    on_time_1 = ev.filter((F.col("ts") >= split) & (F.col("ts") < mid))
    on_time_2 = ev.filter(F.col("ts") >= mid)
    late = ev.filter(F.col("ts") < split)
    src = f"{tmp}/src"
    os.makedirs(src, exist_ok=True)
    for name, part, mtime in (
        ("a", on_time_1, 1_000_000),
        ("b", on_time_2, 2_000_000),
        ("c", late, 3_000_000),
    ):
        stage = f"{tmp}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(os.path.join(stage, pf), dst)
        os.utime(dst, (mtime, mtime))

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
    )
    name = f"late_drop_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(windowed, name, output_mode="update", shuffle_partitions=8)
    result = spark.sql(f"SELECT * FROM {name}")
    n_on_time = ev.filter(F.col("ts") >= split).count()
    total_emitted = result.agg(F.coalesce(F.sum("n_events"), F.lit(0))).first()[0]
    return (
        result.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        )
        .withColumn("late_rows_dropped", F.lit(int(total_emitted) == n_on_time))
        .orderBy("event_type")
    )


_LATE_SQL = f"""
SELECT event_type,
       CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_windows,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       true AS late_rows_dropped
FROM events
WHERE ts >= TIMESTAMP '{_LATE_SPLIT} 00:00:00'
GROUP BY event_type
ORDER BY event_type
"""


_ND_T = 0.85


def stream_neardup_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup dedup end-to-end (streaming/sinks.py
    stream_neardup_dedup_to_parquet): batch 1 delivers the corpus,
    batch 2 delivers a perturbed twin of every doc_id<100 document
    (first token dropped — Jaccard ≥ 0.875 vs its original). Admission
    rule, replayed exactly by the oracle on the brute-force pair graph:
    a document drops iff a smaller-id same-batch document or any
    already-admitted document is a VERIFIED near-dup (exact shingle
    Jaccard ≥ 0.85 among LSH candidates; at that similarity the
    64-hash/16-band index misses a pair with p < 1e-5, so the candidate
    set equals the verified graph on this fixture — the verdict the
    hash match itself proves). Twins must all drop; the corpus's own
    planted near-dup clusters collapse to their min-id survivors."""
    from neulix_datahub_spark.streaming.sinks import (
        read_stream_corpus,
        stream_neardup_dedup_to_parquet,
    )

    tmp = _scratch(spark, "neulix_snd_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    twins = (
        docs.filter(F.col("doc_id") < 100)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.expr("substring(text, instr(text, ' ') + 1)"))
    )
    src = f"{tmp}/src"
    import os
    import shutil

    os.makedirs(src, exist_ok=True)
    for name, part, mtime in (("a", docs, 1_000_000), ("b", twins, 2_000_000)):
        stage = f"{tmp}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(os.path.join(stage, pf), dst)
        os.utime(dst, (mtime, mtime))

    stream = (
        spark.readStream.schema("doc_id bigint, text string, lang string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_neardup_dedup_to_parquet(
        stream,
        f"{tmp}/corpus",
        threshold=_ND_T,
        checkpoint_dir=f"{tmp}/ckpt",
    )
    q.awaitTermination()
    admitted = read_stream_corpus(spark, f"{tmp}/corpus").select("doc_id")
    langs = docs.unionByName(twins).select("doc_id", "lang")
    return (
        admitted.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count_if(F.col("doc_id") < 1_000_000).alias("n_originals_kept"),
            F.count_if(F.col("doc_id") >= 1_000_000).alias("n_twins_kept"),
            F.sum(F.when(F.col("doc_id") < 1_000_000, F.col("doc_id")))
            .cast("long")
            .alias("sum_kept_ids"),
        )
        .orderBy("lang")
    )


_ND_SQL = f"""
WITH corpus AS (
    SELECT doc_id, text, lang FROM documents
    UNION ALL
    SELECT doc_id + 1000000, substr(text, strpos(text, ' ') + 1), lang
    FROM documents WHERE doc_id < 100
),
sh AS (
    SELECT doc_id, lang,
           CASE WHEN len(t) >= 3
                THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                    for i in generate_series(1, len(t) - 2)])
                ELSE [array_to_string(t, ' ')] END AS s
    FROM (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')), ' ') AS t
        FROM corpus
    )
),
pairs AS (
    SELECT a.doc_id AS ia, b.doc_id AS ib
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s))::DOUBLE
          / len(list_distinct(list_concat(a.s, b.s))) >= {_ND_T}
),
-- batch 1 (originals): drop iff a smaller-id batch-1 verified neighbor
admitted1 AS (
    SELECT outer_sh.doc_id FROM sh outer_sh WHERE outer_sh.doc_id < 1000000
      AND NOT EXISTS (SELECT 1 FROM pairs
                      WHERE ib = outer_sh.doc_id AND ia < 1000000)
),
-- batch 2 (twins): drop iff an admitted batch-1 neighbor OR a
-- smaller-id batch-2 verified neighbor (outer references QUALIFIED —
-- a bare doc_id inside the subquery captures the inner a1.doc_id)
admitted2 AS (
    SELECT outer_sh.doc_id FROM sh outer_sh WHERE outer_sh.doc_id >= 1000000
      AND NOT EXISTS (SELECT 1 FROM pairs JOIN admitted1 a1 ON pairs.ia = a1.doc_id
                      WHERE pairs.ib = outer_sh.doc_id)
      AND NOT EXISTS (SELECT 1 FROM pairs
                      WHERE ib = outer_sh.doc_id AND ia >= 1000000)
),
kept AS (
    SELECT doc_id FROM admitted1 UNION ALL SELECT doc_id FROM admitted2
)
SELECT lang,
       CAST(count(*) FILTER (k.doc_id < 1000000) AS BIGINT) AS n_originals_kept,
       CAST(count(*) FILTER (k.doc_id >= 1000000) AS BIGINT) AS n_twins_kept,
       CAST(sum(CASE WHEN k.doc_id < 1000000 THEN k.doc_id END) AS BIGINT)
           AS sum_kept_ids
FROM kept k JOIN sh USING (doc_id)
GROUP BY lang
ORDER BY lang
"""


def stream_index_search_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SEARCH-INDEX maintenance: the documents stream drains
    in two micro-batches through the transactional catalog sink
    (stream_commit_tables), each batch folding its postings into the
    inverted index — postings append (docs are immutable), document
    lengths upsert — committed atomically, so a reader never sees
    postings without their length stats. The drained index then answers
    a conjunctive query + per-term document frequencies, hashed against
    the oracle's from-scratch index over the full corpus: a green row
    proves incremental maintenance converged to the batch-built truth.
    """
    from neulix_datahub_spark.operators.search import (
        build_inverted_index,
        conjunctive_search,
    )
    from neulix_datahub_spark.sources.snapshots import read_catalog
    from neulix_datahub_spark.streaming.sinks import stream_commit_tables

    tmp = _scratch(spark, "neulix_sindex_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp}/src_stage_a")
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp}/src_stage_b")
    import os
    import shutil

    src = f"{tmp}/src"
    os.makedirs(src, exist_ok=True)
    for name, mtime in (("a", 1_000_000), ("b", 2_000_000)):
        stage = f"{tmp}/src_stage_{name}"
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(os.path.join(stage, pf), dst)
        os.utime(dst, (mtime, mtime))

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def postings(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        new = build_inverted_index(batch)
        return new if existing is None else existing.unionByName(new)

    cat = f"{tmp}/catalog"
    q = stream_commit_tables(
        stream, cat, {"postings": postings}, checkpoint_dir=f"{tmp}/ckpt"
    )
    q.awaitTermination()

    index = read_catalog(spark, cat)["postings"]
    terms = ["spark", "table", "query"]
    n_and = conjunctive_search(index, terms).count()
    return (
        index.filter(F.col("token").isin(terms))
        .groupBy("token")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .withColumn("n_and_matches", F.lit(n_and).cast("long"))
        .orderBy("token")
    )


_STREAM_INDEX_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(
        trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g')), ' ')) AS token
    FROM documents
),
idx AS (
    SELECT token, doc_id, count(*) AS tf FROM toks
    WHERE token != '' GROUP BY 1, 2
),
n_and AS (
    SELECT CAST(count(*) AS BIGINT) AS n FROM (
        SELECT doc_id FROM idx WHERE token IN ('spark', 'table', 'query')
        GROUP BY doc_id HAVING count(DISTINCT token) = 3
    )
)
SELECT token,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       (SELECT n FROM n_and) AS n_and_matches
FROM idx
WHERE token IN ('spark', 'table', 'query')
GROUP BY token
ORDER BY token
"""


def stream_bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 twin for the tokenizer tier (round 10): the vocabulary is
    trained in BATCH (the merge table is the model — training on a
    stream makes no sense), then the documents STREAM is segmented with
    the vectorized mapInPandas apply tier — a stateless per-row
    transform, legal on streaming DataFrames, so the SAME
    bpe_segment_pandas code path serves batch and stream. Per-document
    token counts land append-mode in memory; the drained per-lang
    totals (docs, tokens, id-sum pin) must equal the batch apply, which
    is what the oracle replays — a green row proves the apply tier is
    micro-batch-invariant."""
    from neulix_datahub_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_segment_pandas,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_learn_merges(docs, n_merges=8)
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    seg = bpe_segment_pandas(stream, merges, out_col="__toks")
    proj = seg.select(
        "lang", "doc_id", F.size("__toks").alias("__n_tok")
    )
    name = f"bpe_stream_{uuid.uuid4().hex[:8]}"
    q = (
        proj.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table(name)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n_tok").alias("n_bpe_tokens"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("lang")
    )


def _stream_bpe_sql() -> str:
    from neulix_datahub_spark.plans.queries_llm import (
        _FOLD,
        WORD_W0_SQL,
        _bpe_round,
        bpe_norm_sql,
    )

    def apply_round(i: int) -> str:
        fold = _FOLD.format(col="s", i=i)
        return f"""
t{i} AS (
    SELECT lang, doc_id,
           CASE WHEN p{i}.a IS NULL OR s IS NULL THEN s ELSE {fold} END AS s
    FROM t{i - 1} LEFT JOIN p{i} ON TRUE
)"""

    return (
        WORD_W0_SQL
        + ",".join(_bpe_round(i) for i in range(1, 9))
        + r""",
t0 AS (
    SELECT lang, doc_id,
           chr(31) || regexp_replace(""" + bpe_norm_sql("text") + r""",
               '(?s)(.)', '\1' || chr(31), 'g') AS s
    FROM documents
),"""
        + ",".join(apply_round(i) for i in range(1, 9))
        + r"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(string_split(s, chr(31)),
                                x -> x <> '' AND x <> ' ')))
            AS BIGINT) AS n_bpe_tokens,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM t8
GROUP BY lang
ORDER BY lang
"""
    )


_STREAM_BPE_SQL = _stream_bpe_sql()


def stream_ivfpq_lifecycle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 twin of ``ivfpq_index_lifecycle_check`` (round 12): the
    persisted IVF-PQ index built over the fixture embeddings (the
    prior corpus), then the 10 planted near-copies of probe vec 0
    delivered as a STREAM in two micro-batches through the
    ``stream_ivfpq_index_ingest`` foreachBatch sink, then queried. The
    oracle is the lifecycle replay VERBATIM (prior-trained Lloyd runs,
    frozen-codebook encode of prior ∪ delta, probe, cell cut,
    re-rank), so a green hash row proves the final at-rest state is
    invariant to micro-batch slicing — frozen codebooks make encode a
    pure per-row function, so ingest(d1); ingest(d2) ≡
    ingest(d1 ∪ d2) byte-identically."""
    import os
    import shutil

    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        query_ivfpq_index,
        read_ivfpq_meta,
    )
    from neulix_datahub_spark.operators.similarity import _cosine_to_literal
    from neulix_datahub_spark.plans.queries_scale import (
        _IVFPQ_COARSE_ITERS,
        _IVFPQ_COARSE_K,
        _IVFPQ_PQ_ITERS,
        _IVFPQ_PQ_K,
        _IVFPQ_PROBES,
        _IVFPQ_TOP_CELLS,
    )

    tmp = _scratch(spark, "neulix_ivfpqstream_")
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("__q")
    )
    prior = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    plants = qrow.crossJoin(spark.range(1, 11)).select(
        (F.lit(1_000_000) + F.col("id")).alias("vec_id"),
        F.transform(
            "__q", lambda x: x + F.col("id").cast("double") * F.lit(0.002)
        ).alias("embedding"),
    )
    path = f"{tmp}/index"
    n_prior = prior.count()
    build_ivfpq_index(
        prior,
        path,
        coarse_k=_IVFPQ_COARSE_K,
        coarse_iters=_IVFPQ_COARSE_ITERS,
        pq_k=_IVFPQ_PQ_K,
        pq_iters=_IVFPQ_PQ_ITERS,
    )

    src = f"{tmp}/src"
    os.makedirs(src, exist_ok=True)
    half = plants.filter(F.col("vec_id") % 2 == 0)
    rest = plants.filter(F.col("vec_id") % 2 == 1)
    for name, part, mtime in (("a", half, 1_000_000), ("b", rest, 2_000_000)):
        stage = f"{tmp}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(os.path.join(stage, pf), dst)
        os.utime(dst, (mtime, mtime))
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    from neulix_datahub_spark.streaming.sinks import stream_ivfpq_index_ingest

    q = stream_ivfpq_index_ingest(stream, path, checkpoint_dir=f"{tmp}/ckpt")
    q.awaitTermination()

    meta = read_ivfpq_meta(path)
    topk, info = query_ivfpq_index(
        spark,
        path,
        qvec,
        k=10,
        n_probes=_IVFPQ_PROBES,
        top_cells=_IVFPQ_TOP_CELLS,
    )
    corpus = prior.unionByName(plants)
    exact = (
        corpus.select(
            "vec_id",
            F.round(_cosine_to_literal(F.col("embedding"), qvec), 6).alias(
                "__s"
            ),
        )
        .orderBy(F.desc("__s"), F.asc("vec_id"))
        .limit(10)
        .select(F.col("vec_id").alias("id"), F.lit(1).alias("__e"))
    )
    n_hit = (
        topk.join(exact, "id", "left")
        .agg(F.sum("__e").cast("bigint").alias("h"))
        .first()["h"]
    )
    from neulix_datahub_spark.functions.ranking import ranked_topk

    # rank the k-row shortlist on the driver (bounded collect — no
    # unpartitioned WindowExec over the probe result)
    ranked = ranked_topk(topk, [F.desc("score"), F.asc("id")], 10)
    return ranked.select(
        "rank",
        F.col("id").alias("vec_id"),
        "score",
        F.lit(int(meta["n_vecs"]) - n_prior).cast("long").alias("n_new"),
        F.lit(int(meta["n_vecs"])).cast("long").alias("n_vecs"),
        F.lit(info["n_candidates"]).cast("long").alias("n_candidates"),
        F.lit(info["n_shortlist"]).cast("long").alias("n_shortlist"),
        F.lit(int(n_hit)).cast("long").alias("n_in_exact_top10"),
        (F.lit(int(n_hit)) / F.lit(10.0) >= 0.95).alias("recall_ge_95pct"),
        (
            F.lit(info["n_shortlist"]) < F.lit(info["n_candidates"])
        ).alias("pq_pruned"),
    ).orderBy("rank")


def stream_text_to_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 twin of the end-to-end text→index pipeline (round 13,
    r12-verdict task 7): day 0 hashed-embeds the ORIGINAL documents and
    builds the IVF-PQ index over them; the near-dup twins then arrive
    as RAW TEXT in two micro-batches through the
    ``stream_text_ivfpq_ingest`` foreachBatch sink (per-batch hashed
    embedding + frozen-codebook encode + id-anti-join append), and the
    converged index answers the same k=1 batch retrieval as
    ``text_to_index_retrieval_check``. Because the embedding is a pure
    per-row function of the text and ingest is slice-invariant under
    frozen codebooks, the final at-rest state is byte-identical to a
    one-shot build(prior) + ingest(all twins) — the oracle replays that
    batch composition (Lloyd runs over the PRIOR hashed vectors only,
    frozen encode of the full corpus, the per-probe funnel) and a green
    hash row proves the stream converged to it."""
    import os
    import shutil

    from neulix_datahub_spark.operators.ivfpq_index import (
        build_ivfpq_index,
        query_ivfpq_index_batch,
    )
    from neulix_datahub_spark.operators.text import hashed_embedding_table
    from neulix_datahub_spark.plans.queries_llm import (
        planted_near_dup_corpus,
    )
    from neulix_datahub_spark.plans.queries_scale import (
        _IVFPQ_COARSE_ITERS,
        _IVFPQ_COARSE_K,
        _IVFPQ_PQ_ITERS,
        _IVFPQ_PQ_K,
    )
    from neulix_datahub_spark.streaming.sinks import stream_text_ivfpq_ingest

    tmp = _scratch(spark, "neulix_txt2idxstream_")
    corpus = planted_near_dup_corpus(spark, sf_dir)
    prior_docs = corpus.filter(F.col("doc_id") < 1_000_000)
    twin_docs = corpus.filter(F.col("doc_id") >= 1_000_000).select(
        "doc_id", "text"
    )
    emb_prior = hashed_embedding_table(
        prior_docs, "text", "doc_id", dim=64, out_col="embedding"
    ).localCheckpoint(eager=True)
    path = f"{tmp}/index"
    build_ivfpq_index(
        emb_prior,
        path,
        coarse_k=_IVFPQ_COARSE_K,
        coarse_iters=_IVFPQ_COARSE_ITERS,
        pq_k=_IVFPQ_PQ_K,
        pq_iters=_IVFPQ_PQ_ITERS,
        id_col="doc_id",
    )
    src = f"{tmp}/src"
    os.makedirs(src, exist_ok=True)
    half = twin_docs.filter(F.col("doc_id") % 2 == 0)
    rest = twin_docs.filter(F.col("doc_id") % 2 == 1)
    for name, part, mtime in (("a", half, 1_000_000), ("b", rest, 2_000_000)):
        stage = f"{tmp}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(os.path.join(stage, pf), dst)
        os.utime(dst, (mtime, mtime))
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_text_ivfpq_ingest(
        stream, path, text_col="text", id_col="doc_id", dim=64,
        checkpoint_dir=f"{tmp}/ckpt",
    )
    q.awaitTermination()
    probes = emb_prior.filter(
        (F.col("doc_id") < 100) & (F.col("doc_id") % 10 == 0)
    )
    batch = query_ivfpq_index_batch(
        spark,
        probes,
        path,
        k=1,
        n_probes=4,
        top_cells=8,
    )
    return batch.select(
        "probe_id",
        "neighbor_id",
        "score",
        (
            F.col("neighbor_id") == F.col("probe_id") + 1_000_000
        ).alias("twin_is_top1"),
    ).orderBy("probe_id")


def stream_classifier_refresh_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """S5 twin of ``classifier_refresh_stats`` (round 12): day-0 trains
    4 GD iterations on the 80% content-hash slice and commits the
    sidecar; the corpus then arrives as a STREAM in two content-hash
    micro-batches ('stream:' md5 salt) through the
    ``stream_classifier_refresh`` foreachBatch sink — each batch
    warm-starts 3 iterations on ITS OWN rows and commits back (GD is
    order-dependent, so the sink's transactional batch-id ledger, not
    an anti-join, is what makes redelivery safe). The DuckDB oracle
    unrolls all THREE phases — 4 iterations on the train slice, 3 on
    batch a, 3 on batch b, each with its own n — and must land on the
    sidecar's committed weights to 6 dp."""
    import os
    import shutil

    from neulix_datahub_spark.operators.classifier import (
        load_classifier,
        logistic_score,
        save_classifier,
        train_logistic_classifier,
    )
    from neulix_datahub_spark.operators.curation import hash_split
    from neulix_datahub_spark.operators.dedupe import normalize_text
    from neulix_datahub_spark.plans.queries_llm import (
        _LOGREG_LR,
        _LOGREG_QUANT,
    )
    from neulix_datahub_spark.streaming.sinks import stream_classifier_refresh

    tmp = _scratch(spark, "neulix_clfstream_")
    docs = hash_split(
        load_table(spark, sf_dir, "documents"),
        {"train": 0.8, "holdout": 0.2},
    )
    t = F.split(normalize_text(F.col("text")), " ")
    tot, dis = F.size(t), F.size(F.array_distinct(t))
    mx = F.array_max(F.transform(t, lambda x: F.length(x)))
    sbatch = F.when(
        F.substring(
            F.md5(F.concat(F.lit("stream:"), F.coalesce("text", F.lit("")))),
            1,
            1,
        )
        < "8",
        "a",
    ).otherwise("b")
    feat = docs.select(
        "lang",
        "split",
        sbatch.alias("sbatch"),
        (F.floor(tot / F.lit(16)).cast("long") - 10).alias("f1"),
        (
            F.floor(F.floor(F.lit(100.0) * dis / tot) / F.lit(8)).cast("long")
            - 6
        ).alias("f2"),
        (mx.cast("long") - 5).alias("f3"),
        (F.lit(2) * dis >= tot).cast("int").alias("y"),
    ).localCheckpoint(eager=True)
    cols = ["f1", "f2", "f3"]
    w0 = train_logistic_classifier(
        feat.filter(F.col("split") == "train"),
        cols,
        "y",
        iters=4,
        lr=_LOGREG_LR,
        quant=_LOGREG_QUANT,
    )
    path = f"{tmp}/model"
    save_classifier(
        path, w0, cols, "y", _LOGREG_LR, _LOGREG_QUANT, iters_done=4
    )

    src = f"{tmp}/src"
    os.makedirs(src, exist_ok=True)
    for name, mtime in (("a", 1_000_000), ("b", 2_000_000)):
        stage = f"{tmp}/stage_{name}"
        feat.filter(F.col("sbatch") == name).select(
            "f1", "f2", "f3", "y"
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(os.path.join(stage, pf), dst)
        os.utime(dst, (mtime, mtime))
    stream = (
        spark.readStream.schema("f1 bigint, f2 bigint, f3 bigint, y int")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_classifier_refresh(
        stream, path, iters_per_batch=3, checkpoint_dir=f"{tmp}/ckpt"
    )
    q.awaitTermination()

    meta = load_classifier(path)
    w = meta["weights"]
    s = logistic_score(w, cols)
    sq = F.floor(F.lit(float(_LOGREG_QUANT)) * s).cast("long")
    return (
        feat.select("lang", s.alias("__s"), sq.alias("__sq"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("__s") >= 0.5).cast("bigint")).alias("n_kept"),
            F.round(
                F.sum("__sq").cast("double")
                / (F.lit(float(_LOGREG_QUANT)) * F.count(F.lit(1))),
                4,
            ).alias("avg_score"),
        )
        .withColumn("w_bias", F.round(F.lit(w[0]), 6))
        .withColumn("w_f1", F.round(F.lit(w[1]), 6))
        .withColumn("w_f2", F.round(F.lit(w[2]), 6))
        .withColumn("w_f3", F.round(F.lit(w[3]), 6))
        .withColumn("iters_done", F.lit(int(meta["iters_done"])).cast("long"))
        .withColumn(
            "last_batch_id", F.lit(int(meta["last_batch_id"])).cast("long")
        )
        .orderBy("lang")
    )


def stream_search_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 twin of the PERSISTED BM25 search index (round 13,
    operators/search_index.py — distinct from
    ``stream_index_search_stats``, which maintains the in-catalog
    postings snapshot): day 0 builds the fragment index over 4/5 of the
    documents; the remaining fifth arrives as a STREAM in two
    micro-batches through the ``stream_search_index_ingest``
    foreachBatch sink, each batch committing one postings/doclens
    fragment via the sidecar pointer bump. Because the index has no
    trained parameters and df/N/avgdl recompute from the live relation
    per query, the converged state is BIT-identical to a one-shot build
    over the full corpus — the strongest convergence claim in the
    index family — so the oracle is simply the batch tier's from-
    scratch BM25 replay over ALL documents (``keyword_search_bm25``'s
    SQL), plus the fragment count proving the ingest really was
    incremental (build + 2 micro-batches)."""
    import os
    import shutil

    from neulix_datahub_spark.operators.search_index import (
        build_search_index,
        conjunctive_search_index,
        query_search_index,
        read_search_meta,
    )
    from neulix_datahub_spark.plans.queries_scale import _SEARCH_TERMS
    from neulix_datahub_spark.streaming.sinks import (
        stream_search_index_ingest,
    )

    tmp = _scratch(spark, "neulix_searchidxstream_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prior = docs.filter(F.col("doc_id") % 5 != 4)
    delta = docs.filter(F.col("doc_id") % 5 == 4)
    path = f"{tmp}/index"
    build_search_index(prior, path)
    src = f"{tmp}/src"
    os.makedirs(src, exist_ok=True)
    half = delta.filter(F.col("doc_id") % 2 == 0)
    rest = delta.filter(F.col("doc_id") % 2 == 1)
    for name, part, mtime in (("a", half, 1_000_000), ("b", rest, 2_000_000)):
        stage = f"{tmp}/stage_{name}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(os.path.join(stage, pf), dst)
        os.utime(dst, (mtime, mtime))
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_search_index_ingest(stream, path, checkpoint_dir=f"{tmp}/ckpt")
    q.awaitTermination()
    n_frags = read_search_meta(path)["n_fragments"]
    n_and = conjunctive_search_index(spark, path, _SEARCH_TERMS).count()
    return (
        query_search_index(spark, path, _SEARCH_TERMS)
        .select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
        .withColumn("n_and_matches", F.lit(int(n_and)).cast("long"))
        .withColumn("n_fragments", F.lit(int(n_frags)).cast("long"))
    )


from neulix_datahub_spark.plans.queries_scale import _BM25_SQL  # noqa: E402

_STREAM_SEARCH_IDX_SQL = f"""
WITH base AS ({_BM25_SQL})
SELECT doc_id, bm25, n_and_matches, CAST(3 AS BIGINT) AS n_fragments
FROM base
ORDER BY bm25 DESC, doc_id ASC
"""


STREAM_QUERIES = {
    "stream_bpe_tokenize_stats": (
        stream_bpe_tokenize_stats,
        _STREAM_BPE_SQL,
        "S5 tokenizer twin: vectorized BPE apply is micro-batch-invariant",
    ),
    "stream_index_search_stats": (
        stream_index_search_stats,
        _STREAM_INDEX_SQL,
        "streaming inverted-index maintenance converges to batch truth",
    ),
    "stream_neardup_corpus_stats": (
        stream_neardup_corpus_stats,
        _ND_SQL,
        "streaming MinHash-LSH near-dup dedup vs brute-force pair-graph oracle",
    ),
    "stream_late_data_stats": (
        stream_late_data_stats,
        _LATE_SQL,
        "S3 watermark late-drop semantics vs on-time-slice oracle",
    ),
    "stream_catalog_consistency": (
        stream_catalog_consistency,
        _STREAM_CAT_SQL,
        "atomic multi-table commits: invariant holds at EVERY version",
    ),
    "stream_dynamic_sessions": (
        stream_dynamic_sessions,
        _DYN_SESS_SQL,
        "S2 expression-gap sessions under micro-batching (parity oracle)",
    ),
    "stream_python_source_stats": (
        stream_python_source_stats,
        _PYSOURCE_STREAM_SQL,
        "IO25 streaming: custom Python stream source drained, stream==batch parity",
    ),
    "stream_incremental_agg": (
        stream_incremental_agg,
        _STREAM_MV_SQL,
        "foreachBatch delta-fold materialized aggregate (parity oracle)",
    ),
    "multimodal_features": (multimodal_features, _MULTIMODAL_SQL, "L5 multimodal plumbing"),
    "stream_enriched_segment_counts": (
        stream_enriched_segment_counts,
        _ENRICHED_SQL,
        "S-ext stream-static dimension join (batch-parity oracle)",
    ),
    "stream_interval_join_counts": (
        stream_interval_join_counts,
        _INTERVAL_JOIN_SQL,
        "S-ext stream-stream interval join (batch-parity oracle)",
    ),
    "lsh_dedup_pipeline": (lsh_dedup_pipeline, _LSH_DEDUP_SQL, "L2 LSH dedup end-to-end"),
    "canonical_dedup_stats": (
        canonical_dedup_stats,
        _CANONICAL_DEDUP_SQL,
        "L2 quality-aware survivor pick: argmax token count per cluster",
    ),
    "incremental_dedup_stats": (
        incremental_dedup_stats,
        _INCR_DEDUP_SQL,
        "L2 incremental: persisted signature index + delta ingest == full dedup",
    ),
    "stream_incremental_dedup_stats": (
        stream_incremental_dedup_stats,
        _STREAM_INCR_DEDUP_SQL,
        "S5 twin: micro-batched index ingest is slice-invariant == full dedup",
    ),
    "stream_incremental_semantic_stats": (
        stream_incremental_semantic_stats,
        _STREAM_INCR_SEMANTIC_SQL,
        "S5 twin: micro-batched VECTOR-index ingest is slice-invariant "
        "== full semantic dedup",
    ),
    "stream_incremental_passage_stats": (
        stream_incremental_passage_stats,
        _STREAM_INCR_PASSAGE_SQL,
        "S5 twin: micro-batched gram-count-index ingest is "
        "slice-invariant == full-corpus passage scrub",
    ),
    "stream_ivfpq_lifecycle_stats": (
        stream_ivfpq_lifecycle_stats,
        None,  # bound below: the lifecycle replay verbatim
        "S5 twin: micro-batched frozen-codebook IVF-PQ ingest is "
        "slice-invariant == the one-delta lifecycle",
    ),
    "stream_classifier_refresh_stats": (
        stream_classifier_refresh_stats,
        None,  # bound below (import from queries_llm after the dict)
        "S5 twin: per-micro-batch warm-start GD == three-phase "
        "unrolled oracle; transactional batch-id redelivery guard",
    ),
    "stateful_user_totals": (
        stateful_user_totals,
        _STATEFUL_TOTALS_SQL,
        "U3 applyInPandasWithState (batch-parity oracle)",
    ),
    "stream_hourly_rollup": (
        stream_hourly_rollup,
        _STREAM_ROLLUP_SQL,
        "continuous aggregate: incrementally materialized hourly rollup",
    ),
    "stream_upsert_latest_events": (
        stream_upsert_latest_events,
        _STREAM_UPSERT_SQL,
        "J2/IO14 foreachBatch MERGE sink (batch-parity oracle)",
    ),
    "stream_dedup_corpus_counts": (
        stream_dedup_corpus_counts,
        _STREAM_DEDUP_SQL,
        "L1-streaming incremental dedup sink (batch-parity oracle)",
    ),
    "stream_funnel_stats": (
        stream_funnel_stats,
        _STREAM_FUNNEL_SQL,
        "U3 stateful streaming funnel == batch funnel (parity oracle)",
    ),
    "rollup_routed_daily": (
        rollup_routed_daily,
        _ROLLUP_ROUTED_SQL,
        "continuous-aggregate routing: daily answered from hourly rollup",
    ),
    "rollup_routed_weekly": (
        rollup_routed_weekly,
        _ROLLUP_WEEKLY_SQL,
        "routing the week boundary case: day->week legal union",
    ),
    "stream_search_index_stats": (
        stream_search_index_stats,
        _STREAM_SEARCH_IDX_SQL,
        "S5 twin: micro-batched BM25 fragment ingest == one-shot build "
        "over the full corpus, bit-identically (no frozen parameters)",
    ),
}

# bind the IVF-PQ S5 twin's oracle AFTER the dict: it is the lifecycle
# replay VERBATIM (slice-invariance means the streamed state must hash
# to the same answer), imported late to keep plan modules acyclic
from neulix_datahub_spark.plans.queries_scale import (  # noqa: E402
    _IVFPQ_LIFECYCLE_SQL as _STREAM_IVFPQ_SQL,
)

STREAM_QUERIES["stream_ivfpq_lifecycle_stats"] = (
    stream_ivfpq_lifecycle_stats,
    _STREAM_IVFPQ_SQL,
    STREAM_QUERIES["stream_ivfpq_lifecycle_stats"][2],
)

from neulix_datahub_spark.plans.queries_llm import (  # noqa: E402
    STREAM_REFRESH_CLASSIFIER_SQL as _STREAM_CLF_SQL,
)

STREAM_QUERIES["stream_classifier_refresh_stats"] = (
    stream_classifier_refresh_stats,
    _STREAM_CLF_SQL,
    STREAM_QUERIES["stream_classifier_refresh_stats"][2],
)

from neulix_datahub_spark.plans.queries_scale import (  # noqa: E402
    _TEXT_TO_INDEX_PRIOR_SQL as _STREAM_TXT2IDX_SQL,
)

STREAM_QUERIES["stream_text_to_index_stats"] = (
    stream_text_to_index_stats,
    _STREAM_TXT2IDX_SQL,
    "S5 twin: text stream -> per-batch hashed embed -> frozen-codebook "
    "ingest; converged index answers the k=1 retrieval, oracle replays "
    "the build(prior)+ingest batch composition",
)
