"""The four workloads. Each one generates its inputs from the seed in
``setup``, runs a single-client closed loop in ``run`` (the next request
is sent only after the previous one returned), and checks every output
in ``verify``, after the loop, so checking never sits inside a timed
operation or the loop's wall clock.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
from spans import Tracer, charge

# Generated input sizes and warm-up lengths. "full" is what the benchmark
# measures; "tiny" only exists so the smoke test runs in well under a
# minute. The JIT keeps speeding up curation passes and stream batches
# for several units of work, so set-up runs that many first:
# cur_warm_passes over a small corpus, ev_warm_files one-file batches.
SIZES = {
    "full": dict(bi_sf=0.01, bi_shuffles_per_round=2,
                 cur_docs=4000, cur_warm_passes=3, cur_passes_per_round=2,
                 ret_docs=2000, ret_pool=1200,
                 ev_files=60, ev_files_per_round=6, ev_warm_files=8, ev_rows=2000),
    "tiny": dict(bi_sf=0.001, bi_shuffles_per_round=1,
                 cur_docs=600, cur_warm_passes=1, cur_passes_per_round=1,
                 ret_docs=200, ret_pool=200,
                 ev_files=6, ev_files_per_round=2, ev_warm_files=2, ev_rows=200),
}
GEN_REPEATS = 3  # input generation runs this often in set-up; its median counts

BI_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue",
    "q6_forecast_revenue", "q7_nation_volume", "q18_large_volume_customers",
    "profile_orders_stats", "top_orders_per_customer", "events_hourly",
    "user_sessions", "rollup_order_status", "doc_filter_sort_limit",
)


@dataclass
class Op:
    kind: str            # "read" or "write"
    name: str
    start: float
    end: float
    ok: bool = True
    info: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    size: dict


def _timed_repeats(fn, n: int) -> float:
    """Run ``fn(k)`` ``n`` times; median wall seconds."""
    times = []
    for k in range(n):
        t = time.perf_counter()
        fn(k)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


# ---------------------------------------------------------------------------
# Result hashing (BI oracle comparison)
# ---------------------------------------------------------------------------

def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, float, Decimal, np.integer, np.floating)):
        # money aggregates are decimal-exact in both engines; the rest
        # (averages, rounded sums) agree to far more than 10 digits
        return "%.10g" % float(v)
    if hasattr(v, "year") and hasattr(v, "month"):
        return pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    canonically formatted and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for ln in lines:
        h.update(b"\n" + ln.encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# bi_dashboard
# ---------------------------------------------------------------------------

class BiDashboard:
    """Closed loop over seeded shuffles of 12 SQL-tier registry queries,
    ``bi_shuffles_per_round`` shuffles a round. Every request plans the
    query and collects its rows to the driver."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.results: list[tuple[str, list[str], list[tuple]]] = []
        self.plans: list[dict] = []

    def setup(self) -> dict:
        from neulix_datahub_spark.plans.queries import QUERIES

        self.queries = {n: QUERIES[n].fn for n in BI_QUERIES}
        gen_s = _timed_repeats(
            lambda k: gen.star_schema(self.sf_dir, self.ctx.seed, self.ctx.size["bi_sf"]),
            GEN_REPEATS,
        )
        # Warm-up (JIT, codegen caches, file listing). The queries share
        # no state, so they are compiled on one thread per CPU at once:
        # cold, each is bound by single-threaded planning and code
        # generation on the driver.
        def warm(name):
            self.queries[name](self.ctx.spark, self.sf_dir).collect()

        t = time.perf_counter()
        with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
            for f in [pool.submit(warm, name) for name in BI_QUERIES]:
                f.result()
        return {"gen_s": gen_s, "warmup_s": time.perf_counter() - t}

    def run(self, seconds: float) -> list[Op]:
        from neulix_datahub_spark.observability import plan_summary

        tr, spark = self.ctx.tracer, self.ctx.spark
        rng = np.random.default_rng([self.ctx.seed, 10])
        ops: list[Op] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            order = [i for _ in range(self.ctx.size["bi_shuffles_per_round"])
                     for i in rng.permutation(len(BI_QUERIES))]
            for i in order:
                name = BI_QUERIES[i]
                start = time.perf_counter()
                with tr.span("op.bi_dashboard", req=len(ops), query=name):
                    with tr.span("plans.build"):
                        df = self.queries[name](spark, self.sf_dir)
                    with tr.span("spark.collect"):
                        rows = df.collect()
                ops.append(Op("read", name, start, time.perf_counter()))
                self.results.append((name, df.columns, [tuple(r) for r in rows]))
                if tr.enabled:
                    with tr.span("observability.plan_summary"):
                        self.plans.append(plan_summary(df))
        return ops

    def verify(self, ops: list[Op]) -> list[str]:
        import duckdb

        from neulix_datahub_spark.plans.queries import ORACLES

        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            expect = {}
            for name in BI_QUERIES:
                cur = con.execute(ORACLES[name])
                cols = [d[0] for d in cur.description]
                expect[name] = result_hash(cols, cur.fetchall())
        finally:
            con.close()
        bad = []
        for op, (name, cols, rows) in zip(ops, self.results):
            if result_hash(cols, rows) != expect[name]:
                op.ok = False
                bad.append(f"{name}: result differs from the DuckDB oracle")
        return bad

    def layer_metrics(self, ops, groups) -> dict:
        tr = self.ctx.tracer
        roots = tr.named("op.bi_dashboard")
        n = max(1, len(roots))
        build = tr.named("plans.build")
        out = {
            "plans.build_ms": sum(_dur_ms(s) for s in build) / n,
            "plans.build_jobs": sum(charge(tr, groups, s).get("jobs", 0) for s in build) / n,
            "sources.load_ms": sum(_dur_ms(s) for s in tr.named("sources.load_table")) / n,
            "driver.py4j_calls": sum(s["py4j"] for s in roots) / n,
            "driver.py_cpu_ms": sum(s["cpu_ms"] for s in roots) / n,
        }
        for k in ("shuffles", "broadcast_joins", "sort_merge_joins", "python_eval_nodes"):
            out[f"plans.{k}"] = sum(p[k] for p in self.plans) / max(1, len(self.plans))
        out.update(_spark_per_op(tr, groups, roots))
        return out


# ---------------------------------------------------------------------------
# curation_batch
# ---------------------------------------------------------------------------

_PII = [re.compile(p) for p in (
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
)]
MIN_CHARS = 40
WARM_DOCS = 600


class CurationBatch:
    """The daily curation DAG over a planted corpus: length filter,
    exact dedup, MinHash candidates, verify, components, boilerplate
    removal, PII scrub, BPE segmentation, Parquet export. One request is
    one full pass over the corpus; the loop runs them in rounds of
    ``cur_passes_per_round``."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "corpus.parquet")
        self.outputs: list[str] = []
        self.counts: list[tuple[int, int]] = []

    def setup(self) -> dict:
        from neulix_datahub_spark.operators.bpe import bpe_learn_merges_batched

        def make(k):
            self.corpus = gen.corpus(self.ctx.seed, self.ctx.size["cur_docs"])
            self.corpus.docs.to_parquet(self.src, index=False)

        gen_s = _timed_repeats(make, GEN_REPEATS)
        # BPE merges are trained, and the pass is warmed up, on a small
        # corpus from the same generator: the warm-up runs every job and
        # Python worker of a pass, at a fraction of a full pass's cost.
        # After one warm pass, full passes still ran 8.4, 7.3, 7.0 s and
        # only then about 5.8 s; after three, the first full pass is at 5.8 s.
        warm = os.path.join(self.ctx.work, "corpus_warm.parquet")
        gen.corpus(self.ctx.seed, WARM_DOCS, stream=7).docs.to_parquet(warm, index=False)
        t = time.perf_counter()
        self.merges = bpe_learn_merges_batched(
            self.ctx.spark.read.parquet(warm), n_rounds=1, window=64)
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        for k in range(self.ctx.size["cur_warm_passes"]):
            self._pass(warm, os.path.join(self.ctx.work, f"export_warm{k}"), -1, self.merges)
        return {"gen_s": gen_s, "build_s": build_s, "warmup_s": time.perf_counter() - t}

    def _pass(self, src: str, out: str, req: int, merges: list[dict]):
        from pyspark.sql import functions as F

        from neulix_datahub_spark.operators.bpe import bpe_segment_pandas
        from neulix_datahub_spark.operators.components import dedup_by_components
        from neulix_datahub_spark.operators.curation import remove_boilerplate_lines
        from neulix_datahub_spark.operators.dedupe import (
            exact_dedup, minhash_near_duplicates, verify_candidate_pairs,
        )
        from neulix_datahub_spark.operators.text import scrub_pii

        tr, spark = self.ctx.tracer, self.ctx.spark
        with tr.span("op.curation_batch", req=req):
            with tr.span("sources.read_parquet"):
                docs = spark.read.parquet(src)
            with tr.span("operators.length_filter"):
                docs = docs.filter(F.length("text") >= MIN_CHARS)
            with tr.span("operators.exact_dedup"):
                docs = exact_dedup(docs, "text", "doc_id")
            with tr.span("operators.minhash_near_duplicates"):
                cand = minhash_near_duplicates(docs, "text", "doc_id", num_hashes=64, bands=16)
            with tr.span("operators.verify_candidate_pairs"):
                pairs = verify_candidate_pairs(docs, cand, "text", "doc_id", n=3, threshold=0.8)
            with tr.span("operators.dedup_by_components"):
                docs = dedup_by_components(docs, pairs, "doc_id")
            with tr.span("operators.remove_boilerplate_lines"):
                docs = remove_boilerplate_lines(docs)
            with tr.span("operators.scrub_pii"):
                docs = docs.withColumn("text", scrub_pii("text"))
            with tr.span("operators.bpe_segment_pandas"):
                docs = bpe_segment_pandas(docs, merges)
            with tr.span("sources.export"):
                docs.write.mode("overwrite").parquet(out)
        return cand, pairs

    def run(self, seconds: float) -> list[Op]:
        tr = self.ctx.tracer
        ops: list[Op] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            for _ in range(self.ctx.size["cur_passes_per_round"]):
                out = os.path.join(self.ctx.work, f"export_{len(ops)}")
                start = time.perf_counter()
                cand, pairs = self._pass(self.src, out, len(ops), self.merges)
                ops.append(Op("write", "curation_pass", start, time.perf_counter(),
                              info={"input_rows": len(self.corpus.docs)}))
                self.outputs.append(out)
                if tr.enabled:
                    with tr.span("observability.dedupe_counts"):
                        self.counts.append((cand.count(), pairs.count()))
        return ops

    def verify(self, ops: list[Op]) -> list[str]:
        keep = self.corpus.survivors()
        bp = set(gen.BOILERPLATE)
        bad = []
        for op, out in zip(ops, self.outputs):
            t = pq.read_table(out, columns=["doc_id", "text", "bpe_tokens"]).to_pandas()
            why = []
            got = set(t["doc_id"].tolist())
            if got != keep:
                why.append(f"{len(got - keep)} extra ids (planted duplicates kept), "
                           f"{len(keep - got)} missing ids")
            if any(p.search(x) for x in t["text"] for p in _PII):
                why.append("PII left in the export")
            if any(ln.strip().lower() in bp for x in t["text"] for ln in x.split("\n")):
                why.append("boilerplate line left in the export")
            if t["bpe_tokens"].isna().any():
                why.append("document without BPE tokens")
            if why:
                op.ok = False
                bad.append(f"{out}: " + "; ".join(why))
        return bad

    def layer_metrics(self, ops, groups) -> dict:
        tr = self.ctx.tracer
        roots = [s for s in tr.named("op.curation_batch") if s["req"] >= 0]
        n = max(1, len(roots))
        dd = [s for s in tr.spans if s["name"] in (
            "operators.exact_dedup", "operators.minhash_near_duplicates",
            "operators.verify_candidate_pairs") and s["req"] >= 0]
        comp = [s for s in tr.named("operators.dedup_by_components") if s["req"] >= 0]
        cand = sum(c for c, _ in self.counts)
        out = {
            "operators.dedupe_ms": sum(_dur_ms(s) for s in dd) / n,
            "operators.components_ms": sum(_dur_ms(s) for s in comp) / n,
            "operators.components_jobs": sum(
                charge(tr, groups, s).get("jobs", 0) for s in comp) / n,
            "operators.dedupe.candidate_pairs": cand / max(1, len(self.counts)),
            "operators.dedupe.verify_yield": (
                sum(p for _, p in self.counts) / cand if cand else 0.0),
            "sources.export_ms": sum(
                _dur_ms(s) for s in tr.named("sources.export") if s["req"] >= 0) / n,
        }
        out.update(_spark_per_op(tr, groups, roots))
        return out


# ---------------------------------------------------------------------------
# retrieval_serve
# ---------------------------------------------------------------------------

READ_KINDS = ("search", "vector")
WRITE_KINDS = ("ingest_search", "ingest_vector", "delete_search", "delete_vector")
BLOCK = ("search",) * 4 + ("vector",) * 4 + ("write",) * 2  # 80% reads
COMPACT_EVERY = 6   # writes between compactions of both indexes
INGEST_BATCH, DELETE_BATCH, K = 10, 5, 10
RECALL_FLOOR = 0.15  # mean IVF-PQ recall@10 a run must keep


class RetrievalServe:
    """BM25 search index and IVF-PQ vector index over one seeded corpus,
    served by a closed loop of 80% reads and 20% writes (ingests and
    deletes of both indexes, never-reused ids), with both indexes
    compacted every ``COMPACT_EVERY`` writes."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        w = ctx.work
        self.s_path, self.v_path = f"{w}/search_index", f"{w}/ivfpq_index"

    def setup(self) -> dict:
        from pyspark.sql import functions as F

        from neulix_datahub_spark.operators.ivfpq_index import build_ivfpq_index
        from neulix_datahub_spark.operators.search_index import build_search_index
        from neulix_datahub_spark.operators.text import hashed_embedding_table

        spark, size, seed = self.ctx.spark, self.ctx.size, self.ctx.seed

        def make(k):
            self.base = gen.corpus(seed, size["ret_docs"], plant=False).docs
            self.pool = gen.corpus(seed, size["ret_pool"], first_id=1_000_000,
                                   stream=6, plant=False).docs
            self.terms = gen.query_terms(seed, 64)
            self.base.to_parquet(f"{self.ctx.work}/base.parquet", index=False)
            self.pool.to_parquet(f"{self.ctx.work}/pool.parquet", index=False)

        gen_s = _timed_repeats(make, GEN_REPEATS)
        t = time.perf_counter()
        base = spark.read.parquet(f"{self.ctx.work}/base.parquet")
        pool = spark.read.parquet(f"{self.ctx.work}/pool.parquet")
        build_search_index(base, self.s_path)
        emb = hashed_embedding_table(
            base.unionByName(pool), "text", "doc_id", dim=64
        ).select(F.col("doc_id").alias("vec_id"), "embedding")
        emb.write.parquet(f"{self.ctx.work}/emb.parquet")
        emb = spark.read.parquet(f"{self.ctx.work}/emb.parquet")
        build_ivfpq_index(emb.filter(F.col("vec_id") < 1_000_000), self.v_path,
                          coarse_iters=2, pq_iters=2)
        build_s = time.perf_counter() - t

        e = pq.read_table(f"{self.ctx.work}/emb.parquet").to_pandas()
        self.vec = {int(i): np.asarray(v, dtype=np.float64)
                    for i, v in zip(e["vec_id"], e["embedding"])}
        base_ids = sorted(self.base["doc_id"].tolist())
        self.qvecs = gen.query_vectors(seed, np.stack([self.vec[i] for i in base_ids]), 32, 0.01)
        self.pool_df = pool
        self.emb_df = emb
        self.live = {"search": set(base_ids), "vector": set(base_ids)}
        self.dead = {"search": set(), "vector": set()}
        self.next_pool = {"search": 0, "vector": 0}
        pool_ids = sorted(self.pool["doc_id"].tolist())
        self.pool_ids = pool_ids
        rng = np.random.default_rng([seed, 11])
        self.delete_order = [int(x) for x in rng.permutation(base_ids)]
        self.next_delete = {"search": 0, "vector": 0}
        self.rng = np.random.default_rng([seed, 12])
        self.n_reads = {"search": 0, "vector": 0}
        self.n_writes = 0

        t = time.perf_counter()
        warm: list[Op] = []
        for kind in ("search", "vector", "ingest_search", "ingest_vector",
                     "delete_search", "delete_vector"):
            self._request(kind, warm, -1)
        return {"gen_s": gen_s, "build_s": build_s, "warmup_s": time.perf_counter() - t}

    def _request(self, kind: str, ops: list[Op], req: int) -> None:
        from pyspark.sql import functions as F

        from neulix_datahub_spark.operators.ivfpq_index import (
            compact_ivfpq_index, delete_from_ivfpq_index, ingest_ivfpq_delta,
            query_ivfpq_index,
        )
        from neulix_datahub_spark.operators.search_index import (
            compact_search_index, delete_from_search_index, ingest_search_delta,
            query_search_index, read_search_meta,
        )

        tr, spark = self.ctx.tracer, self.ctx.spark
        info: dict = {}
        start = time.perf_counter()
        with tr.span(f"op.retrieval_serve.{kind}", req=req):
            if kind == "search":
                terms = self.terms[self.n_reads["search"] % len(self.terms)]
                self.n_reads["search"] += 1
                with tr.span("search_index.query"):
                    df = query_search_index(spark, self.s_path, terms)
                    rows = df.orderBy(F.desc(F.round("score", 6)), "doc_id").limit(K).collect()
                info = {"terms": terms, "hits": [(r[0], r[1]) for r in rows]}
                if tr.enabled:
                    info["fragments"] = read_search_meta(self.s_path)["n_fragments"]
            elif kind == "vector":
                q = self.n_reads["vector"] % len(self.qvecs)
                self.n_reads["vector"] += 1
                with tr.span("ivfpq_index.query"):
                    topk, fi = query_ivfpq_index(
                        spark, self.v_path, [float(x) for x in self.qvecs[q]],
                        k=K, n_probes=3, top_cells=8, with_info=tr.enabled,
                    )
                    rows = topk.collect()
                info = {"q": q, "ids": [int(r["id"]) for r in rows], **fi}
            elif kind.startswith("ingest"):
                idx = kind.split("_")[1]
                lo = self.next_pool[idx]
                ids = self.pool_ids[lo:lo + INGEST_BATCH]
                self.next_pool[idx] = lo + INGEST_BATCH
                if idx == "search":
                    with tr.span("search_index.ingest"):
                        ingest_search_delta(
                            spark, self.pool_df.filter(F.col("doc_id").isin(ids)), self.s_path)
                else:
                    with tr.span("ivfpq_index.ingest"):
                        ingest_ivfpq_delta(
                            spark, self.emb_df.filter(F.col("vec_id").isin(ids)), self.v_path)
                self.live[idx].update(ids)
                info = {"ids": ids}
            elif kind.startswith("delete"):
                idx = kind.split("_")[1]
                lo = self.next_delete[idx]
                ids = self.delete_order[lo:lo + DELETE_BATCH]
                self.next_delete[idx] = lo + DELETE_BATCH
                if idx == "search":
                    with tr.span("search_index.delete"):
                        delete_from_search_index(
                            spark, spark.createDataFrame([(i,) for i in ids], "doc_id long"),
                            self.s_path)
                else:
                    with tr.span("ivfpq_index.delete"):
                        delete_from_ivfpq_index(
                            spark, spark.createDataFrame([(i,) for i in ids], "vec_id long"),
                            self.v_path)
                self.live[idx].difference_update(ids)
                self.dead[idx].update(ids)
                info = {"ids": ids}
            else:
                with tr.span("search_index.compact"):
                    compact_search_index(spark, self.s_path)
                with tr.span("ivfpq_index.compact"):
                    compact_ivfpq_index(spark, self.v_path)
        end = time.perf_counter()
        if kind in READ_KINDS:
            info["live"] = frozenset(self.live[kind])
            info["dead"] = frozenset(self.dead[kind])
        ops.append(Op("read" if kind in READ_KINDS else "write", kind, start, end, info=info))

    def run(self, seconds: float) -> list[Op]:
        ops: list[Op] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            for slot in self.rng.permutation(len(BLOCK)):
                kind = BLOCK[slot]
                if kind == "write":
                    kind = WRITE_KINDS[self.n_writes % len(WRITE_KINDS)]
                    self.n_writes += 1
                    self._request(kind, ops, len(ops))
                    if self.n_writes % COMPACT_EVERY == 0:
                        self._request("compact", ops, len(ops))
                else:
                    self._request(kind, ops, len(ops))
        return ops

    def verify(self, ops: list[Op]) -> list[str]:
        from pyspark.sql import functions as F

        from neulix_datahub_spark.operators.search import bm25_rank, build_inverted_index

        spark = self.ctx.spark
        bad = []
        recalls = []
        for op in ops:
            if op.name != "vector":
                continue
            info = op.info
            if set(info["ids"]) & info["dead"]:
                op.ok = False
                bad.append(f"vector read {info['q']}: returned a deleted id")
            live = sorted(info["live"])
            m = np.stack([self.vec[i] for i in live])
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = m @ self.qvecs[info["q"]]
            exact = {live[j] for j in np.argsort(-sims, kind="stable")[:K]}
            recalls.append(len(exact & set(info["ids"])) / K)
        if recalls and statistics.mean(recalls) < RECALL_FLOOR:
            bad.append(f"mean IVF-PQ recall@10 {statistics.mean(recalls):.3f} < {RECALL_FLOOR}")
            for op in ops:
                if op.name == "vector":
                    op.ok = False
        self.recall = statistics.mean(recalls) if recalls else float("nan")

        # sampled BM25 reads against bm25_rank over the live corpus
        searches = [op for op in ops if op.name == "search"]
        rng = np.random.default_rng([self.ctx.seed, 13])
        texts = pd.concat([self.base, self.pool])[["doc_id", "text"]]
        for j in sorted(rng.choice(len(searches), min(2, len(searches)), replace=False)):
            op = searches[j]
            live = texts[texts["doc_id"].isin(op.info["live"])]
            df = spark.createDataFrame(live)
            index = build_inverted_index(df)
            lengths = index.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
            want = [
                (r[0], r[1]) for r in bm25_rank(index, lengths, op.info["terms"])
                .orderBy(F.desc(F.round("score", 6)), "doc_id").limit(K).collect()
            ]
            if [(i, round(s, 6)) for i, s in want] != [
                    (i, round(s, 6)) for i, s in op.info["hits"]]:
                op.ok = False
                bad.append(f"search {op.info['terms']}: differs from bm25_rank")
        return bad

    def layer_metrics(self, ops, groups) -> dict:
        tr = self.ctx.tracer
        reads = [s for s in tr.spans if s["name"] in (
            "op.retrieval_serve.search", "op.retrieval_serve.vector")]
        searches = [o for o in ops if o.name == "search"]
        vectors = [o for o in ops if o.name == "vector"]

        def mean_ms(name):
            ss = [s for s in tr.named(name) if s["req"] >= 0]
            return sum(_dur_ms(s) for s in ss) / len(ss) if ss else 0.0

        read_spark = [charge(tr, groups, s) for s in reads if s["req"] >= 0]
        nr = max(1, len(read_spark))
        out = {
            "search_index.query_ms": mean_ms("search_index.query"),
            "search_index.fragments": (
                sum(o.info["fragments"] for o in searches) / len(searches) if searches else 0.0),
            "ivfpq_index.query_ms": mean_ms("ivfpq_index.query"),
            "ivfpq_index.candidates_per_result": (
                sum(o.info.get("n_candidates", 0) for o in vectors)
                / max(1, sum(len(o.info["ids"]) for o in vectors))),
            "sources.files_read": sum(g.get("files_read", 0) for g in read_spark) / nr,
            "sources.input_bytes": sum(g.get("input_bytes", 0) for g in read_spark) / nr,
            "search_index.ingest_ms": mean_ms("search_index.ingest"),
            "search_index.delete_ms": mean_ms("search_index.delete"),
            "ivfpq_index.ingest_ms": mean_ms("ivfpq_index.ingest"),
            "ivfpq_index.delete_ms": mean_ms("ivfpq_index.delete"),
            "search_index.compact_ms": mean_ms("search_index.compact"),
        }
        roots = [s for s in tr.spans if s["name"].startswith("op.retrieval_serve")
                 and s["req"] >= 0]
        out.update(_spark_per_op(tr, groups, roots))
        return out


# ---------------------------------------------------------------------------
# events_stream
# ---------------------------------------------------------------------------

EVENT_SCHEMA = ("event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string")


class EventsStream:
    """Multi-file events drained in rounds through
    ``stream_agg_maintain_to_parquet`` with ``maxFilesPerTrigger=1``:
    each round moves the next files into the source directory and
    restarts the query on the same checkpoint, so every round resumes
    from committed offsets. One request is one micro-batch, timed from
    trigger to commit by the query's own progress report."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        w = ctx.work
        self.pool, self.src = f"{w}/events_pool", f"{w}/events_src"
        self.out, self.ckpt = f"{w}/rollup", f"{w}/ckpt"
        self.progress: list[dict] = []

    def setup(self) -> dict:
        size = self.ctx.size

        def make(k):
            shutil.rmtree(self.pool, ignore_errors=True)
            self.truth = gen.event_files(
                self.pool, self.ctx.seed, size["ev_files"], size["ev_rows"])

        gen_s = _timed_repeats(make, GEN_REPEATS)
        self.files = sorted(os.listdir(self.pool))
        os.makedirs(self.src)
        t = time.perf_counter()
        warm = f"{self.ctx.work}/warm"
        # batches kept speeding up over the first 6 to 8 (cold: 5.3, 1.9,
        # 1.4, 1.2, 1.1 s, then about 1.05 s)
        gen.event_files(f"{warm}/src", self.ctx.seed + 1, size["ev_warm_files"], size["ev_rows"])
        self._drain(f"{warm}/src", f"{warm}/out", f"{warm}/ckpt", -1)
        return {"gen_s": gen_s, "warmup_s": time.perf_counter() - t}

    def _drain(self, src, out, ckpt, req) -> list[dict]:
        from neulix_datahub_spark.streaming.sinks import stream_agg_maintain_to_parquet

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("op.events_stream.round", req=req):
            with tr.span("streaming.stream_agg_maintain_to_parquet"):
                stream = (spark.readStream.schema(EVENT_SCHEMA)
                          .option("maxFilesPerTrigger", "1").parquet(src))
                q = stream_agg_maintain_to_parquet(
                    stream, out, group_cols=["event_type"], count_col="n_events",
                    sum_map={"sum_value": "value"}, checkpoint_dir=ckpt)
                q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        # data batches only: an idle trigger has no addBatch phase
        return [p for p in q.recentProgress if "addBatch" in p.get("durationMs", {})]

    def run(self, seconds: float) -> list[Op]:
        per = self.ctx.size["ev_files_per_round"]
        rows = self.ctx.size["ev_rows"]
        ops: list[Op] = []
        self.drained_files = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds and self.drained_files < len(self.files):
            batch = self.files[self.drained_files:self.drained_files + per]
            for f in batch:
                os.rename(f"{self.pool}/{f}", f"{self.src}/{f}")
            self.drained_files += len(batch)
            prog = self._drain(self.src, self.out, self.ckpt, len(ops))
            for p in prog:  # latency: the query's own trigger-to-commit time
                ops.append(Op("write", "micro_batch", 0.0,
                              p["durationMs"]["triggerExecution"] / 1e3, info={"input_rows": rows}))
            self.progress.extend(prog)
        return ops

    def verify(self, ops: list[Op]) -> list[str]:
        from neulix_datahub_spark.streaming.sinks import read_upsert_table

        drained = self.truth.iloc[: self.drained_files * self.ctx.size["ev_rows"]]
        cents = (drained["value"] * 100).round().astype(np.int64)
        want = drained.assign(c=cents).groupby("event_type").agg(
            n=("event_id", "size"), c=("c", "sum"))
        got = {r["event_type"]: (r["n_events"], r["sum_value"])
               for r in read_upsert_table(self.ctx.spark, self.out).collect()}
        bad = []
        if set(got) != set(want.index):
            bad.append(f"rollup groups {sorted(got)} != {sorted(want.index)}")
        else:
            for et, row in want.iterrows():
                n, s = got[et]
                if n != row["n"] or abs(s - row["c"] / 100) > 1e-6 * max(1.0, abs(s)):
                    bad.append(f"{et}: rollup ({n}, {s}) != ({row['n']}, {row['c'] / 100})")
        if bad:
            for op in ops:
                op.ok = False
        return bad

    def layer_metrics(self, ops, groups) -> dict:
        n = max(1, len(self.progress))

        def mean(key):
            return sum(p["durationMs"].get(key, 0) for p in self.progress) / n

        return {
            "streaming.trigger_ms": mean("triggerExecution"),
            "streaming.add_batch_ms": mean("addBatch"),
            "streaming.query_planning_ms": mean("queryPlanning"),
            "streaming.wal_commit_ms": mean("walCommit"),
            "streaming.batches": float(len(self.progress)),
        }


# ---------------------------------------------------------------------------

def _dur_ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1e3


def _spark_per_op(tr: Tracer, groups: dict, roots: list[dict]) -> dict:
    """Spark task metrics of the given request spans, per request."""
    n = max(1, len(roots))
    tot: dict[str, float] = {}
    peak = 0.0
    for r in roots:
        for k, v in charge(tr, groups, r).items():
            if k == "peak_exec_mem":
                peak = max(peak, v)
            else:
                tot[k] = tot.get(k, 0.0) + v
    g = lambda k: tot.get(k, 0.0) / n  # noqa: E731
    return {
        "spark.jobs": g("jobs"), "spark.stages": g("stages"), "spark.tasks": g("tasks"),
        "spark.executor_run_ms": g("run_ms"), "spark.executor_cpu_ms": g("cpu_ms"),
        "spark.gc_ms": g("gc_ms"), "spark.scheduler_delay_ms": g("sched_delay_ms"),
        "spark.shuffle_write_bytes": g("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": g("shuffle_read_bytes"),
        "spark.spill_bytes": g("spill_bytes"),
        "spark.peak_execution_memory_bytes": peak,
    }


WORKLOADS = {
    "bi_dashboard": BiDashboard,
    "curation_batch": CurationBatch,
    "retrieval_serve": RetrievalServe,
    "events_stream": EventsStream,
}
