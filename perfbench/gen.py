"""Seeded input generators with ground truth.

Everything here is a pure function of the seed: the same seed gives
byte-identical tables, corpora, query streams and event files. Nothing
reads the repository's fixture directories; every file lands under the
run's own work directory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import lru_cache

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "fr", "es", "zh")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
BOILERPLATE = (
    "subscribe to our newsletter for weekly updates",
    "all rights reserved by the publisher",
    "click here to accept cookies and continue",
    "share this article with your friends",
)
_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "ta", "po", "si", "de", "va", "zu", "ber",
    "gan", "tor", "lin", "mas", "quo", "rel", "fin", "dal", "ost", "ix",
)
_EPOCH = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def vocabulary(size: int = 3000) -> list[str]:
    """Letter-only words (no digits, so no word can look like PII),
    fixed across seeds; the seed only changes how they are drawn."""
    rng = np.random.default_rng(7)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


@lru_cache(maxsize=8)
def _zipf_cdf(size: int, a: float) -> np.ndarray:
    c = np.cumsum(1.0 / np.arange(1, size + 1) ** a)
    return c / c[-1]


def zipf_ranks(rng: np.random.Generator, n: int, size: int, a: float = 1.1) -> np.ndarray:
    """``n`` ranks in ``[0, size)`` with P(rank r) proportional to (r+1)^-a."""
    return np.minimum(np.searchsorted(_zipf_cdf(size, a), rng.random(n)), size - 1)


def _money(x: np.ndarray) -> np.ndarray:
    # 2-dp values stored as doubles: CAST(x AS DECIMAL(18,2)) recovers
    # them exactly, which the registry's exact checksums rely on
    return np.round(x, 2)


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


# ---------------------------------------------------------------------------
# Star schema + events (the BI registry's tables)
# ---------------------------------------------------------------------------

def star_schema(dest: str, seed: int, sf: float) -> dict[str, int]:
    """TPC-H-shaped tables plus ``events`` at scale factor ``sf``, in the
    registry's schema (one ``<name>.parquet`` file each). Returns row
    counts."""
    rng = _rng(seed, 1)
    os.makedirs(dest, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(20, n_cust // 10)

    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    tables["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    tables["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "valve", "pin"]
    tables["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    odate = _EPOCH + rng.integers(0, 2404, n_ord) * np.timedelta64(_DAY_US, "us")
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 121, n_li) * np.timedelta64(_DAY_US, "us")
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ship,
    })
    tables["events"] = events_frame(rng, 0, n_ev, n_users, _EVENT_START, 30)
    for name, df in tables.items():
        _write(df, os.path.join(dest, f"{name}.parquet"))
    return {k: len(v) for k, v in tables.items()}


_EVENT_START = np.datetime64("2024-01-01", "us")


def events_frame(
    rng: np.random.Generator, first_id: int, n: int, n_users: int,
    start: np.datetime64, days: float,
) -> pd.DataFrame:
    """``n`` events with ids from ``first_id``, distinct microsecond
    timestamps spread over ``days`` days from ``start``."""
    span = int(days * _DAY_US)
    offs = np.sort(rng.choice(span, n, replace=False))
    return pd.DataFrame({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": _money(rng.uniform(0.01, 500.0, n)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


# ---------------------------------------------------------------------------
# Text corpus with planted duplicates, boilerplate and PII
# ---------------------------------------------------------------------------

@dataclass
class Corpus:
    docs: pd.DataFrame                      # doc_id, text, lang, source, n_chars
    too_short: set[int] = field(default_factory=set)
    exact_dups: set[int] = field(default_factory=set)
    near_dups: set[int] = field(default_factory=set)
    pii_docs: set[int] = field(default_factory=set)
    boilerplate_docs: set[int] = field(default_factory=set)

    def survivors(self) -> set[int]:
        """Ids a correct curation pass keeps: everything except the
        too-short documents and the later copy of every planted pair."""
        ids = set(self.docs["doc_id"].tolist())
        return ids - self.too_short - self.exact_dups - self.near_dups


def _doc_text(rng: np.random.Generator, vocab: list[str], n_lines: int) -> list[str]:
    out = []
    for _ in range(n_lines):
        k = int(rng.integers(6, 15))
        out.append(" ".join(vocab[i] for i in zipf_ranks(rng, k, len(vocab))))
    return out


def corpus(seed: int, n_docs: int, first_id: int = 0, stream: int = 2,
           plant: bool = True) -> Corpus:
    """``n_docs`` documents of 3-6 Zipf-worded lines. With ``plant``:
    ~2% are too short for the length filter, ~5% are exact duplicates
    of an earlier original (case and whitespace varied, so only the
    normalized fingerprint matches), ~5% are near duplicates (last word
    replaced: word-3-gram Jaccard >= 0.88), ~15% carry boilerplate lines
    and ~10% PII. Every planted copy gets a larger id than its source,
    so min-id survivor picks keep the original."""
    rng = _rng(seed, stream)
    vocab = vocabulary()
    rows: list[tuple[int, str]] = []
    c = Corpus(docs=pd.DataFrame())
    originals: list[int] = []
    texts: dict[int, list[str]] = {}
    n_bp = max(64, int(0.15 * n_docs)) if plant else 0
    bp_slots = set(rng.choice(n_docs, min(n_docs, n_bp), replace=False).tolist()) if plant else set()
    for i in range(n_docs):
        did = first_id + i
        kind = rng.random() if plant and originals else 1.0
        if kind < 0.02:
            text = [vocab[int(rng.integers(0, 50))]]
            c.too_short.add(did)
        elif kind < 0.07:
            src = originals[int(rng.integers(0, len(originals)))]
            text = [ln.upper() if j % 2 else "  " + ln for j, ln in enumerate(texts[src])]
            c.exact_dups.add(did)
        elif kind < 0.12:
            src = originals[int(rng.integers(0, len(originals)))]
            text = list(texts[src])
            last = text[-1].split(" ")
            last[-1] = "zz" + last[-1]
            text[-1] = " ".join(last)
            c.near_dups.add(did)
        else:
            text = _doc_text(rng, vocab, int(rng.integers(3, 7)))
            if plant and i in bp_slots:
                pos = int(rng.integers(0, len(text) + 1))
                text.insert(pos, BOILERPLATE[len(c.boilerplate_docs) % len(BOILERPLATE)])
                c.boilerplate_docs.add(did)
            if plant and rng.random() < 0.10:
                user = "".join(vocab[int(rng.integers(0, 200))][:6] for _ in range(2))
                text.append(
                    f"contact {user}@example.com or call +1 555-{int(rng.integers(100, 999))}-"
                    f"{int(rng.integers(1000, 9999))} ssn {int(rng.integers(100, 999))}-"
                    f"{int(rng.integers(10, 99))}-{int(rng.integers(1000, 9999))}"
                )
                c.pii_docs.add(did)
            originals.append(did)
            texts[did] = text
        rows.append((did, "\n".join(text)))
    df = pd.DataFrame(rows, columns=["doc_id", "text"])
    df["doc_id"] = df["doc_id"].astype(np.int64)
    df["lang"] = rng.choice(LANGS, len(df))
    df["source"] = [f"src{k}" for k in rng.integers(0, 20, len(df))]
    df["n_chars"] = df["text"].str.len().astype(np.int64)
    c.docs = df
    return c


def query_terms(seed: int, n: int, vocab_size: int = 3000) -> list[list[str]]:
    """``n`` keyword queries of 1-3 Zipf-drawn terms (popular terms are
    queried most, as in real search logs)."""
    rng = _rng(seed, 3)
    vocab = vocabulary(vocab_size)
    return [
        [vocab[int(r)] for r in zipf_ranks(rng, int(rng.integers(1, 4)), len(vocab), 0.9)]
        for _ in range(n)
    ]


def query_vectors(seed: int, base: np.ndarray, n: int, noise: float = 0.05) -> np.ndarray:
    """``n`` unit query vectors: seeded rows of ``base`` plus Gaussian
    noise, so each query has true neighbours in the corpus."""
    rng = _rng(seed, 4)
    q = base[rng.integers(0, len(base), n)] + rng.normal(0.0, noise, (n, base.shape[1]))
    return q / np.linalg.norm(q, axis=1, keepdims=True)


# ---------------------------------------------------------------------------
# Multi-file events source
# ---------------------------------------------------------------------------

def event_files(dest: str, seed: int, n_files: int, rows_per_file: int,
                n_users: int = 200) -> pd.DataFrame:
    """Write ``n_files`` parquet files named ``part-00000.parquet``...
    into ``dest``, each ``rows_per_file`` events covering the next hour
    of event time. Returns every generated row (the ground truth)."""
    rng = _rng(seed, 5)
    os.makedirs(dest, exist_ok=True)
    frames = []
    for k in range(n_files):
        start = _EVENT_START + np.timedelta64(k * 3_600_000_000, "us")
        df = events_frame(rng, k * rows_per_file, rows_per_file, n_users, start, 1 / 24)
        _write(df, os.path.join(dest, f"part-{k:05d}.parquet"))
        frames.append(df)
    return pd.concat(frames, ignore_index=True)
