"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(kind, seed)``: numpy's PCG64 generator
seeded with the workload seed, written with pyarrow (no Spark), so the same
seed gives byte-identical files. ``cached`` writes each input set once per
seed under the work directory; generation always happens outside every timed
region.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# shared vocabularies
# ---------------------------------------------------------------------------
FIXTURE_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EPOCH_2024_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
DAY_US = 86_400 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings (no statistics timestamps, no created_by drift
    # within one pyarrow) so equal inputs give equal bytes
    pq.write_table(table, path, compression="snappy")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _day_ts(start: str, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    base = int(datetime.fromisoformat(start).replace(tzinfo=timezone.utc).timestamp())
    return _ts((base + rng.integers(0, n_days, n) * 86_400) * 1_000_000)


def _words_text(rng: np.random.Generator, vocab: np.ndarray, probs, n_words: np.ndarray) -> list[str]:
    flat = rng.choice(len(vocab), size=int(n_words.sum()), p=probs)
    out, i = [], 0
    for k in n_words:
        out.append(" ".join(vocab[flat[i : i + k]]))
        i += k
    return out


# ---------------------------------------------------------------------------
# contract_sweep: the registry's ten-table fixture, sf0.01 shape
# ---------------------------------------------------------------------------
def make_fixture(seed: int, out_dir: str) -> None:
    """TPC-H-ish star schema + events + documents + embeddings with the
    column names, types and cardinalities of the sf0.01 test fixture."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    w = lambda t, name: _write(t, f"{out_dir}/{name}.parquet")  # noqa: E731

    w(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), "region")
    w(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), "nation")

    n_cust, n_supp, n_part, n_ord, n_li = 1500, 100, 2000, 15000, 60000
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    w(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), "customer")
    w(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), "supplier")
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    w(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    }), "part")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    w(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _day_ts("1995-01-01", 2405, rng, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    }), "orders")
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    w(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey] * rng.uniform(1.0, 2.1, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _day_ts("1995-01-02", 2499, rng, n_li),
    }), "lineitem")

    _write(events_table(rng, 10_000, n_users=150, user_zipf=None), f"{out_dir}/events.parquet")

    n_docs = 500
    vocab = np.array(FIXTURE_WORDS)
    texts = _words_text(rng, vocab, None, rng.integers(10, 100, n_docs))
    for i in range(0, n_docs, 20):  # planted near-duplicates for the dedup rows
        src = int(rng.integers(0, n_docs))
        texts[i] = texts[src] + " dup"
    lang = np.array(LANGS)[rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])]
    w(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), "documents")
    _write(embeddings_table(rng, np.arange(500), dim=64, n_labels=10), f"{out_dir}/embeddings.parquet")


def events_table(rng: np.random.Generator, n: int, n_users: int, user_zipf: float | None) -> pa.Table:
    """events-shaped rows: monotone microsecond timestamps, JSON props."""
    gaps = rng.exponential(0.95 * 30 * DAY_US / n, n).astype("int64") + 1
    if user_zipf is None:
        users = rng.integers(0, n_users, n)
    else:
        users = (rng.zipf(user_zipf, n) - 1) % n_users
    etype = np.array(EVENT_TYPES)[rng.choice(5, n, p=[0.3, 0.3, 0.15, 0.1, 0.15])]
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(EPOCH_2024_US + np.cumsum(gaps)),
        "user_id": pa.array(users, pa.int64()),
        "event_type": etype,
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def embeddings_table(rng: np.random.Generator, ids: np.ndarray, dim: int, n_labels: int) -> pa.Table:
    """Unit vectors clustered around ``n_labels`` random directions."""
    cents = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, len(ids))
    v = cents[labels] * 0.35 + rng.normal(size=(len(ids), dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# ---------------------------------------------------------------------------
# capture_replay: a Zipf-skewed message stream
# ---------------------------------------------------------------------------
CAPTURE_EVENTS = 40_000


def make_capture_events(seed: int, out_dir: str) -> None:
    """events rows whose derived topics (``catalog.with_topics``) are
    Zipf-skewed through user_id, with the catalog's ~20% partition children
    and 1-in-11 system-tenant rows."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    _write(events_table(rng, CAPTURE_EVENTS, n_users=400, user_zipf=1.3), f"{out_dir}/events.parquet")


# ---------------------------------------------------------------------------
# curate_funnel: a web-like corpus with planted near-duplicates and an eval set
# ---------------------------------------------------------------------------
CURATE_DOCS = 600
CURATE_VOCAB = 3000
DUP_SHARE = 0.15


def zipf_vocab(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(rng.choice(letters, int(rng.integers(2, 9)))) for _ in range(n * 2)}
    vocab = np.array(sorted(words)[:n])
    rng.shuffle(vocab)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    return vocab, p / p.sum()


def make_corpus(seed: int, out_dir: str) -> None:
    """``documents``-schema corpus (4 languages x 4 sources) where a fixed
    share of docs are near-duplicate copies (one word swapped), plus an eval
    set of 40 docs, half of them copied from the corpus (contamination)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    vocab, p = zipf_vocab(rng, CURATE_VOCAB)
    n = CURATE_DOCS
    texts = _words_text(rng, vocab, p, rng.integers(10, 100, n))
    n_dup = int(n * DUP_SHARE)
    for i in rng.choice(np.arange(1, n), n_dup, replace=False):
        src = texts[int(rng.integers(0, i))].split()
        src[int(rng.integers(0, len(src)))] = str(vocab[int(rng.integers(0, len(vocab)))])
        texts[i] = " ".join(src)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS[:4])[rng.integers(0, 4, n)],
        "source": np.array(["web", "forum", "news", "wiki"])[rng.integers(0, 4, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(docs, f"{out_dir}/docs.parquet")
    copied = rng.choice(n, 20, replace=False)
    fresh = _words_text(rng, vocab, p, rng.integers(20, 60, 20))
    _write(pa.table({
        "doc_id": pa.array(np.arange(900_000, 900_040), pa.int64()),
        "text": [texts[i] for i in copied] + fresh,
    }), f"{out_dir}/evals.parquet")


# ---------------------------------------------------------------------------
# ingest_serve: per-round doc and vector batches plus fixed query batches
# ---------------------------------------------------------------------------
INGEST_ROUNDS = 1
INGEST_ROWS = 1000
VEC_DIM = 32
N_QUERIES = 16


def make_ingest_batches(seed: int, out_dir: str) -> None:
    rng = np.random.default_rng([seed, 4])
    vocab, p = zipf_vocab(rng, 2000)
    for r in range(INGEST_ROUNDS):
        d = f"{out_dir}/round{r}"
        os.makedirs(d, exist_ok=True)
        ids = np.arange(r * INGEST_ROWS, (r + 1) * INGEST_ROWS)
        texts = _words_text(rng, vocab, p, rng.integers(15, 80, INGEST_ROWS))
        _write(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": ["en"] * INGEST_ROWS,
            "source": ["web"] * INGEST_ROWS,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }), f"{d}/docs.parquet")
        _write(embeddings_table(np.random.default_rng([seed, 5, r]), ids, VEC_DIM, 8), f"{d}/vectors.parquet")
    qtext = [" ".join(vocab[rng.choice(200, 3, replace=False)]) for _ in range(N_QUERIES)]
    _write(pa.table({
        "query_id": pa.array(np.arange(N_QUERIES), pa.int64()),
        "query": qtext,
    }), f"{out_dir}/bm25_queries.parquet")
    qv = embeddings_table(np.random.default_rng([seed, 6]), np.arange(N_QUERIES), VEC_DIM, 8)
    _write(qv.select(["vec_id", "embedding"]), f"{out_dir}/ann_queries.parquet")


MAKERS = {
    "fixture": make_fixture,
    "capture": make_capture_events,
    "corpus": make_corpus,
    "ingest": make_ingest_batches,
}


def cached(kind: str, seed: int, cache_root: str) -> str:
    """Directory holding input set ``kind`` for ``seed``, generated on first
    use (written to a temp dir, then renamed, so a killed run never leaves a
    half-written cache entry). The key includes a digest of this file, so a
    changed generator never reuses stale inputs."""
    with open(__file__, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(cache_root, f"{kind}-{seed}-{digest}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        MAKERS[kind](seed, tmp)
        os.replace(tmp, out)
    return out
