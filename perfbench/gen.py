"""Seeded input generators for the benchmark, plus the input self-check.

Everything here is a pure function of ``seed``: the same seed gives the
same corpus, embeddings, op stream and query-mix tables, byte for byte.
The program under test never sees the seed, only the generated inputs.
"""

from __future__ import annotations

import json
import math
import os
import re
from dataclasses import dataclass

import numpy as np

TOKEN_RE = re.compile("[a-zA-Z]+")
DF_CUTOFF = 3000  # the engine's default posting-list bound (operators/index.py)

_CONS = "bcdfghjklmnpqrstvwxz"
_VOWS = "aeiou"


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per input kind, so resizing one input never
    shifts another's draws."""
    return np.random.default_rng([seed, stream])


def vocabulary(n_words: int, rng: np.random.Generator) -> list[str]:
    """``n_words`` distinct lowercase pseudo-words of 2 to 6 letters
    (consonant-vowel syllables), shuffled so word length is not tied to
    frequency rank."""
    syl = [c + v for c in _CONS for v in _VOWS]  # 100 syllables
    words: list[str] = []
    n_syl = 1
    while len(words) < n_words:
        for i in range(len(syl) ** n_syl):
            digits = []
            for _ in range(n_syl):
                digits.append(syl[i % len(syl)])
                i //= len(syl)
            words.append("".join(digits))
            if len(words) == n_words:
                break
        n_syl += 1
    order = rng.permutation(n_words)
    return [words[i] for i in order]


def zipf_sampler(n: int, s: float):
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    cdf /= cdf[-1]

    def draw(rng: np.random.Generator, size) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(size)), n - 1)

    return draw


@dataclass
class Corpus:
    doc_ids: list[int]
    texts: list[str]
    dup_of: dict[int, int]  # near-duplicate doc -> the doc it was copied from

    @property
    def n_tokens(self) -> int:
        return sum(len(t.split()) for t in self.texts)


def corpus(
    seed: int,
    n_docs: int,
    vocab_size: int,
    mean_len: int = 200,
    zipf_s: float = 1.0,
    near_dup_share: float = 0.10,
    mutate: float = 0.05,
) -> Corpus:
    """Zipf-vocabulary corpus. ``near_dup_share`` of the documents copy an
    earlier document and replace ``mutate`` of its tokens."""
    rng = _rng(seed, 1)
    words = np.array(vocabulary(vocab_size, rng))
    draw = zipf_sampler(vocab_size, zipf_s)
    lens = rng.integers(mean_len // 2, mean_len * 3 // 2 + 1, size=n_docs)
    docs: list[np.ndarray] = []
    dup_of: dict[int, int] = {}
    for d in range(n_docs):
        if d > 0 and rng.random() < near_dup_share:
            src = int(rng.integers(0, d))
            toks = docs[src].copy()
            hit = rng.random(toks.size) < mutate
            toks[hit] = draw(rng, int(hit.sum()))
            dup_of[d] = src
        else:
            toks = draw(rng, int(lens[d]))
        docs.append(toks)
    return Corpus(
        doc_ids=list(range(n_docs)),
        texts=[" ".join(words[t]) for t in docs],
        dup_of=dup_of,
    )


def ranks(seed: int, doc_ids: list[int]) -> dict[int, float]:
    """A rank per document for the search index to serve: Pareto-tailed,
    as PageRank over a web graph is. The engine's own PageRank runs and is
    checked in ``query_mix``."""
    rng = _rng(seed, 5)
    return dict(zip(doc_ids, (0.15 + rng.pareto(2.0, len(doc_ids))).tolist()))


def tokenize(text: str) -> list[str]:
    """The engine's tokenizer (functions/text.tokens): lower-cased
    ``[a-zA-Z]+`` runs."""
    return TOKEN_RE.findall(text.lower())


def embeddings(
    seed: int, n: int, dim: int = 64, n_clusters: int = 32, spread: float = 0.35
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float32 unit vectors) drawn around ``n_clusters`` random unit
    centres, so IVF buckets and PQ codes see real cluster structure."""
    rng = _rng(seed, 2)
    centres = rng.standard_normal((n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, n_clusters, size=n)
    x = centres[label] + spread * rng.standard_normal((n, dim)) / math.sqrt(dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return np.arange(n, dtype=np.int64), x.astype(np.float32)


# ---------------------------------------------------------------- op stream


@dataclass
class IndexStats:
    """Naive (pure-Python) view of what the search index must hold."""

    tokens: dict[int, list[str]]
    df: dict[str, int]  # every term
    indexed: list[str]  # df < cutoff, by df desc then term

    @classmethod
    def of(cls, c: Corpus, cutoff: int = DF_CUTOFF) -> "IndexStats":
        toks = {d: tokenize(t) for d, t in zip(c.doc_ids, c.texts)}
        df: dict[str, int] = {}
        for ts in toks.values():
            for t in set(ts):
                df[t] = df.get(t, 0) + 1
        indexed = sorted((t for t, n in df.items() if n < cutoff), key=lambda t: (-df[t], t))
        return cls(toks, df, indexed)


# Request mix, in twelfths. The reference's interactive user issues one
# verb, a term lookup with snippets (Query.scala), so ``term`` is half of
# all requests. ``ann`` gets a quarter: at the build host's ~180 requests/s
# that is ~1,000 ann samples (a p99 with ten beyond it) in 20 s. The other
# text verbs split what is left equally.
OP_MIX = (("term", 6 / 12), ("multi", 1 / 12), ("phrase", 1 / 12), ("near", 1 / 12), ("ann", 3 / 12))


def op_stream(seed: int, stats: IndexStats, vectors: np.ndarray, n_ops: int) -> list[tuple]:
    """The seeded closed-loop request stream: ``(kind, args)`` tuples.
    A query term is a random token of the corpus among the *indexed*
    terms, so a term is asked as often as it is written: Zipf-skewed like
    the text, with posting lengths over the whole df range. Phrase and
    NEAR pairs are read off the corpus, so they match somewhere."""
    rng = _rng(seed, 3)
    kinds = [k for k, _ in OP_MIX]
    probs = np.array([p for _, p in OP_MIX])
    indexed = set(stats.indexed)
    doc_ids = sorted(stats.tokens)
    pool = [t for d in doc_ids for t in stats.tokens[d] if t in indexed]

    def term() -> str:
        return pool[int(rng.integers(len(pool)))]

    def pair(gap_lo: int, gap_hi: int) -> tuple[str, str, int]:
        while True:
            d = doc_ids[int(rng.integers(len(doc_ids)))]
            ts = stats.tokens[d]
            gap = int(rng.integers(gap_lo, gap_hi + 1))
            if len(ts) <= gap:
                continue
            p = int(rng.integers(0, len(ts) - gap))
            a, b = ts[p], ts[p + gap]
            if a in indexed and b in indexed and a != b:
                return a, b, gap

    ops: list[tuple] = []
    for k in rng.choice(len(kinds), size=n_ops, p=probs):
        kind = kinds[k]
        if kind == "term":
            ops.append(("term", term()))
        elif kind == "multi":
            n = int(rng.integers(2, 4))
            ops.append(("multi", sorted({term() for _ in range(n)})))
        elif kind == "phrase":
            a, b, _ = pair(1, 1)
            ops.append(("phrase", [a, b]))
        elif kind == "near":
            a, b, _ = pair(2, 5)
            ops.append(("near", a, b))
        else:
            v = vectors[int(rng.integers(len(vectors)))].astype(np.float64)
            v = v + 0.05 * rng.standard_normal(v.size) / math.sqrt(v.size)
            ops.append(("ann", [float(x) for x in v]))
    return ops


def self_check(
    ops: list[tuple], stats: IndexStats, c: Corpus, naive_nonempty
) -> dict:
    """Refuse an op stream that collapses onto a few terms, onto one
    posting length, or onto empty answers. Returns the measured
    properties; raises ``ValueError`` naming the first property out of
    range. ``naive_nonempty(op) -> bool`` answers an op from the naive
    reference."""
    terms: list[str] = []
    for op in ops:
        if op[0] == "term":
            terms.append(op[1])
        elif op[0] in ("multi", "phrase"):
            terms.extend(op[1])
        elif op[0] == "near":
            terms.extend(op[1:3])
    dfs = np.array([stats.df[t] for t in terms])
    p10, p90 = np.percentile(dfs, [10, 90])
    near_dup = _near_dup_share(c, stats)
    by_kind: dict[str, list[bool]] = {}
    for op in ops:
        by_kind.setdefault(op[0], []).append(naive_nonempty(op))
    nonempty = {k: sum(v) / len(v) for k, v in by_kind.items()}
    props = {
        "distinct_terms": len(set(terms)),
        "term_draws": len(terms),
        "posting_len_p10": float(p10),
        "posting_len_p90": float(p90),
        "near_dup_share": near_dup,
        "nonempty_share": nonempty,
    }
    checks = [
        ("distinct_terms", props["distinct_terms"] >= min(200, len(stats.indexed) // 4)),
        ("posting_len_spread", p90 >= 20 * max(p10, 1)),
        ("near_dup_share", 0.05 <= near_dup <= 0.20),
        ("op_kinds", set(by_kind) == {k for k, _ in OP_MIX}),
        ("nonempty_share", all(v >= 0.9 for v in nonempty.values())),
    ]
    for name, ok in checks:
        if not ok:
            raise ValueError(f"input self-check failed: {name} ({json.dumps(props)})")
    return props


def _near_dup_share(c: Corpus, stats: IndexStats, min_jaccard: float = 0.7) -> float:
    """Share of documents whose token set is within ``min_jaccard`` of the
    document it was copied from: measured on the text, not trusted from
    the generator's bookkeeping."""
    hits = 0
    for d, src in c.dup_of.items():
        a, b = set(stats.tokens[d]), set(stats.tokens[src])
        if len(a & b) >= min_jaccard * len(a | b):
            hits += 1
    return hits / len(c.doc_ids)


# ------------------------------------------------------ query-mix tables

# The vocabulary of the engine's testdata documents (plus the ``dup`` tag of
# their near-duplicates): the declared queries look up fixed terms from it
# (plans/registry/_shared.py).
TESTDATA_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def write_mix_tables(seed: int, out_dir: str) -> dict[str, int]:
    """A seeded twin of the engine's sf0.01 testdata: same tables, schemas,
    row counts and key domains, with fresh values. The declared queries and
    their DuckDB oracles run on it unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 4)
    counts: dict[str, int] = {}

    def put(name: str, cols: dict, schema: pa.Schema) -> None:
        tbl = pa.table(cols, schema=schema)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows

    n_docs = 500
    texts: list[str] = []
    for d in range(n_docs):
        if d > 0 and rng.random() < 0.05:  # near-duplicates, tagged like testdata
            texts.append(texts[int(rng.integers(0, d))] + " dup")
            continue
        n = int(rng.integers(10, 100))
        texts.append(" ".join(TESTDATA_WORDS[i] for i in rng.integers(0, len(TESTDATA_WORDS), n)))
    put(
        "documents",
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{d % 20}" for d in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                   ("source", pa.string()), ("n_chars", pa.int64())]),
    )

    n_emb = 500
    x = rng.standard_normal((n_emb, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    put(
        "embeddings",
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": [list(r) for r in x.astype(np.float32)],
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        },
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]),
    )

    n_ev = 10_000
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(1, 518_400_000, n_ev)  # µs; mean gap ~4.3 min
    ts = t0 + np.cumsum(gaps).astype("timedelta64[us]")
    put(
        "events",
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
            "event_type": [("signup", "error", "click", "view", "purchase")[i]
                           for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]),
    )

    n_ord = 15_000
    n_cust, n_part, n_supp = 1_500, 2_000, 100
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + (rng.integers(0, 2404, n_ord) * 86_400_000_000).astype("timedelta64[us]")
    put(
        "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_ord), 2),
            "o_orderdate": odate,
            "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
                                for i in rng.integers(0, 5, n_ord)],
        },
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]),
    )

    n_li = 60_000
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 3000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": day0 + (rng.integers(0, 2500, n_li) * 86_400_000_000).astype("timedelta64[us]"),
        },
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]),
    )

    put(
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.0, 9999.0, n_supp), 2),
        },
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    )
    put(
        "nation",
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]),
    )
    return counts
