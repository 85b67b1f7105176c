"""Property-based tests (hypothesis): operator semantics vs naive Python
reference implementations on randomized small inputs. These catch the
boundary cases fixtures miss (equal timestamps, singleton groups, empty
matches)."""

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from page_rank_hadoop_spark.operators import windows
from page_rank_hadoop_spark.operators.asof import as_of_join
from page_rank_hadoop_spark.operators.dedup import exact_duplicates

# keep Spark round-trips modest: few examples, small lists
SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_ts = st.integers(min_value=0, max_value=3600)  # seconds within an hour
_uid = st.integers(min_value=1, max_value=3)


@st.composite
def _event_rows(draw, min_size=0, max_size=12):
    rows = draw(
        st.lists(st.tuples(_uid, _ts), min_size=min_size, max_size=max_size, unique=True)
    )
    t0 = dt.datetime(2024, 1, 1)
    return [
        (i + 1, uid, t0 + dt.timedelta(seconds=s), float(i))
        for i, (uid, s) in enumerate(rows)
    ]


@given(left=_event_rows(min_size=1), right=_event_rows())
@settings(**SETTINGS)
def test_asof_join_matches_naive(spark, left, right):
    ldf = spark.createDataFrame(left, ["event_id", "user_id", "ts", "value"])
    rdf = spark.createDataFrame(
        right or [(0, -99, dt.datetime(2024, 1, 1), 0.0)],
        ["event_id", "user_id", "ts", "value"],
    )
    got = {
        r["event_id"]: (r["r_event_id"], r["r_ts"])
        for r in as_of_join(
            ldf, rdf, on="user_id", right_payload=["event_id"], prefix="r_", how="left"
        ).collect()
    }
    rows = right or [(0, -99, dt.datetime(2024, 1, 1), 0.0)]
    for eid, uid, ts, _ in left:
        cands = [(rts, reid) for reid, ruid, rts, _ in rows if ruid == uid and rts <= ts]
        want = max(cands) if cands else None  # latest ts, then max event_id
        assert got[eid] == ((want[1], want[0]) if want else (None, None)), (
            f"left {eid}: got {got[eid]}, want {want}"
        )


@given(rows=_event_rows(min_size=1))
@settings(**SETTINGS)
def test_sessionize_matches_naive(spark, rows):
    gap_s = 600
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    got = {
        r["event_id"]: r["session_id"]
        for r in windows.sessionize(df, gap_minutes=10).collect()
    }
    by_user: dict[int, list] = {}
    for eid, uid, ts, _ in sorted(rows, key=lambda r: (r[2], r[0])):
        by_user.setdefault(uid, []).append((ts, eid))
    for uid, evs in by_user.items():
        sid, last = 1, None
        for ts, eid in evs:
            if last is not None and (ts - last).total_seconds() > gap_s:
                sid += 1
            assert got[eid] == sid, f"event {eid}: got {got[eid]}, want {sid}"
            last = ts


@given(
    texts=st.lists(
        st.sampled_from(["aaa", "bbb", "ccc", "ddd"]), min_size=1, max_size=10
    )
)
@settings(**SETTINGS)
def test_exact_dedup_matches_naive(spark, texts):
    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["keep_doc_id"], r["n_dups"]) for r in exact_duplicates(df).collect()
    }
    want = set()
    for t in set(texts):
        ids = [i for i, tt in docs if tt == t]
        if len(ids) > 1:
            want.add((min(ids), len(ids)))
    assert got == want


_node = st.integers(min_value=0, max_value=25)


@given(pairs=st.lists(st.tuples(_node, _node), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_components_match_union_find(spark, pairs):
    """near_dup_components == a naive union-find on any random pair graph
    (self-loops and duplicate pairs included): every doc appearing in a
    pair gets the min doc_id of its connected component."""
    from page_rank_hadoop_spark.operators.dedup import near_dup_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expect = {x: find(x) for x in parent}

    df = spark.createDataFrame([(a, b) for a, b in pairs], "doc_a LONG, doc_b LONG")
    got = {
        r["doc_id"]: r["component_id"] for r in near_dup_components(df).collect()
    }
    assert got == expect


@given(
    iv=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),   # user_id
            st.integers(min_value=0, max_value=7200),  # start offset s
            st.integers(min_value=0, max_value=5400),  # duration s
        ),
        min_size=2,
        max_size=14,
    )
)
@settings(**SETTINGS)
def test_interval_overlap_matches_naive(spark, iv):
    """Grid-bucketed overlap join == naive O(n²) pairwise check for any
    random interval set, including zero-length intervals and intervals
    spanning several grid cells."""
    from page_rank_hadoop_spark.operators.windows import interval_overlap_pairs

    rows = [
        (uid, sid, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s),
         dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s + d))
        for sid, (uid, s, d) in enumerate(iv)
    ]
    expect = set()
    for ua, sa, a0, a1 in rows:
        for ub, sb, b0, b1 in rows:
            if ua < ub and a0 <= b1 and b0 <= a1:
                expect.add((ua, sa, ub, sb))
    df = spark.createDataFrame(rows, "user_id LONG, session_id LONG, t0 TIMESTAMP, t1 TIMESTAMP")
    got = {
        (r["user_a"], r["session_a"], r["user_b"], r["session_b"])
        for r in interval_overlap_pairs(df, cell_seconds=1800).collect()
    }
    assert got == expect


_word = st.text(alphabet="abcde", min_size=1, max_size=6)


@given(
    words=st.lists(_word, min_size=0, max_size=40),
    size=st.integers(min_value=1, max_value=8),
    stride=st.integers(min_value=1, max_value=8),
)
@settings(**SETTINGS)
def test_chunk_documents_matches_naive(spark, words, size, stride):
    """Chunking == naive Python windowing: same windows, full token
    coverage, chunk_id dense from 0."""
    from page_rank_hadoop_spark.operators.textstats import chunk_documents

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = [
        (r["chunk_id"], r["chunk_text"])
        for r in chunk_documents(df, size=size, stride=stride).collect()
    ]
    expected = []
    for ci, start in enumerate(range(0, max(len(words) - 1, 0) + 1, stride)):
        w = words[start : start + size]
        if w:
            expected.append((ci, " ".join(w)))
    if not words:
        expected = []
    assert got == expected


@given(
    keys=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=60, unique=True),
    rate=st.floats(min_value=0.0, max_value=1.0),
)
@settings(**SETTINGS)
def test_mixture_sample_rate_monotone_and_stable(spark, keys, rate):
    """Raising a group's rate only ever ADDS rows (the md5 coin is fixed
    per key), and rates 0/1 are exact."""
    from page_rank_hadoop_spark.operators.pipeline import mixture_sample

    df = spark.createDataFrame([(k, "g") for k in keys], ["doc_id", "source"])
    lo = {r["doc_id"] for r in mixture_sample(df, {"g": rate}).collect()}
    hi = {r["doc_id"] for r in mixture_sample(df, {"g": min(rate + 0.25, 1.0)}).collect()}
    assert lo <= hi
    assert {r["doc_id"] for r in mixture_sample(df, {"g": 1.0}).collect()} == set(keys)
    assert mixture_sample(df, {"g": 0.0}).count() == 0


@st.composite
def _snapshot_pair(draw):
    """Two snapshots over a small key space with arbitrary churn,
    including NULL attribute values and all-op mixtures."""
    keys = st.integers(min_value=0, max_value=15)
    val = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
    old = draw(st.dictionaries(keys, val, max_size=10))
    new = draw(st.dictionaries(keys, val, max_size=10))
    return old, new


@given(pair=_snapshot_pair())
@settings(**SETTINGS)
def test_snapshot_diff_apply_round_trip(spark, pair):
    """apply_changes(old, snapshot_diff(old, new)) must reproduce new
    EXACTLY, for any churn pattern including NULL transitions."""
    from page_rank_hadoop_spark.operators.pipeline import apply_changes, snapshot_diff

    old, new = pair
    old_df = spark.createDataFrame(
        [(k, v) for k, v in old.items()] or [(999, None)], "id long, v long"
    )
    new_df = spark.createDataFrame(
        [(k, v) for k, v in new.items()] or [(999, None)], "id long, v long"
    )
    if not old:
        old_df = old_df.filter("id < 0")
    if not new:
        new_df = new_df.filter("id < 0")
    feed = snapshot_diff(old_df, new_df, "id")
    rebuilt = {r["id"]: r["v"] for r in apply_changes(old_df, feed, "id").collect()}
    assert rebuilt == new
    # and the feed is minimal: only genuinely changed keys appear
    feed_keys = {r["id"] for r in feed.collect()}
    expected = {k for k in set(old) | set(new)
                if (k in old) != (k in new) or old.get(k) != new.get(k)}
    assert feed_keys == expected


@given(
    docs=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30),
        min_size=0,
        max_size=14,
    ),
    w=st.integers(min_value=1, max_value=4),
)
@settings(**SETTINGS)
def test_sorted_neighborhood_matches_naive(spark, docs, w):
    """The distributed global rank + block equi-join must produce
    EXACTLY the pairs of the definitional form: sort all docs by
    (normalized key, doc_id), pair each doc with its next w neighbors,
    keep token-Jaccard >= threshold."""
    import re as _re

    from page_rank_hadoop_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string") if rows else (
        spark.createDataFrame([], "doc_id long, text string")
    )
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in sorted_neighborhood_pairs(df, w=w, min_jaccard=0.5).collect()
    }

    # naive reference of the definition
    def key(t):
        return _re.sub(r"[^a-z0-9]", "", t.lower())[:24]

    def toks(t):
        return set(_re.findall(r"[a-zA-Z]+", t.lower()))

    srt = sorted(rows, key=lambda r: (key(r[1]), r[0]))
    expect = set()
    for i, (ida, ta) in enumerate(srt):
        for d in range(1, w + 1):
            if i + d >= len(srt):
                break
            idb, tb = srt[i + d]
            a_, b_ = toks(ta), toks(tb)
            union = a_ | b_
            if not union:
                continue
            j = len(a_ & b_) / len(union)
            if j >= 0.5:
                expect.add((min(ida, idb), max(ida, idb), round(j, 6)))
    assert got == expect


_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_doc_words = st.lists(_word, min_size=0, max_size=10)


@st.composite
def _word_docs(draw, min_docs=1, max_docs=5):
    docs = draw(st.lists(_doc_words, min_size=min_docs, max_size=max_docs))
    return [(i, " ".join(ws)) for i, ws in enumerate(docs)]


@given(docs=_word_docs())
@settings(**SETTINGS)
def test_bigram_logprob_matches_naive(spark, docs):
    """bigram_logprob == the pure-Python formula, including the
    micro-unit floor mean rule."""
    import math

    from page_rank_hadoop_spark.operators.textstats import bigram_logprob

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
           for r in bigram_logprob(df).collect()}

    toks = {i: t.split() for i, t in docs}
    bigr = {i: list(zip(ws, ws[1:])) for i, ws in toks.items()}
    c2: dict = {}
    for bs in bigr.values():
        for b in bs:
            c2[b] = c2.get(b, 0) + 1
    c1: dict = {}
    for (w1, _), c in c2.items():
        c1[w1] = c1.get(w1, 0) + c
    vocab = {w for ws in toks.values() for w in ws}
    want = {}
    for i, bs in bigr.items():
        if not bs:
            continue
        lpm = [
            round(math.log((c2[b] + 0.5) / (c1[b[0]] + 0.5 * len(vocab))) * 1e6)
            for b in bs
        ]
        want[i] = (len(bs), math.floor(sum(lpm) / len(bs)) / 1e6)
    assert got == want


@given(docs=_word_docs(max_docs=6))
@settings(**SETTINGS)
def test_quality_funnel_chain_invariants(spark, docs):
    """Funnel counts are monotone nonincreasing and n_in chains from the
    previous stage's n_out, for arbitrary corpora."""
    from page_rank_hadoop_spark.operators.textstats import quality_funnel

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = sorted(quality_funnel(df).collect(), key=lambda r: r["stage"])
    assert rows[0]["n_out"] == len(docs)
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_in"] == prev["n_out"]
        assert cur["n_out"] <= cur["n_in"]


@given(docs=_word_docs(), phrases=st.lists(
    st.lists(_word, min_size=1, max_size=3), min_size=1, max_size=3))
@settings(**SETTINGS)
def test_blocklist_matches_matches_naive(spark, docs, phrases):
    """blocklist_matches == naive overlapping-occurrence counting."""
    from page_rank_hadoop_spark.operators.textstats import blocklist_matches

    plist = sorted({" ".join(p) for p in phrases})
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r["doc_id"], r["phrase"]): r["n_matches"]
           for r in blocklist_matches(df, plist).collect()}
    want = {}
    for i, t in docs:
        ws = t.split()
        for p in plist:
            pw = p.split()
            n = sum(
                1
                for s in range(len(ws) - len(pw) + 1)
                if ws[s:s + len(pw)] == pw
            )
            if n:
                want[(i, p)] = n
    assert got == want


@given(docs=_word_docs(min_docs=1, max_docs=5))
@settings(**SETTINGS)
def test_ngram_novelty_matches_naive(spark, docs):
    """ngram_novelty (n=3 for small inputs) == naive distinct-gram df."""
    from page_rank_hadoop_spark.operators.textstats import ngram_novelty

    n = 3
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty"])
           for r in ngram_novelty(df, n=n).collect()}
    grams = {
        i: {" ".join(ws[s:s + n]) for s in range(len(ws) - n + 1)}
        for i, t in docs
        for ws in [t.split()]
        if len(ws) >= n
    }
    dfreq: dict = {}
    for gs in grams.values():
        for g in gs:
            dfreq[g] = dfreq.get(g, 0) + 1
    want = {
        i: (
            len(gs),
            sum(1 for g in gs if dfreq[g] == 1),
            round(sum(1 for g in gs if dfreq[g] == 1) / len(gs), 6),
        )
        for i, gs in grams.items()
        if gs
    }
    assert got == want


# ---------------------------------------------------------------- round 7 --
@given(
    frames=st.lists(
        st.binary(min_size=0, max_size=40), min_size=1, max_size=6
    ),
    fills=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=6),
)
@settings(max_examples=60, deadline=None)
def test_jpeg_splitter_roundtrip_random_entropy(frames, fills):
    """Property: concatenating structurally-valid JPEG frames with
    arbitrary entropy bytes (stuffed) and arbitrary fill-byte runs
    before EOI always splits back into the exact frame boundaries."""
    from page_rank_hadoop_spark.multimodal.decode import split_video_frames

    def frame(entropy: bytes, n_fill: int) -> bytes:
        app0 = b"\xff\xd9\x00"  # EOI bytes inside a segment body (trap)
        sos = b"\x01\x00\x00"
        return (
            b"\xff\xd8"
            + b"\xff\xe0" + (len(app0) + 2).to_bytes(2, "big") + app0
            + b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
            + entropy.replace(b"\xff", b"\xff\x00")
            + b"\xff" * n_fill
            + b"\xff\xd9"
        )

    parts = [frame(e, fills[i % len(fills)]) for i, e in enumerate(frames)]
    assert split_video_frames(b"".join(parts)) == parts


@given(
    counts=st.lists(
        st.tuples(st.sampled_from("abcdefgh"), st.integers(1, 50)),
        min_size=0,
        max_size=12,
    )
)
@settings(
    max_examples=20, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_df_matches_counter_addition(spark, counts):
    """Property: merge_df over an arbitrary split of a (term, df)
    multiset equals plain counter addition, any split point."""
    import collections

    from page_rank_hadoop_spark.operators.index import merge_df

    cut = len(counts) // 2
    mk = lambda part: spark.createDataFrame(
        part or [("__none__", 0)], ["term", "df"]
    )
    # merge_df's contract takes (term, df) DICTIONARIES (one row per
    # term per side) — pre-aggregate each side before the merge
    agg = {}
    for t, c in counts:
        agg[t] = agg.get(t, 0) + c
    a = {}
    for t, c in counts[:cut]:
        a[t] = a.get(t, 0) + c
    b = {}
    for t, c in counts[cut:]:
        b[t] = b.get(t, 0) + c
    got2 = {
        r["term"]: r["df"]
        for r in merge_df(
            mk(list(a.items())), mk(list(b.items()))
        ).collect()
        if r["term"] != "__none__"
    }
    assert got2 == agg


@given(n=st.integers(1, 40), dim=st.integers(1, 16))
@settings(max_examples=25, deadline=None)
def test_codebook_fingerprint_is_content_addressed(n, dim):
    """Property: fingerprints are stable across recomputation, equal
    codebooks hash equal, and any single-element perturbation changes
    the hash."""
    from page_rank_hadoop_spark.operators.similarity import (
        codebook_fingerprint,
        seed_centroids,
    )

    cb = seed_centroids(n, dim)
    assert codebook_fingerprint(cb) == codebook_fingerprint(
        [(c, list(v)) for c, v in cb]
    )
    perturbed = [(c, list(v)) for c, v in cb]
    perturbed[0][1][0] += 1e-9
    assert codebook_fingerprint(perturbed) != codebook_fingerprint(cb)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=20,
    ),
    n_iter=st.integers(1, 4),
)
@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pregel_pagerank_mass_recurrence_random_graphs(spark, edges, n_iter):
    """Property: on any graph where every vertex has outdeg ≥ 1 (dangling
    vertices get a self-loop), total rank after k pregel supersteps
    follows the exact recurrence S_k = α + (1−α)·S_{k−1} from S_0 = N —
    the mass-conservation invariant of the scatter, independent of
    topology (test_pagerank.test_mass_recurrence generalized to random
    graphs)."""
    from page_rank_hadoop_spark.operators.pagerank import run_pagerank

    verts = sorted({v for e in edges for v in e})
    adj_map = {v: sorted({d for s, d in edges if s == v}) or [v] for v in verts}
    adj = spark.createDataFrame(
        [(str(v), [str(d) for d in ds]) for v, ds in adj_map.items()],
        "id STRING, links ARRAY<STRING>",
    )
    n = len(verts)
    total = sum(
        r["pr"]
        for r in run_pagerank(adj, fixed_iterations=n_iter).ranks.collect()
    )
    expect = float(n)
    for _ in range(n_iter):
        expect = 0.15 + 0.85 * expect
    assert abs(total - expect) <= 1e-9 * max(1.0, abs(expect)), (total, expect)


@given(
    ratings=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),   # user
            st.integers(min_value=1, max_value=5),   # item
            st.integers(min_value=1, max_value=50),  # quantity
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@settings(**SETTINGS)
def test_als_rank1_matches_naive_alternation(spark, ratings):
    """als_rank1 must equal the literal alternation u←Σrv/(λ+Σv²),
    v←Σru/(λ+Σu²) computed in pure Python from v≡1 — including
    singleton users/items and a user who rated everything."""
    from page_rank_hadoop_spark.operators.recommend import als_rank1

    df = spark.createDataFrame(
        [(u, i, float(r)) for u, i, r in ratings], "u long, it long, r double"
    )
    uf, vf = als_rank1(df, iters=2, lam=0.1)
    got_u = {r["u"]: r["uf"] for r in uf.collect()}
    got_v = {r["it"]: r["v"] for r in vf.collect()}

    v = {i: 1.0 for _, i, _ in ratings}
    u: dict = {}
    for _ in range(2):
        u = {}
        for uu in {t[0] for t in ratings}:
            mine = [(i, r) for tu, i, r in ratings if tu == uu]
            u[uu] = sum(r * v[i] for i, r in mine) / (
                0.1 + sum(v[i] * v[i] for i, _ in mine)
            )
        v = {}
        for ii in {t[1] for t in ratings}:
            mine = [(tu, r) for tu, i, r in ratings if i == ii]
            v[ii] = sum(r * u[tu] for tu, r in mine) / (
                0.1 + sum(u[tu] * u[tu] for tu, _ in mine)
            )
    assert set(got_u) == set(u) and set(got_v) == set(v)
    for k in u:
        assert abs(got_u[k] - u[k]) < 1e-9, (k, got_u[k], u[k])
    for k in v:
        assert abs(got_v[k] - v[k]) < 1e-9, (k, got_v[k], v[k])


@given(
    users=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),                # signup day
            st.one_of(st.none(), st.integers(min_value=0, max_value=25)),  # purchase delay
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_kaplan_meier_matches_naive(spark, users):
    """The life table must match a naive reference on random cohorts —
    same-day signup+purchase (dropped: not strictly after), never-
    converting users (censored at corpus max), all-convert cohorts."""
    from page_rank_hadoop_spark.operators.windows import kaplan_meier

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for uid, (sday, delay) in enumerate(users):
        rows.append((eid, uid, t0 + dt.timedelta(days=sday), "signup", 0.0, None))
        eid += 1
        if delay is not None:
            rows.append(
                (eid, uid, t0 + dt.timedelta(days=sday, hours=1 + delay * 24),
                 "purchase", 1.0, None)
            )
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string"
    )
    got = {
        r["t_day"]: (r["n_risk"], r["d_events"]) for r in kaplan_meier(ev).collect()
    }

    max_us = max(ts for _, _, ts, *_ in rows)
    durs = []
    for uid, (sday, delay) in enumerate(users):
        s = t0 + dt.timedelta(days=sday)
        if delay is not None:
            te = t0 + dt.timedelta(days=sday, hours=1 + delay * 24)
            durs.append(((te - s) // dt.timedelta(days=1), True))
        else:
            durs.append(((max_us - s) // dt.timedelta(days=1), False))
    want = {}
    for t in sorted({d for d, obs in durs if obs}):
        n = sum(1 for d, _ in durs if d >= t)
        d_ev = sum(1 for d, obs in durs if obs and d == t)
        want[t] = (n, d_ev)
    assert got == want, (got, want, durs)


@given(
    ratings=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=1, max_value=6),
            st.integers(min_value=1, max_value=50),
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@settings(**SETTINGS)
def test_als_rank2_matches_naive_solve(spark, ratings):
    """als_rank2 must equal the literal per-entity regularized 2x2
    normal-equation solve computed in pure Python — including
    single-rating entities where only λ keeps the system invertible."""
    from page_rank_hadoop_spark.operators.recommend import als_rank2

    lam = 0.1
    df = spark.createDataFrame(
        [(u, i, float(r)) for u, i, r in ratings], "u long, it long, r double"
    )
    uf, vf = als_rank2(df, iters=2, lam=lam)
    got_u = {r["u"]: (r["u1"], r["u2"]) for r in uf.collect()}
    got_v = {r["it"]: (r["v1"], r["v2"]) for r in vf.collect()}

    def solve(mine, fac):
        s11 = sum(fac[k][0] * fac[k][0] for k, _ in mine)
        s12 = sum(fac[k][0] * fac[k][1] for k, _ in mine)
        s22 = sum(fac[k][1] * fac[k][1] for k, _ in mine)
        b1 = sum(r * fac[k][0] for k, r in mine)
        b2 = sum(r * fac[k][1] for k, r in mine)
        det = (s11 + lam) * (s22 + lam) - s12 * s12
        return (
            (b1 * (s22 + lam) - b2 * s12) / det,
            (b2 * (s11 + lam) - b1 * s12) / det,
        )

    v = {i: (1.0, ((i % 19) - 9) / 9.0) for _, i, _ in ratings}
    u: dict = {}
    for _ in range(2):
        u = {
            uu: solve([(i, r) for tu, i, r in ratings if tu == uu], v)
            for uu in {t[0] for t in ratings}
        }
        v = {
            ii: solve([(tu, r) for tu, i, r in ratings if i == ii], u)
            for ii in {t[1] for t in ratings}
        }
    assert set(got_u) == set(u) and set(got_v) == set(v)
    for k in u:
        assert abs(got_u[k][0] - u[k][0]) < 1e-9 and abs(got_u[k][1] - u[k][1]) < 1e-9
    for k in v:
        assert abs(got_v[k][0] - v[k][0]) < 1e-9 and abs(got_v[k][1] - v[k][1]) < 1e-9
