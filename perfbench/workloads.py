"""The benchmark workloads. Each runs in its own process.

- ``search_serve``: set-up builds the search index (cold, as the CLI index
  verb meets it) and an IVF-PQ index over generated inputs; the timed part
  is one closed-loop client, no think time, against the cursor lane.
- ``query_mix``: declared registry queries, once each, fixed order, in a
  fresh session, on a seeded twin of the sf0.01 testdata. Its first query
  is the reference's PageRank (link graph + 10 iterations).

A workload records its end-to-end figures in ``run.e2e`` and its layer
figures in ``run.layer`` (filled from the spans only when tracing).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

import numpy as np

import gen
import naive

# search corpus: ~60k tokens (a quarter of the sf0.1 corpus) over a Zipf
# vocabulary of 40k words, 10% near-duplicates; sized so that a cold index
# build plus >= 1000 samples per p99 fit in one run.
SERVE_DOCS = 300
VOCAB = 40_000
EMB_N = 5_000
PQ_M, PQ_CODES = 8, 16
ANN_K = 10
MIN_TAIL_SAMPLES = 1000  # p99 needs >= 10 samples beyond it
WARM_OPS = 500
SNIPPET_K = 10
NEAR_DIST = 5

MIX = (
    "q_pagerank_iterate",
    "q_window_lag_sessionize",
    "q_waiting_suppliers",
)
MIX_TABLES = ("documents", "embeddings", "events", "lineitem", "orders", "supplier", "nation")


def _pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100 * len(s)) - 1))]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _write_docs(path: str, c: gen.Corpus) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": pa.array(c.doc_ids, pa.int64()), "text": c.texts}), path
    )


def warmup(run) -> None:
    """Start the executor threads with one small shuffle."""
    run.spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def _setup_repeated(fn) -> float:
    """Run a repeatable set-up step three times; return its median time."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ------------------------------------------------------------ index build


def index_build(run, docs_path: str, ranks_path: str, out: str) -> dict:
    """The engine's search-index build (the reference's index verb plus its
    HBase-style keyed sinks): postings, ranks, docs and positions tables.
    Returns the search meta."""
    from page_rank_hadoop_spark.sources import search

    spark = run.spark
    with run.span("build"):
        docs = spark.read.parquet(docs_path)
        ranks = spark.read.parquet(ranks_path)
        return search.build_search_tables(docs, ranks, out)


def _check_index(out: str, meta: dict, stats: gen.IndexStats) -> list[str]:
    import pyarrow.parquet as pq

    problems = []
    post = pq.read_table(os.path.join(out, "postings"), columns=["term", "df"]).to_pydict()
    want_rows = sum(stats.df[t] for t in stats.indexed)
    if len(post["term"]) != want_rows:
        problems.append(f"posting rows {len(post['term'])} vs {want_rows}")
    if dict(zip(post["term"], post["df"])) != {t: stats.df[t] for t in stats.indexed}:
        problems.append("indexed terms / df differ from the naive index")
    if meta.get("n_docs") != len(stats.tokens):
        problems.append(f"meta n_docs {meta.get('n_docs')}")
    return problems


def layer_spans(run) -> None:
    """Per-call-site figures of the index-build layers, from the spans
    (0 where a workload does not reach a layer)."""
    tr = run.tracer

    def agg(name: str):
        ids = tr.by_name(name)
        jobs = tasks = 0
        for i in ids:
            j, t = tr.inclusive(i)
            jobs += j
            tasks += t
        return sum(tr.spans[i].s for i in ids), jobs, tasks

    s, j, _ = agg("graph.extract_edges")
    run.layer["graph.extract_edges.s"] = s
    run.layer["graph.extract_edges.jobs"] = j
    run.layer["graph.plan_s"] = sum(agg(f"graph.{f}")[0] for f in ("vertices", "resolve_edges", "adjacency"))
    s, j, t = agg("pagerank.run_pagerank")
    run.layer["pagerank.run_pagerank.s"] = s
    run.layer["pagerank.run_pagerank.jobs"] = j
    run.layer["pagerank.run_pagerank.tasks"] = t
    run.layer["pagerank.jobs_per_iteration"] = j / 10
    s, j, _ = agg("serving.write_keyed")
    run.layer["serving.write_keyed.s"] = s
    run.layer["serving.write_keyed.jobs"] = j
    s, j, t = agg("search.build_search_tables")
    run.layer["search.build_search_tables.s"] = s
    run.layer["search.build_search_tables.jobs"] = j
    run.layer["search.build_search_tables.tasks"] = t
    builds = tr.by_name("build")
    run.layer["build.glue_s"] = sum(tr.self_s(b) for b in builds)


# ----------------------------------------------------------- search_serve


def search_serve(run) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from page_rank_hadoop_spark.operators import similarity
    from page_rank_hadoop_spark.sources import search

    docs_path = os.path.join(run.work, "docs.parquet")
    emb_path = os.path.join(run.work, "emb.parquet")
    ranks_path = os.path.join(run.work, "ranks.parquet")
    state = {}

    def generate():
        c = gen.corpus(run.seed, SERVE_DOCS, VOCAB)
        _write_docs(docs_path, c)
        stats = gen.IndexStats.of(c)
        pr = gen.ranks(run.seed, c.doc_ids)
        pq.write_table(
            pa.table({"doc_id": pa.array(list(pr), pa.int64()), "pr": list(pr.values())}),
            ranks_path,
        )
        ids, vecs = gen.embeddings(run.seed, EMB_N)
        pq.write_table(
            pa.table({"vec_id": ids, "embedding": [list(v) for v in vecs]},
                     schema=pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])),
            emb_path,
        )
        state.update(corpus=c, vecs=vecs, stats=stats, pr=pr)

    run.setup["generate_s"] = _setup_repeated(generate)
    c, vecs, stats, pr = state["corpus"], state["vecs"], state["stats"], state["pr"]
    t0 = time.perf_counter()
    warmup(run)
    run.setup["warmup_s"] = time.perf_counter() - t0

    # the serving indexes: the engine's search-index build, then IVF-PQ
    out = os.path.join(run.work, "search")
    ivf = os.path.join(run.work, "ivf")
    t0 = time.perf_counter()
    with run.span("setup.index"):
        meta = index_build(run, docs_path, ranks_path, out)
        run.layer["build_s"] = time.perf_counter() - t0
        emb = run.spark.read.parquet(emb_path)
        books = similarity.pq_codebook(m=PQ_M, n_codes=PQ_CODES, subdim=64 // PQ_M)
        similarity.write_ivf_index(emb, ivf, n_centroids=16, dim=64, pq_books=books)
    run.setup["index_s"] = time.perf_counter() - t0
    run.layer["search.build_search_tables.bytes"] = _dir_bytes(out)

    # the indexes themselves are checked once, outside every timed figure
    adc_ref = naive.AdcReference(ivf)
    for where, problems in (("index build", _check_index(out, meta, stats)),
                            ("ivf index", adc_ref.index_problems())):
        run.attempted += 1
        if problems:
            run.fail(where, problems)
    cur = search.SearchCursor(out)
    vcur = search.VectorSearchCursor(ivf)
    idf = _stored_idf(out)
    ref = naive.SearchReference(dict(zip(c.doc_ids, c.texts)), stats.tokens, idf, pr,
                                meta["w_tfidf"], meta["w_pr"])
    ops = gen.op_stream(run.seed, stats, vecs, n_ops=12_000)
    sample = ops[:2000]
    run.report["self_check"] = gen.self_check(
        sample, stats, c, lambda op: op[0] == "ann" or bool(_answer(ref, None, op))
    )
    # fill the cursors' lazy state (file handles, per-bucket code caches)
    # from the far end of the stream, which the timed loop never reaches
    t0 = time.perf_counter()
    for op in ops[-WARM_OPS:]:
        _answer(cur, vcur, op)
    run.setup["warmup_s"] += time.perf_counter() - t0
    run.end_setup()

    lat: dict[str, list[float]] = {k: [] for k, _ in gen.OP_MIX}
    chunks: list[float] = []  # wall time of each 100-op chunk
    chunk_start = 0.0
    rows_returned = 0
    empty = 0
    kept: list[tuple] = []
    n = 0
    deadline = run.t_timed + run.seconds
    cap = run.t_timed + 3 * run.seconds
    while True:
        now = time.perf_counter()
        text_n = n - len(lat["ann"])
        if now >= cap or (now >= deadline and text_n >= MIN_TAIL_SAMPLES
                          and len(lat["ann"]) >= MIN_TAIL_SAMPLES):
            break
        op = ops[n % len(ops)]
        if n % 100 == 0:
            if n:
                chunks.append(now - chunk_start)
            chunk_start = now
        n += 1
        t0 = time.perf_counter()
        try:
            res = _answer(cur, vcur, op)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            lat[op[0]].append(time.perf_counter() - t0)
            run.fail("search_serve", [f"{op[0]} raised {e!r}"])
            continue
        lat[op[0]].append(time.perf_counter() - t0)
        rows_returned += len(res)
        empty += not res
        if n % 10 == 1:
            kept.append((op, res))
    elapsed = time.perf_counter() - run.t_timed
    run.end_timed()

    text_ms = [x * 1e3 for k, v in lat.items() if k != "ann" for x in v]
    ann_ms = [x * 1e3 for x in lat["ann"]]
    # the median 100-op chunk: one slow burst of the host does not move it
    run.units = n / 100
    run.e2e["work_s"] = statistics.median(chunks)
    run.report.update(
        ops=n,
        serve_qps=n / elapsed,
        search_p50_ms=_pct(text_ms, 50),
        search_p99_ms=_pct(text_ms, 99),
        search_samples=len(text_ms),
        ann_p50_ms=_pct(ann_ms, 50),
        ann_p99_ms=_pct(ann_ms, 99),
        ann_samples=len(ann_ms),
        index={"docs": len(c.doc_ids), "tokens": c.n_tokens, "vectors": EMB_N,
               "pq_m": PQ_M, "pq_codes": PQ_CODES, "ivf_buckets": 16},
    )
    for k in ("serve_qps", "search_p50_ms", "search_p99_ms", "ann_p50_ms", "ann_p99_ms"):
        run.layer[k] = run.report[k]
    for k, v in lat.items():
        run.layer[f"serve.{k}.p50_ms"] = _pct(v, 50) * 1e3
    run.layer["serve.empty_share"] = empty / n

    # every op is attempted; every 10th is checked, outside the timed region
    run.attempted += n
    truth = _exact_knn(vecs)
    recalls = []
    for op, res in kept:
        if op[0] == "ann":
            problem, recall = _check_ann(op, res, adc_ref, truth)
            recalls.append(recall)
        else:
            want = _answer(ref, None, op)
            problem = None if res == want else f"{op[0]} {op[1:]!r}: {len(res)} rows vs {len(want)} expected"
        if problem:
            run.fail("search_serve", [problem])
    run.report["ann_recall_at_10"] = statistics.fmean(recalls) if recalls else 0.0
    run.layer["ann.recall_at_10"] = run.report["ann_recall_at_10"]
    run.layer["search.posting_rows"] = float(sum(stats.df[t] for t in stats.indexed))
    run.layer["search.indexed_terms"] = float(len(stats.indexed))
    if run.tracer:
        layer_spans(run)
        _serve_layers(run, n, rows_returned)


def _answer(cur, vcur, op):
    kind = op[0]
    if kind == "term":
        return cur.search_with_snippets(op[1], k=SNIPPET_K)
    if kind == "multi":
        return cur.search(op[1])
    if kind == "phrase":
        return cur.phrase(op[1])
    if kind == "near":
        return cur.near(op[1], op[2], max_dist=NEAR_DIST)
    return vcur.adc_topk(op[1], k=ANN_K)


def _stored_idf(out: str) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(out, "postings"), columns=["term", "idf"]).to_pydict()
    return dict(zip(t["term"], t["idf"]))


def _exact_knn(vecs: np.ndarray):
    x = vecs.astype(np.float64)
    sq = (x * x).sum(axis=1)

    def topk(probe: list[float]) -> list[int]:
        p = np.asarray(probe)
        d = sq - 2 * x @ p + p @ p
        return [int(i) for i in np.argsort(d, kind="stable")[:ANN_K]]

    return topk


def _check_ann(op, res, adc_ref, truth) -> tuple[str | None, float]:
    """The cursor's rows against the ADC reference, exactly; recall@k
    against the brute-force neighbours is reported, not checked."""
    want = adc_ref.adc_topk(op[1], ANN_K)
    if res != want:
        return f"ann: {len(res)} rows differ from the ADC reference", 0.0
    exact = set(truth(op[1]))
    return None, len(exact & {r["vec_id"] for r in res}) / ANN_K


def _serve_layers(run, n_ops: int, rows_returned: int) -> None:
    tr = run.tracer
    timed = [i for i, s in enumerate(tr.spans) if s.start >= run.t_timed and s.end <= run.t_timed_end]
    look = [i for i in timed if tr.spans[i].name == "serving.PointLookupCursor.lookup"]
    rows_fetched = sum(tr.spans[i].rows for i in look)
    run.layer["serving.lookup.calls_per_op"] = len(look) / n_ops
    run.layer["serving.lookup.rows_per_op"] = rows_fetched / n_ops
    run.layer["serving.lookup.ms_per_op"] = sum(tr.spans[i].s for i in look) * 1e3 / n_ops
    client = [i for i in timed if tr.spans[i].name.startswith("search.SearchCursor.")]
    run.layer["search.client_ms_per_op"] = sum(tr.self_s(i) for i in client) * 1e3 / n_ops
    run.layer["serve.rows_per_result"] = rows_fetched / max(rows_returned, 1)
    adc = [tr.spans[i].s for i in timed if tr.spans[i].name == "search.VectorSearchCursor.adc_topk"]
    run.layer["ann.adc_topk.ms"] = statistics.median(adc) * 1e3 if adc else 0.0


# -------------------------------------------------------------- query_mix


def query_mix(run) -> None:
    sf = os.path.join(run.work, "sf")

    def generate():
        shutil.rmtree(sf, ignore_errors=True)
        run.report["tables"] = gen.write_mix_tables(run.seed, sf)

    run.setup["generate_s"] = _setup_repeated(generate)
    t0 = time.perf_counter()
    warmup(run)
    run.setup["warmup_s"] = time.perf_counter() - t0
    from page_rank_hadoop_spark.plans import registry

    queries = registry.build_queries()
    oracles = registry.build_oracles()
    run.end_setup()

    spark = run.spark
    results = {}
    per_q = {}
    for name in MIX:
        run.attempted += 1
        with run.span(f"mix.{name}"):
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, sf)
                t1 = time.perf_counter()
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                t1 = time.perf_counter()
                run.fail("query_mix", [f"{name} raised {e!r}"])
            per_q[name] = (time.perf_counter() - t0, t1 - t0)
    run.end_timed()
    run.e2e["work_s"] = sum(s for s, _ in per_q.values())
    run.report["mix_s"] = run.e2e["work_s"]
    run.report["per_query_s"] = {k: round(v[0], 4) for k, v in per_q.items()}
    run.layer["mix_s"] = run.e2e["work_s"]

    # DuckDB oracle hashes, outside the timed region
    import duckdb

    from verify_local import _hash_rows

    con = duckdb.connect()
    for t in MIX_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    for name, (cols, rows) in results.items():
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if len(rows) != len(drows) or sorted(cols) != sorted(dcols) or _hash_rows(cols, rows) != _hash_rows(dcols, drows):
            run.fail("query_mix", [f"{name}: oracle mismatch ({len(rows)} vs {len(drows)} rows)"])
    con.close()

    if run.tracer:
        tr = run.tracer
        jobs_total = tasks_total = 0
        for name in MIX:
            (i,) = tr.by_name(f"mix.{name}")
            jobs, tasks = tr.inclusive(i)
            jobs_total += jobs
            tasks_total += tasks
            run.layer[f"mix.{name}.s"] = per_q[name][0]
            run.layer[f"mix.{name}.plan_s"] = per_q[name][1]
            run.layer[f"mix.{name}.jobs"] = jobs
            run.layer[f"mix.{name}.tasks"] = tasks
        run.layer["mix.jobs_total"] = jobs_total
        run.layer["mix.tasks_total"] = tasks_total
        run.layer["mix.s_per_job"] = run.e2e["work_s"] / max(jobs_total, 1)
        layer_spans(run)


WORKLOADS = {"search_serve": search_serve, "query_mix": query_mix}


def dump(obj) -> str:
    return json.dumps(obj, sort_keys=True, default=float)
