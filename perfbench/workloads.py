"""The three workloads. Each takes a :class:`harness.Run`, sets up, runs
its timed window, checks every answer against :mod:`reference` and fills
``run.e2e`` / ``run.layer`` with the named detail metrics.

Load model (all workloads): a closed loop, one client thread in one
process; Spark spreads each operation over every core itself.
"""

from __future__ import annotations

import os
import time

import numpy as np

import reference as ref
from datagen import SCHEMA, Generator, tokens
from harness import Run, dir_bytes, median, tail

SEARCH_KINDS = ("knn_flat", "knn_ivf", "knn_pq", "knn_hnsw", "bm25", "hybrid_rrf")
K = 10                 # results per search
HNSW_M = 8             # graph degree of every HNSW build
HYBRID_MIN_CHARS = 200  # hybrid_rrf prefilter: lang = en and n_chars >= this
PQ_M, PQ_NBITS = 8, 6  # offline_build's PQ codebooks
TEXT_BATCH_QUERIES = 5  # offline_build's TextSearch batch: more than 4 takes score_batch


def _df(spark, corpus):
    return spark.createDataFrame(corpus.rows(), SCHEMA)


def _rows(df_rows) -> list[tuple[int, float]]:
    return [(int(r["id"]), float(r["score"])) for r in df_rows]


def _run_builder(run: Run, search) -> list[tuple[int, float]]:
    """``execute()`` (plan building, including any driver-side collects
    the builder issues) and ``collect()`` (the Spark work), as two spans."""
    with run.span("plans.builder"):
        df = search.execute()
    with run.span("spark.collect"):
        return _rows(df.collect())


def _vector_df(spark, ids, vectors, path: str):
    """(id, vector) rows, written as parquet with pyarrow and read back:
    much faster than ``createDataFrame`` for tens of thousands of rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    flat = pa.array(vectors.ravel())
    pq.write_table(pa.table({
        "id": pa.array(ids),
        "vector": pa.FixedSizeListArray.from_arrays(flat, vectors.shape[1])
        .cast(pa.list_(pa.float64())),
    }), path)
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# serve_mixed
# ---------------------------------------------------------------------------


def serve_mixed(run: Run) -> None:
    from comet_spark.operators.bm25 import BM25
    from comet_spark.operators.metadata import Eq, Field, Gte, NumField
    from comet_spark.plans.builder import Corpus

    spark, size = run.spark, run.size
    n_q = size["query_pool"]
    prefilter = (Eq(Field("lang"), "en"), Gte(NumField("n_chars"), HYBRID_MIN_CHARS))

    def builder(kind: str, i: int):
        q = [float(x) for x in qvecs[i % n_q]]
        t = texts[i % n_q]
        vs = co.vector_search().with_query(q).with_k(K)
        return {
            "knn_flat": lambda: vs,
            "knn_ivf": lambda: vs.with_nprobes(size["nprobe"]),
            "knn_pq": lambda: vs.with_adc(),
            "knn_hnsw": lambda: vs.with_ef_search(size["ef_search"]),
            "bm25": lambda: co.text_search().with_query(t).with_k(K),
            "hybrid_rrf": lambda: co.hybrid_search().with_vector(q).with_text(t)
            .with_metadata(*prefilter).with_fusion("rrf").with_k(K),
        }[kind]()

    def search(kind: str, i: int):
        return lambda: _run_builder(run, builder(kind, i))

    # set-up: the index builds are lazy, so each is followed by one search
    # that uses it (untimed, counted in setup_s), which pays for the build
    # and warms that kind up
    t0 = time.perf_counter()
    gen = Generator(run.seed)
    corpus = gen.corpus(size["n_docs"])
    qvecs = gen.query_vectors(corpus.vectors, n_q)
    texts = gen.text_queries(n_q)
    docs = _df(spark, corpus).cache()
    docs.count()
    t1 = time.perf_counter()
    # Corpus(docs) alone would build an uncached BM25 that re-tokenizes the
    # corpus on every search; attach a cached one, as __spark_entry__.py does
    bm = BM25(docs, cache=True)
    for t in (bm.postings, bm.doc_len, bm.df, bm.stats):
        t.count()
    co = Corpus(docs, _bm25=bm)
    run.call("bm25", search("bm25", 0), timed=False)
    t2 = time.perf_counter()
    co.build_ivf(size["nlist"], max_iter=size["max_iter"])
    run.call("knn_ivf", search("knn_ivf", 0), timed=False)
    t3 = time.perf_counter()
    co.build_pq(max_iter=size["max_iter"])
    run.call("knn_pq", search("knn_pq", 0), timed=False)
    t4 = time.perf_counter()
    co.build_hnsw(m=HNSW_M, ef_construction=size["hnsw_ef_construction"], distributed=True)
    run.call("knn_hnsw", search("knn_hnsw", 0), timed=False)
    t5 = time.perf_counter()
    # the other two kinds' first searches: every kind has run once before
    # the samples start
    run.call("knn_flat", search("knn_flat", 0), timed=False)
    run.call("hybrid_rrf", search("hybrid_rrf", 0), timed=False)
    t6 = time.perf_counter()
    run.setup_s.append(t6 - t0)
    run.layer.update({
        "bench.datagen_s": (t1 - t0, "s"),
        "operators.bm25.build_s": (t2 - t1, "s"),
        "operators.ann.ivf_build_s": (t3 - t2, "s"),
        "operators.ann.pq_build_s": (t4 - t3, "s"),
        "operators.hnsw.build_s": (t5 - t4, "s"),
        "bench.first_searches_s": (t6 - t5, "s"),
    })

    order_rng = np.random.default_rng(run.seed)
    results: list[tuple[str, int, list]] = []
    i = 0
    with run.window():
        t_end = time.perf_counter() + run.seconds
        rounds = 0
        while rounds < size["min_rounds"] or time.perf_counter() < t_end:
            rounds += 1
            for kind in order_rng.permutation(SEARCH_KINDS):
                res = run.call(kind, search(str(kind), i))
                if res is not None:
                    results.append((str(kind), i, res))
                i += 1

    run.check_jobs_unchanged("knn_ivf", search("knn_ivf", 0))

    # -- recall over the whole query pool (untimed, outside set-up) --------
    # A run searches each index only two or three times, and single hard
    # queries swing the mean of so few; the recall floors apply to the mean
    # over the fixed query pool instead. One batch search per index, on the
    # very index the builder serves: the builder's multi-query path merges
    # the queries' answers, so the batch calls reach Corpus's index fields.
    qdf = spark.createDataFrame([(i, [float(x) for x in q]) for i, q in enumerate(qvecs)],
                                "qid bigint, qvec array<double>")
    batch_search = {
        "knn_ivf": lambda: co._ivf.search_batch(
            co._ivf_assigned, qdf, k=K, nprobe=size["nprobe"]),
        "knn_pq": lambda: co._pq.search_batch(co._pq_codes, qdf, k=K),
        "knn_hnsw": lambda: co._hnsw.search_batch(docs, qdf, k=K, ef_search=size["ef_search"]),
    }
    pool: dict[str, dict[int, list[tuple[int, float]]]] = {}
    for kind, fn in batch_search.items():
        rows = run.call(kind + "_pool", lambda fn=fn: fn().collect(), timed=False)
        if rows is None:
            run.fail(f"{kind}: batch search over the query pool raised")
            continue
        per_q: dict[int, list[tuple[int, float]]] = {i: [] for i in range(n_q)}
        for r in sorted(rows, key=lambda r: (r["qid"], r["score"], r["id"])):
            per_q[int(r["qid"])].append((int(r["id"]), float(r["score"])))
        pool[kind] = per_q

    # -- checks (outside the window) --------------------------------------
    ids, mat = corpus.ids, corpus.vectors
    bref = ref.BM25Ref(ids, corpus.token_lists)
    ok_filter = {int(d) for d, lg, nc in zip(ids, corpus.lang, corpus.n_chars)
                 if lg == "en" and nc >= HYBRID_MIN_CHARS}
    for kind, qi, got in results:
        q = qvecs[qi % n_q]
        if kind in ("knn_flat", "knn_ivf", "knn_pq", "knn_hnsw"):
            scores = ref.l2(mat, q)
            by_id = dict(zip(ids.tolist(), scores.tolist()))
            if kind == "knn_flat":
                if not ref.same_ranking(got, ref.topk(ids, scores, K), by_id.get):
                    run.fail(f"knn_flat query {qi}")
            elif kind in pool:
                # the served single-query answer equals the same index's
                # batch answer: IVF and HNSW rescore exactly; PQ scores are
                # ADC estimates, and a document outside the batch answer
                # may only tie its last score
                want = pool[kind][qi % n_q]
                true = by_id.get if kind != "knn_pq" else (
                    lambda i, w=dict(want), last=want[-1][1] if want else None: w.get(i, last))
                if not ref.same_ranking(got, want, true):
                    run.fail(f"{kind} query {qi}: differs from the batch search")
        elif kind == "bm25":
            toks = tokens(texts[qi % n_q])
            want = bref.topk(toks, K)
            sc = bref.scores(toks)
            if not ref.same_ranking(got, want, sc.get):
                run.fail(f"bm25 query {qi}")
        elif kind == "hybrid_rrf":
            if len(got) > K or len({g for g, _ in got}) != len(got) or not got:
                run.fail(f"hybrid query {qi}: malformed result")
            elif any(g not in ok_filter for g, _ in got):
                run.fail(f"hybrid query {qi}: id outside the prefilter")
    floors = size["recall_floor"]
    names = {"knn_ivf": "operators.ann.ivf_recall10", "knn_pq": "operators.ann.pq_recall10",
             "knn_hnsw": "operators.hnsw.recall10"}
    for kind, per_q in pool.items():
        rs = [ref.recall_at_k(np.array([g for g, _ in per_q[i]]), ids, ref.l2(mat, qvecs[i]), K)
              for i in range(n_q)]
        mean = float(np.mean(rs))
        run.layer[names[kind]] = (mean, "ratio")
        run.layer[names[kind] + "_worst"] = (min(rs), "ratio")
        if mean < floors[kind]:
            run.fail(f"{kind} mean recall@{K} over the query pool {mean:.3f} "
                     f"< floor {floors[kind]}")

    # -- detail metrics ----------------------------------------------------
    pooled = [x for kind in SEARCH_KINDS for x in run.samples.get(kind, [])]
    run.e2e["searches_per_s"] = (run.ops() / run.wall, "1/s")
    run.e2e["search_samples"] = (len(pooled), "count")
    run.e2e["search_p95_ms"] = (
        float(np.percentile(pooled, 95)) if len(pooled) >= 200 else None, "ms")
    pct, val = tail(pooled)
    run.e2e["search_tail_pct"] = (pct, "%")
    run.e2e["search_tail_ms"] = (val, "ms")
    for kind in SEARCH_KINDS:
        run.e2e[f"{kind}_p50_ms"] = (median(run.samples.get(kind, [])), "ms")
    if run.trace:
        for kind in SEARCH_KINDS:
            c = run.kind_counters(kind)
            rows = [len(r) for kd, _, r in results if kd == kind]
            run.layer.update({
                f"builder.plan_ms.{kind}": (median(run.kind_span_ms(kind, "plans.builder")), "ms"),
                f"spark.exec_ms.{kind}": (median(run.kind_span_ms(kind, "spark.collect")), "ms"),
                f"spark.jobs.{kind}": (c["jobs"], "count"),
                f"spark.tasks.{kind}": (c["tasks"], "count"),
                f"spark.task_cpu_ms.{kind}": (c["task_cpu_ms"], "ms"),
                f"spark.shuffle_bytes.{kind}": (
                    c["shuffle_read_bytes"] + c["shuffle_write_bytes"], "bytes"),
                f"spark.rows_per_result.{kind}": (
                    c["input_records"] / max(1.0, float(np.mean(rows))) if rows else None,
                    "ratio"),
            })


# ---------------------------------------------------------------------------
# write_read
# ---------------------------------------------------------------------------


def write_read(run: Run) -> None:
    from comet_spark.operators.bm25 import BM25
    from comet_spark.plans.builder import Corpus
    from comet_spark.storage.store import DocumentStore

    spark, size = run.spark, run.size
    t0 = time.perf_counter()
    gen = Generator(run.seed)
    init = gen.corpus(size["n_docs"], with_dups=False)
    docs = _df(spark, init).cache()
    store = DocumentStore(spark, os.path.join(run.tmp, "store"))
    store.append(docs)
    bm_path = os.path.join(run.tmp, "bm25")
    BM25(docs).write(bm_path)
    docs.unpersist()
    run.setup_s.append(time.perf_counter() - t0)

    # generator-side truth: every document ever written, and the live ids
    vectors = {int(i): v for i, v in zip(init.ids, init.vectors)}
    token_lists = {int(i): t for i, t in zip(init.ids, init.token_lists)}
    payload = {int(i): b for i, b in zip(init.ids, init.payload_each())}
    live = set(int(i) for i in init.ids)
    qrng_vecs = gen.query_vectors(init.vectors, size["query_pool"])
    qtexts = gen.text_queries(size["query_pool"])

    written = 0
    segments_seen: list[int] = []
    read_parts: dict[str, list[float]] = {"knn": [], "reopen": [], "score": []}

    def read_step(q, text, record=True):
        def fn():
            t0 = time.perf_counter()
            with run.span("storage.store"):
                c = Corpus.from_store(store)
            with run.span("plans.builder"):
                df = c.vector_search().with_query([float(x) for x in q]).with_k(K).execute()
            with run.span("spark.collect"):
                knn_rows = _rows(df.collect())
            t1 = time.perf_counter()
            with run.span("operators.bm25"):
                bm = BM25.read(spark, bm_path)
                t2 = time.perf_counter()
                with run.span("spark.collect"):
                    bm_rows = _rows(bm.score(text, k=K).collect())
            t3 = time.perf_counter()
            if record:
                read_parts["knn"].append((t1 - t0) * 1e3)
                read_parts["reopen"].append((t2 - t1) * 1e3)
                read_parts["score"].append((t3 - t2) * 1e3)
            return knn_rows, bm_rows
        return fn

    n_reads = 0

    def read_and_check(where: str) -> None:
        """One timed read step, then its checks against the generator's
        live set (outside the window)."""
        nonlocal n_reads
        segments_seen.append(store.segment_count())
        qi = n_reads % size["query_pool"]
        n_reads += 1
        with run.window():
            res = run.call("read_step", read_step(qrng_vecs[qi], qtexts[qi]))
        if res is None:
            return
        lids = np.array(sorted(live), dtype=np.int64)
        scores = ref.l2(np.stack([vectors[i] for i in lids]), qrng_vecs[qi])
        by_id = dict(zip(lids.tolist(), scores.tolist()))
        if not ref.same_ranking(res[0], ref.topk(lids, scores, K), by_id.get):
            run.fail(f"{where}: k-NN over the store view")
        bref = ref.BM25Ref(lids, [token_lists[i] for i in lids])
        toks = tokens(qtexts[qi])
        if not ref.same_ranking(res[1], bref.topk(toks, K), bref.scores(toks).get):
            run.fail(f"{where}: BM25 over the persisted index")

    # cycles until --seconds have passed, at least one; each reads before
    # it compacts, so reads see the piled-up segments and delete files, and
    # the next cycle writes over the compacted state
    cycle = 0
    t_end = time.perf_counter() + run.seconds
    while cycle == 0 or time.perf_counter() < t_end:
        batch = gen.corpus(size["batch_docs"], with_dups=False)
        bdf = _df(spark, batch)
        victims = gen.sample_ids(np.array(sorted(live)), size["delete_docs"])
        vdf = spark.createDataFrame([(int(i),) for i in victims], "id bigint")
        with run.window():
            run.call("store_append", run.in_span("storage.store", lambda: store.append(bdf)))
            run.call("bm25_append", run.in_span(
                "operators.bm25", lambda: BM25.append(spark, bm_path, bdf)))
            run.call("store_delete", run.in_span("storage.store", lambda: store.delete(vdf)))
            run.call("bm25_delete", run.in_span(
                "operators.bm25", lambda: BM25.delete(spark, bm_path, vdf)))
        written += len(batch) + len(victims)
        for i, v, t, b in zip(batch.ids, batch.vectors, batch.token_lists, batch.payload_each()):
            vectors[int(i)], token_lists[int(i)], payload[int(i)] = v, t, b
        live |= set(int(i) for i in batch.ids)
        live -= set(int(i) for i in victims)
        # the read sees the new segment and the delete files
        read_and_check(f"cycle {cycle}")
        with run.window():
            run.call("store_compact", run.in_span("storage.store", store.compact))
            run.call("bm25_compact", run.in_span(
                "operators.bm25", lambda: BM25.compact(spark, bm_path)))
        got_live = {int(r[0]) for r in store.read().select("id").collect()}
        if got_live != live:
            run.fail(f"cycle {cycle}: store holds {len(got_live)} live ids, expected {len(live)}")
        cycle += 1

    run.check_jobs_unchanged("read_step", read_step(qrng_vecs[0], qtexts[0], record=False))

    # -- detail metrics ----------------------------------------------------
    store_bytes = dir_bytes(store.path)
    bm_bytes = dir_bytes(bm_path)
    live_bytes = sum(payload[i] for i in live)
    write_kinds = ("store_append", "bm25_append", "store_delete", "bm25_delete",
                   "store_compact", "bm25_compact")
    write_ms = sum(sum(run.samples.get(kd, [])) for kd in write_kinds)
    run.e2e.update({
        "write_docs_per_s": (written / (write_ms / 1e3) if write_ms else None, "docs/s"),
        "store_read_p50_ms": (median(run.samples.get("read_step", [])), "ms"),
        "bytes_per_live_byte": ((store_bytes + bm_bytes) / live_bytes, "ratio"),
        "cycles": (cycle, "count"),
    })
    run.layer.update({
        "storage.store.append_ms": (median(run.samples.get("store_append", [])), "ms"),
        "storage.store.delete_ms": (median(run.samples.get("store_delete", [])), "ms"),
        "storage.store.compact_s": (median(run.samples.get("store_compact", [])) / 1e3, "s"),
        "storage.store.read_knn_ms": (median(read_parts["knn"]), "ms"),
        "storage.store.segments": (float(np.mean(segments_seen)), "count"),
        "storage.store.bytes": (store_bytes, "bytes"),
        "operators.bm25.append_ms": (median(run.samples.get("bm25_append", [])), "ms"),
        "operators.bm25.delete_ms": (median(run.samples.get("bm25_delete", [])), "ms"),
        "operators.bm25.compact_s": (median(run.samples.get("bm25_compact", [])) / 1e3, "s"),
        "operators.bm25.reopen_ms": (median(read_parts["reopen"]), "ms"),
        "operators.bm25.read_score_ms": (median(read_parts["score"]), "ms"),
        "operators.bm25.bytes": (bm_bytes, "bytes"),
    })
    if run.trace:
        per_cycle = {kd: run.kind_counters(kd) for kd in write_kinds}
        n_w = {kd: len(run.samples.get(kd, [])) for kd in write_kinds}
        tot = {c: sum(per_cycle[kd][c] * n_w[kd] for kd in write_kinds) / max(1, cycle)
               for c in ("jobs", "shuffle_read_bytes", "shuffle_write_bytes")}
        comp = [per_cycle[kd] for kd in ("store_compact", "bm25_compact")]
        rs = run.kind_counters("read_step")
        run.layer.update({
            "spark.jobs.write_cycle": (tot["jobs"], "count"),
            "spark.shuffle_bytes.write_cycle": (
                tot["shuffle_read_bytes"] + tot["shuffle_write_bytes"], "bytes"),
            "spark.bytes_rewritten.compact": (
                sum(c["shuffle_write_bytes"] + c["output_bytes"] for c in comp), "bytes"),
            "spark.jobs.read_step": (rs["jobs"], "count"),
            "spark.task_cpu_ms.read_step": (rs["task_cpu_ms"], "ms"),
        })


# ---------------------------------------------------------------------------
# offline_build
# ---------------------------------------------------------------------------


def offline_build(run: Run) -> None:
    from comet_spark.operators.ann import IVFIndex, PQIndex
    from comet_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    from comet_spark.operators.fingerprint import winnow_neardup_pairs
    from comet_spark.operators.graph import connected_components
    from comet_spark.operators.hnsw import DistributedHNSW
    from comet_spark.operators.quality import gopher_rules
    from comet_spark.pipeline import CurationPipeline
    from comet_spark.plans.builder import Corpus

    spark, size = run.spark, run.size
    # set-up: the text corpus for curation and text search, and a larger
    # text-less vector table for the index builds and vector batch search
    t0 = time.perf_counter()
    gen = Generator(run.seed)
    corpus = gen.corpus(size["n_docs"])
    qtexts = gen.text_queries(TEXT_BATCH_QUERIES)
    vids, vmat = gen.vectors(size["n_vectors"])
    qv = gen.query_vectors(vmat, size["batch_queries"])
    docs = _df(spark, corpus).cache()
    docs.count()
    vecs = _vector_df(spark, vids, vmat, os.path.join(run.tmp, "vectors.parquet")).cache()
    vecs.count()
    run.setup_s.append(time.perf_counter() - t0)
    n, n_vec = len(corpus), len(vids)
    cdocs = docs.withColumnRenamed("id", "doc_id")
    run.layer["bench.largest_shingle_bucket"] = (
        ref.largest_shingle_bucket(corpus.token_lists), "count")
    qrows = [(i, [float(x) for x in q]) for i, q in enumerate(qv)]
    vco, tco = Corpus(vecs), Corpus(docs)

    phase_s: dict[str, list[float]] = {"build": [], "curation": [], "batch": []}
    out: dict = {}
    passes = 0
    t_end = time.perf_counter() + run.seconds
    while passes == 0 or time.perf_counter() < t_end:
        # -- build ---------------------------------------------------------
        t0 = time.perf_counter()
        with run.window():
            ivf = run.call("ivf_train", run.in_span("operators.ann", lambda: IVFIndex.train(
                vecs, size["nlist"], max_iter=size["max_iter"])))
            assigned = ivf.assign(vecs).cache() if ivf is not None else None
            out["n_assigned"] = run.call(
                "ivf_assign", run.in_span("operators.ann", assigned.count)
            ) if assigned is not None else None
            pq = run.call("pq_train", run.in_span("operators.ann", lambda: PQIndex.train(
                vecs, m=PQ_M, nbits=PQ_NBITS, max_iter=size["max_iter"])))
            out["n_codes"] = run.call("pq_encode", run.in_span(
                "operators.ann", lambda: pq.encode(vecs).count())) if pq is not None else None
            run.call("hnsw_build", run.in_span("operators.hnsw", lambda: DistributedHNSW.build(
                vecs, m=HNSW_M, ef_construction=size["hnsw_ef_construction"],
                cache=False).graphs.count()))
        t1 = time.perf_counter()
        phase_s["build"].append(t1 - t0)
        # -- curation --------------------------------------------------------
        with run.window():
            kept = pairs = comps = None
            if run.trace:
                # the pipeline's layers one call each; untraced runs time
                # only the composed pipeline below
                kept = run.call("quality_gopher", run.in_span("operators.quality", lambda: [
                    int(r[0]) for r in gopher_rules(cdocs).filter("keep").select("id").collect()]))
                kept_docs = cdocs.join(spark.createDataFrame(
                    [(i,) for i in (kept or [])], "doc_id bigint"), "doc_id")
                pairs = run.call("winnow_pairs", run.in_span("operators.fingerprint", lambda: [
                    (int(r["a_id"]), int(r["b_id"]))
                    for r in winnow_neardup_pairs(kept_docs).collect()]))
                pairs_df = spark.createDataFrame(pairs or [], "a_id bigint, b_id bigint")
                comps = run.call("graph_cc", run.in_span("operators.graph", lambda: {
                    int(r["id"]): int(r["component"])
                    for r in connected_components(pairs_df).collect()}))
            funnel = run.call("pipeline_funnel", run.in_span("pipeline", lambda: {
                r["stage"]: int(r["n_docs"])
                for r in CurationPipeline(cdocs).quality().dedup().funnel().collect()}))
            mh = run.call("minhash_lsh", run.in_span("operators.dedup", lambda: {
                (int(r["a_id"]), int(r["b_id"])): float(r["jaccard"])
                for r in minhash_lsh_pairs(cdocs).collect()}))
            ng = run.call("ngram_jaccard", run.in_span("operators.dedup", lambda: {
                (int(r["a_id"]), int(r["b_id"])): float(r["jaccard"])
                for r in ngram_jaccard_pairs(cdocs).collect()}))
        t2 = time.perf_counter()
        phase_s["curation"].append(t2 - t1)
        # -- batch -------------------------------------------------------------
        with run.window():
            knn_b = run.call("knn_batch", lambda: _run_builder(
                run, vco.vector_search().with_query(*[q for _, q in qrows]).with_k(K)))
            ivf_b = run.call("ivf_batch", run.in_span("operators.ann", lambda: [
                (int(r["qid"]), int(r["id"]), float(r["score"]))
                for r in ivf.search_batch(
                    assigned, spark.createDataFrame(qrows, "qid bigint, qvec array<double>"),
                    k=K, nprobe=size["nprobe"]).collect()])) if assigned is not None else None
            bm_b = run.call("bm25_batch", lambda: _run_builder(
                run, tco.text_search().with_query(*qtexts).with_k(K)))
        phase_s["batch"].append(time.perf_counter() - t2)
        if assigned is not None:
            assigned.unpersist()
        passes += 1

    run.check_jobs_unchanged("knn_batch", lambda: _run_builder(
        run, vco.vector_search().with_query(*[q for _, q in qrows]).with_k(K)))

    # -- checks (outside the window; on the last pass's answers) ------------
    ids = corpus.ids
    if out.get("n_assigned") not in (None, n_vec) or out.get("n_codes") not in (None, n_vec):
        run.fail("IVF assign / PQ encode lost rows")
    want_kept = sorted(int(i) for i, t in zip(ids, corpus.token_lists) if ref.gopher_keep(t))
    if kept is not None and sorted(kept) != want_kept:
        run.fail(f"gopher_rules kept {len(kept)} docs, reference keeps {len(want_kept)}")
    root = {int(i): (int(d) if d >= 0 else int(i)) for i, d in zip(ids, corpus.dup_of)}
    planted = [(int(d), int(i)) for i, d in zip(ids, corpus.dup_of) if d >= 0]
    kept_set = set(want_kept)
    planted_kept = [(a, b) for a, b in planted if a in kept_set and b in kept_set]
    if pairs is not None:
        true_pairs = sum(1 for a, b in pairs if root[a] == root[b])
        run.layer["operators.fingerprint.pair_precision"] = (
            true_pairs / len(pairs) if pairs else None, "ratio")
    if comps is not None:
        if pairs is not None and any(comps.get(a) != comps.get(b) for a, b in pairs):
            run.fail("connected_components split a pair")
        caught = sum(1 for a, b in planted_kept
                     if comps.get(a) is not None and comps.get(a) == comps.get(b))
        recall = caught / len(planted_kept) if planted_kept else 1.0
        run.layer["pipeline.dup_recall"] = (recall, "ratio")
        if recall < size["dup_recall_floor"]:
            run.fail(f"dedup recall {recall:.3f} < floor {size['dup_recall_floor']}")
        if funnel is not None:
            sizes: dict[int, int] = {}
            for c in comps.values():
                sizes[c] = sizes.get(c, 0) + 1
            want_dedup = len(want_kept) - sum(s - 1 for s in sizes.values())
            if funnel.get("dedup") != want_dedup:
                run.fail(f"funnel dedup {funnel.get('dedup')} vs {want_dedup} from the layers")
    if funnel is not None:
        dropped = funnel.get("quality", 0) - funnel.get("dedup", 0)
        if (funnel.get("raw"), funnel.get("quality")) != (n, len(want_kept)) or not (
                size["dup_recall_floor"] * len(planted_kept) <= dropped):
            run.fail(f"funnel {funnel}: raw {n}, quality {len(want_kept)}, "
                     f"{len(planted_kept)} planted duplicates")
    exact = ref.jaccard_pairs(ids, corpus.token_lists)
    if ng is not None and (set(ng) != set(exact) or any(
            abs(ng[p] - exact[p]) > ref.TOL for p in ng)):
        run.fail(f"ngram_jaccard_pairs: {len(ng)} pairs vs {len(exact)} exact")
    if mh is not None and any(p not in exact or abs(mh[p] - exact[p]) > ref.TOL for p in mh):
        run.fail("minhash_lsh_pairs returned a pair the exact jaccard rejects")
    per_q = [ref.topk(vids, ref.l2(vmat, np.array(q)), K) for _, q in qrows]
    if knn_b is not None:
        want = ref.aggregate(per_q, K, descending=False)
        if not ref.same_ranking(knn_b, want, dict(want).get):
            run.fail("multi-query flat k-NN")
    if ivf_b is not None:
        recs = []
        for qid, q in qrows:
            got = [i for g, i, _ in sorted(ivf_b, key=lambda x: (x[0], x[2], x[1])) if g == qid]
            recs.append(ref.recall_at_k(np.array(got), vids, ref.l2(vmat, np.array(q)), K))
        run.layer["operators.ann.ivf_batch_recall10"] = (float(np.mean(recs)), "ratio")
        if np.mean(recs) < size["recall_floor"]["knn_ivf"]:
            run.fail(f"IVF batch recall {np.mean(recs):.3f}")
    if bm_b is not None:
        bref = ref.BM25Ref(ids, corpus.token_lists)
        want = ref.aggregate([bref.topk(tokens(t), K) for t in qtexts], K,
                             descending=True)
        if not ref.same_ranking(bm_b, want, dict(want).get):
            run.fail("batched BM25 (score_batch path)")

    # -- detail metrics ----------------------------------------------------
    def secs(kind):
        return median(run.samples.get(kind, [])) / 1e3

    n_batch = len(qrows) * 2 + len(qtexts)
    run.e2e.update({
        "index_build_docs_per_s": (n_vec / median(phase_s["build"]), "docs/s"),
        "curation_docs_per_s": (n / median(phase_s["curation"]), "docs/s"),
        "batch_queries_per_s": (n_batch / median(phase_s["batch"]), "1/s"),
        "passes": (passes, "count"),
    })
    run.layer.update({
        "operators.ann.ivf_train_s": (secs("ivf_train"), "s"),
        "operators.ann.ivf_assign_s": (secs("ivf_assign"), "s"),
        "operators.ann.pq_train_s": (secs("pq_train"), "s"),
        "operators.ann.pq_encode_s": (secs("pq_encode"), "s"),
        "operators.hnsw.build_s": (secs("hnsw_build"), "s"),
        "operators.quality.gopher_s": (secs("quality_gopher"), "s"),
        "operators.fingerprint.winnow_pairs_s": (secs("winnow_pairs"), "s"),
        "operators.graph.cc_s": (secs("graph_cc"), "s"),
        "pipeline.funnel_s": (secs("pipeline_funnel"), "s"),
        "operators.dedup.minhash_lsh_s": (secs("minhash_lsh"), "s"),
        "operators.dedup.ngram_jaccard_s": (secs("ngram_jaccard"), "s"),
        "operators.knn.batch_ms": (median(run.samples.get("knn_batch", [])), "ms"),
        "operators.ann.ivf_batch_ms": (median(run.samples.get("ivf_batch", [])), "ms"),
        "operators.bm25.batch_ms": (median(run.samples.get("bm25_batch", [])), "ms"),
        "bench.gopher_pass_rate": (len(want_kept) / n, "ratio"),
        "bench.planted_dup_frac": (len(planted) / n, "ratio"),
    })
    if run.trace:
        phases = {
            "build": ("ivf_train", "ivf_assign", "pq_train", "pq_encode", "hnsw_build"),
            "curation": ("quality_gopher", "winnow_pairs", "graph_cc", "pipeline_funnel",
                         "minhash_lsh", "ngram_jaccard"),
            "batch": ("knn_batch", "ivf_batch", "bm25_batch"),
        }
        for ph, kinds in phases.items():
            tot = {c: sum(run.kind_counters(kd)[c] for kd in kinds)
                   for c in ("jobs", "task_run_ms", "task_cpu_ms", "shuffle_read_bytes",
                             "shuffle_write_bytes", "spill_bytes")}
            run.layer.update({
                f"spark.jobs.{ph}": (tot["jobs"], "count"),
                f"spark.task_cpu_ms.{ph}": (tot["task_cpu_ms"], "ms"),
                f"spark.shuffle_bytes.{ph}": (
                    tot["shuffle_read_bytes"] + tot["shuffle_write_bytes"], "bytes"),
                f"spark.spill_bytes.{ph}": (tot["spill_bytes"], "bytes"),
                f"spark.core_busy.{ph}": (
                    tot["task_run_ms"] / (median(phase_s[ph]) * 1e3 * run.cores()), "ratio"),
            })


WORKLOADS = {"serve_mixed": serve_mixed, "write_read": write_read,
             "offline_build": offline_build}
LAYERS = ("plans.builder", "spark.collect", "storage.store", "operators.bm25",
          "operators.ann", "operators.hnsw", "operators.quality", "operators.fingerprint",
          "operators.graph", "operators.dedup", "pipeline")
# The per-layer metrics on the result line: every workload moves each of
# them. Layers only some workloads call, and spill and output bytes (0 in
# most runs), go on the detail line instead.
REPORTED = (
    "plans.builder.ms_per_op", "spark.collect.ms_per_op", "spark.jobs_per_op",
    "spark.stages_per_op", "spark.tasks_per_op", "spark.task_run_ms_per_op",
    "spark.task_cpu_ms_per_op", "spark.shuffle_read_bytes_per_op",
    "spark.shuffle_write_bytes_per_op", "spark.input_records_per_op",
)
