"""The traced layer sweep.

Every traced run, whatever its workload, ends with this sweep over its
own seeded corpus, so that every per-layer metric is measured on every
workload.  Each cut is one operation under its own job group; timed
layers are cut with the noop sink (never ``.count()``), and counts are
taken untimed or from the status stores.  The sweep also runs the output
checks of the index and dedup_ann operation families.
"""

from __future__ import annotations

import statistics

from perfbench import inputs, spec
from perfbench.ops import OpRunner, expect


def _last(runner: OpRunner, kind: str) -> float | None:
    """Seconds of the latest ``kind`` operation, None if it failed."""
    secs = runner.seconds[kind]
    return secs[-1] if secs and runner.ok[kind] else None


def _mean(values: list[float]) -> float | None:
    return statistics.mean(values) if values else None


def _rate(n: float, secs: float | None) -> float | None:
    return n / secs if secs else None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _top10(rows) -> list[tuple[str, float]]:
    return sorted(((r["doc_id"], round(float(r["score"]), 5)) for r in rows),
                  key=lambda t: (-t[1], t[0]))[:10]


def _same_top10(a, b) -> bool:
    """Equal scores rank for rank; doc ids equal wherever the score is
    strictly above the tenth score (ties at the cut may legally differ)."""
    a, b = _top10(a), _top10(b)
    if [s for _, s in a] != [s for _, s in b]:
        return False
    if not a:
        return True
    cut = a[-1][1]
    return ({d for d, s in a if s > cut} == {d for d, s in b if s > cut})


def sweep(bs, wl, runner: OpRunner, seed: int) -> dict:
    from pyspark.sql import functions as F

    m: dict[str, float] = {}
    # the first SWEEP["docs"] documents of the workload's corpus
    n_docs = min(wl.n_docs, spec.SWEEP["docs"])
    docs = wl.docs.filter(F.col("doc_id") < f"doc-{n_docs:012d}")
    _pipeline_and_extract(bs, runner, docs, n_docs, m)
    _tokenizer(runner, docs, m)
    scored_rows = _match(runner, docs, n_docs, seed, m)
    _token_index(bs, runner, docs, n_docs, seed, scored_rows, m)
    _dedup(bs, runner, docs, n_docs, seed, m)
    _similarity(bs, runner, seed, m)
    return m


def _pipeline_and_extract(bs, runner, docs, n_docs, m) -> None:
    from pyspark.sql import functions as F

    from full_lattice_search_spark.operators.extract import (
        extract_spans,
        extract_spans_salted,
    )
    from full_lattice_search_spark.pipeline import (
        DEFAULT_SALT_THRESHOLD,
        run_extraction,
    )

    out, ckpt = bs.path("sweep-out"), bs.path("sweep-ckpt")

    def pipeline():
        with runner.cut("pipeline.run_extraction"):
            return run_extraction(bs.spark, docs, out, ckpt, n_buckets=8)

    res = runner.run("pipeline", pipeline,
                     lambda r: expect(r["docs"] == n_docs, "pipeline docs"),
                     durations=True, sql_nodes=("Execute",))
    st = runner.last_stats("pipeline")
    m["pipeline.run_s"] = _last(runner, "pipeline")
    m["pipeline.files_written"] = st.sql_sum("Execute", "number of written files")
    m["pipeline.bytes_written"] = st.sql_sum("Execute", "written output")
    m["pipeline.task_skew"] = st.task_skew()
    if res:
        m["extract.spans_out"] = float(bs.spark.read.parquet(ckpt).agg(
            F.sum("n_spans")).collect()[0][0])

    def compute():
        with runner.cut("extract.extract_spans"):
            _noop(extract_spans(docs))

    runner.run("extract.compute", compute)
    py = runner.last_stats("extract.compute").python("MapInArrow")
    m["extract.compute_s"] = _last(runner, "extract.compute")
    m["extract.python_run_s"] = py["run_s"]
    m["extract.arrow_bytes_in"] = py["bytes_in"]
    m["extract.arrow_bytes_out"] = py["bytes_out"]

    mega = docs.filter(F.size("spans") > DEFAULT_SALT_THRESHOLD)

    def salted():
        with runner.cut("extract.extract_spans_salted"):
            _noop(extract_spans_salted(mega))

    runner.run("extract.salted", salted)
    m["extract.salted_s"] = _last(runner, "extract.salted")


def _tokenizer(runner, docs, m) -> None:
    from full_lattice_search_spark import LatticeConfig, lattice_tokenize

    def tokenize():
        with runner.cut("tokenizer.lattice_tokenize"):
            _noop(lattice_tokenize(docs, LatticeConfig()))

    runner.run("tokenizer", tokenize)
    py = runner.last_stats("tokenizer").python("MapInPandas")
    m["tokenizer.tokenize_s"] = _last(runner, "tokenizer")
    m["tokenizer.python_run_s"] = py["run_s"]
    m["tokenizer.tokens_out"] = py["rows_out"]


def _match(runner, docs, n_docs, seed, m) -> dict[str, list]:
    """Scored and payload-only probes of the same terms, the api façade
    over the same body, and the prefilter / hit yields.  Returns the
    scored top rows per query for the index check."""
    from full_lattice_search_spark import (
        LatticeConfig,
        MatchLatticeParams,
        api,
        composed_cache_scope,
        match_lattice,
    )

    cfg = LatticeConfig()
    status = runner.status
    build, action, compose, overhead, jobs, tasks, py_run = ([] for _ in range(7))
    cand, hit, in_scope, after_scope = [], [], [], []
    scored_rows: dict[str, list] = {}
    for q in inputs.probe_queries(seed, spec.SWEEP["probe_queries"]):
        per_kind = {}
        for kind, span_score in (("scored", True), ("payload", False)):
            params = MatchLatticeParams(slop=2, include_span_score=span_score)
            t = {}

            def probe():
                with composed_cache_scope():
                    with runner.cut("match.build") as sp:
                        df = match_lattice(docs, q, cfg, params, top_k=11)
                    with runner.cut("match.action") as sa:
                        rows = df.collect()
                    t["build"], t["action"] = sp.duration, sa.duration
                    in_scope.append(status.persisted_rdds())
                after_scope.append(status.persisted_rdds())
                return rows

            op = f"match.{kind}"
            rows = runner.run(op, probe, sql_nodes=(
                "MapInPandas", "Scan parquet", "Filter"))
            if rows is None:
                continue
            st = runner.last_stats(op)
            build.append(t["build"])
            action.append(t["action"])
            jobs.append(st.jobs)
            tasks.append(st.tasks)
            py_run.append(st.python("MapInPandas")["run_s"])
            per_kind[kind] = t["build"] + t["action"]
            if span_score:
                scored_rows[q] = rows
            else:
                # prefilter yield and hit yield of the payload-only path
                scanned = st.sql_sum("Scan parquet", "number of output rows")
                entering = st.sql_sum("Filter", "number of output rows")
                cand.append(entering / scanned if scanned else 1.0)
                # the payload-only matcher emits one row per doc with a span
                n_hit = st.python("MapInPandas")["rows_out"]
                hit.append(n_hit / (entering or n_docs))
        if len(per_kind) == 2:
            compose.append(per_kind["scored"] - per_kind["payload"])
        body = {"match_lattice": {"spans": {"query": q, "slop": 2}}}

        def via_api():
            with composed_cache_scope():
                with runner.cut("api.search"):
                    return api.search(docs, body, size=10)

        api_rows = runner.run("api.search_probe", via_api, sql_nodes=())
        if api_rows is not None and "scored" in per_kind:
            overhead.append(_last(runner, "api.search_probe")
                            - per_kind["scored"])
    m["match.build_s"] = _mean(build)
    m["match.action_s"] = _mean(action)
    m["match.jobs_per_query"] = _mean(jobs)
    m["match.tasks_per_query"] = _mean(tasks)
    m["match.python_run_s"] = _mean(py_run)
    m["match.candidate_frac"] = _mean(cand)
    m["match.hit_frac"] = _mean(hit)
    m["match.cached_in_scope"] = float(max(in_scope, default=0))
    m["match.cached_relations"] = float(max(after_scope, default=0))
    m["bm25.compose_s"] = _mean(compose)
    m["api.overhead_s"] = _mean(overhead)
    return scored_rows


def _token_index(bs, runner, docs, n_docs, seed, scored_rows, m) -> None:
    from full_lattice_search_spark import LatticeConfig, MatchLatticeParams
    from full_lattice_search_spark.operators.match import (
        match_lattice_many,
        match_lattice_tokens,
    )
    from full_lattice_search_spark.sources.token_index import (
        match_lattice_indexed,
        write_token_index,
    )

    cfg = LatticeConfig()
    nb = spec.SWEEP["token_buckets"]
    ix = bs.path("token-index")

    def write():
        with runner.cut("token_index.write_token_index"):
            write_token_index(docs, ix, cfg, n_token_buckets=nb)

    runner.run("token_index.write", write, sql_nodes=("Execute",))
    st = runner.last_stats("token_index.write")
    m["token_index.write_s"] = _last(runner, "token_index.write")
    m["index_docs_per_s"] = _rate(n_docs, m["token_index.write_s"])
    m["token_index.files_written"] = st.sql_sum("Execute",
                                                "number of written files")
    tokens = bs.spark.read.parquet(ix)
    m["token_index.postings_rows"] = float(tokens.count())

    resolve, total, scanned = [], [], []
    params = MatchLatticeParams(slop=2)
    for q, doc_scan in scored_rows.items():
        t = {}

        def indexed():
            with runner.cut("token_index.match_lattice_indexed") as sp:
                df = match_lattice_indexed(bs.spark, ix, q, cfg, params,
                                           top_k=10, n_token_buckets=nb)
            with runner.cut("match.action"):
                rows = df.collect()
            t["resolve"] = sp.duration
            return rows

        def check(rows):
            expect(_same_top10(rows, doc_scan),
                   f"indexed top-10 != doc-scan top-10 for {q!r}")

        if runner.run("token_index.query", indexed, check,
                      sql_nodes=("Scan parquet",)) is None:
            continue
        resolve.append(t["resolve"])
        total.append(_last(runner, "token_index.query"))
        scanned.append(runner.last_stats("token_index.query").sql_sum(
            "Scan parquet", "number of output rows"))
    m["token_index.resolve_s"] = _mean(resolve)
    m["token_index.rows_scanned"] = _mean(scanned)
    m["indexed_p50_s"] = statistics.median(total) if total else None

    standing = inputs.standing_queries(seed, spec.SWEEP["standing_queries"])
    payload = MatchLatticeParams(slop=2, include_span_score=False)

    def many():
        with runner.cut("match.match_lattice_many"):
            return match_lattice_many(tokens, standing, cfg, payload).collect()

    def check_many(rows):
        for qid, text in standing[: spec.SWEEP["many_checked"]]:
            got = sorted((r["doc_id"], round(float(r["score"]), 5),
                          int(r["n_spans"]))
                         for r in rows if r["query_id"] == qid)
            ref = sorted((r["doc_id"], round(float(r["score"]), 5),
                          int(r["n_spans"]))
                         for r in match_lattice_tokens(
                             tokens, text, cfg, payload).collect())
            expect(got == ref, f"match_lattice_many rows != per-query "
                               f"match_lattice_tokens for {qid}")

    if runner.run("match.many", many, check_many, sql_nodes=()) is not None:
        m["match.many_s"] = _last(runner, "match.many")
        m["batch_queries_per_s"] = len(standing) / m["match.many_s"]


def _plant_duplicates(bs, docs, n_docs, seed) -> tuple[str, set[str]]:
    """Corpus plus planted exact and near duplicates, written to parquet;
    returns its path and the planted exact duplicate ids."""
    from pyspark.sql import functions as F

    from full_lattice_search_spark.schema import DOCUMENTS_SCHEMA

    plan = inputs.dup_plan(seed, n_docs, spec.SWEEP["dup_exact"],
                           spec.SWEEP["dup_near"])
    src_ids = [f"doc-{i:012d}" for i, _ in plan]
    rows = {r["doc_id"]: r for r in
            docs.filter(F.col("doc_id").isin(src_ids)).collect()}
    planted, exact_ids = [], set()
    for k, (i, kind) in enumerate(plan):
        src = rows[f"doc-{i:012d}"]
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in src["spans"]]
        if kind == "near":
            # change the first word of the longest text span
            j = max((n for n, s in enumerate(spans) if s[1]),
                    key=lambda n: len(spans[n][1]), default=None)
            if j is not None:
                kind_, text, media, off = spans[j]
                spans[j] = (kind_, "zzplanted" + text[text.find("|"):]
                            if "|" in text else "zzplanted " + text,
                            media, off)
        dup_id = f"dup-{kind}-{k:04d}"  # sorts after every doc- id
        if kind == "exact":
            exact_ids.add(dup_id)
        planted.append((dup_id, spans))
    path = bs.path("dedup-corpus")
    docs.unionByName(bs.spark.createDataFrame(planted, DOCUMENTS_SCHEMA)) \
        .write.mode("overwrite").parquet(path)
    return path, exact_ids


def _dedup(bs, runner, docs, n_docs, seed, m) -> None:
    from full_lattice_search_spark import LatticeConfig
    from full_lattice_search_spark.operators.curate import curate_documents
    from full_lattice_search_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    cfg = LatticeConfig()
    path, exact_ids = _plant_duplicates(bs, docs, n_docs, seed)
    dd = bs.spark.read.parquet(path)
    n_dd = n_docs + len(exact_ids) + spec.SWEEP["dup_near"]

    def curate():
        with runner.cut("operators.curate.curate_documents"):
            return curate_documents(dd, cfg, dedup="minhash").select(
                "doc_id").collect()

    def check_curate(rows):
        kept = exact_ids & {r["doc_id"] for r in rows}
        expect(not kept, f"{len(kept)} planted exact duplicates kept")

    runner.run("dedup.curate", curate, check_curate, sql_nodes=())
    m["curate_docs_per_s"] = _rate(n_dd, _last(runner, "dedup.curate"))
    m["dedup.shuffle_bytes"] = float(
        runner.last_stats("dedup.curate").shuffle_write_bytes)

    # the same kept-document texts curate feeds to minhash, materialized
    kept_path, sig_path = bs.path("dedup-kept"), bs.path("dedup-sigs")
    curate_documents(dd, cfg, dedup="none").write.parquet(kept_path)
    kept = bs.spark.read.parquet(kept_path)

    def signatures():
        with runner.cut("operators.dedup.minhash_signature"):
            _noop(minhash_signature(kept, id_cast=None))

    runner.run("dedup.minhash", signatures, sql_nodes=())
    m["dedup.minhash_s"] = _last(runner, "dedup.minhash")
    minhash_signature(kept, id_cast=None).write.parquet(sig_path)
    sigs = bs.spark.read.parquet(sig_path)

    def pairs():
        with runner.cut("operators.dedup.lsh_candidate_pairs"):
            _noop(lsh_candidate_pairs(sigs))

    runner.run("dedup.pairs", pairs, sql_nodes=())
    m["dedup.pairs_s"] = _last(runner, "dedup.pairs")
    cand = lsh_candidate_pairs(sigs)
    n_pairs = cand.count()
    n_dropped = cand.select("doc_b").distinct().count()
    m["dedup.candidate_pairs"] = float(n_pairs)
    m["dedup.dropped_per_pair"] = n_dropped / n_pairs if n_pairs else 0.0


def _similarity(bs, runner, seed, m) -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from full_lattice_search_spark.operators import similarity as S

    sw = spec.SWEEP
    x = inputs.embeddings(seed, sw["embeddings"], sw["dim"], sw["clusters"])
    path = bs.path("embeddings")
    bs.spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    ).write.parquet(path)
    emb = bs.spark.read.parquet(path)
    train_args = dict(m=sw["pq_m"], k=sw["pq_k"], iterations=sw["pq_iterations"])
    books_ref = {}

    def train():
        with runner.cut("operators.similarity.pq_train"):
            return S.pq_train(emb, **train_args)

    def check_books(books):
        # bit-identical codebooks under a different partitioning
        again = S.pq_train(emb.coalesce(1), **train_args)
        expect(inputs.digest(again) == inputs.digest(books),
               "pq_train codebooks differ across partitionings")
        books_ref["books"] = books

    runner.run("similarity.pq_train", train, check_books, sql_nodes=())
    books = books_ref.get("books")
    if books is None:
        return
    m["similarity.pq_train_s"] = _last(runner, "similarity.pq_train")
    m["similarity.pq_train_jobs"] = float(
        runner.last_stats("similarity.pq_train").jobs)

    def encode():
        with runner.cut("operators.similarity.pq_encode"):
            _noop(S.pq_encode(emb, books))

    runner.run("similarity.encode", encode, sql_nodes=())
    m["similarity.encode_s"] = _last(runner, "similarity.encode")
    if m["similarity.encode_s"] is not None:
        m["ann_train_s"] = m["similarity.pq_train_s"] + m["similarity.encode_s"]
    enc_path = bs.path("pq-codes")
    S.pq_encode(emb, books).write.parquet(enc_path)
    encoded = bs.spark.read.parquet(enc_path)
    rng = np.random.default_rng([seed, 6])
    qids = sorted(int(i) for i in rng.choice(len(x), size=sw["ann_queries"],
                                             replace=False))
    queries = emb.filter(F.col("vec_id").isin(qids))

    def adc():
        with runner.cut("operators.similarity.ann_pq_many"):
            return S.ann_pq_many(encoded, queries, books, k=10).collect()

    def check_recall(rows):
        exact = S.brute_force_topk_arrow(emb, queries, k=10).collect()
        truth = {(r["query_id"], r["vec_id"]) for r in exact}
        got = {(r["query_id"], r["vec_id"]) for r in rows}
        m["similarity.recall_at_10"] = len(got & truth) / len(truth)
        expect(m["similarity.recall_at_10"] >= spec.RECALL_FLOOR,
               f"recall@10 {m['similarity.recall_at_10']:.3f} below floor")

    runner.run("similarity.adc", adc, check_recall, sql_nodes=())
    m["similarity.adc_s"] = _last(runner, "similarity.adc")
    m["ann_queries_per_s"] = _rate(len(qids), m["similarity.adc_s"])
