"""The two timed workloads: set-up, the closed-loop operation stream and
its output checks."""

from __future__ import annotations

import shutil
import statistics
import time

from perfbench import inputs, spec
from perfbench.ops import OpRunner, expect

WARM_DOCS = 200  # warm-up corpus: every code path, little data


def materialize_corpus(spark, path: str, n_docs: int, seed: int) -> None:
    from full_lattice_search_spark.datagen import synth_documents

    synth_documents(
        spark, n_docs, seed=seed, mega_every=spec.CORPUS["mega_every"],
        partitions=spec.CORPUS["partitions"],
    ).write.mode("overwrite").parquet(path)


def extracted_digest(df) -> tuple[int, int]:
    """(rows, xor of xxhash64(doc_id, spans)) — order-independent."""
    from pyspark.sql import functions as F

    row = df.select(
        F.xxhash64("doc_id", F.to_json("spans")).alias("h")
    ).agg(F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x")).collect()
    return int(row[0]["n"]), int(row[0]["x"] or 0)


class Workload:
    """Set-up shared by the workloads.  Subclasses name their operation
    (``primary``), warm it up, prepare untimed reference outputs, and run
    one operation per ``step``; ``next_op`` gives the token that
    identifies an operation, so a traced run can repeat the same one."""

    name = ""
    primary = ""

    def __init__(self, bs, seed: int):
        self.bs = bs
        self.seed = seed
        self.n_docs = spec.WORKLOADS[self.name]["n_docs"]

    def setup(self, repeats: int) -> dict:
        """Materialize the seeded corpus ``repeats`` times into fresh
        directories (each timed), then warm every code path up on a small
        corpus."""
        spark = self.bs.spark
        times = []
        for i in range(repeats):
            path = self.bs.path(f"corpus{i}")
            t0 = time.perf_counter()
            materialize_corpus(spark, path, self.n_docs, self.seed)
            times.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(self.bs.path(f"corpus{i - 1}"))
        self.docs = spark.read.parquet(path)
        t0 = time.perf_counter()
        warm = self.bs.path("warm")
        materialize_corpus(spark, warm, WARM_DOCS, self.seed)
        self.warm_up(spark.read.parquet(warm))
        return {"materialize_s": times,
                "warmup_s": time.perf_counter() - t0}

    def end_to_end(self, runner: OpRunner) -> dict:
        secs, cpu = runner.seconds[self.primary], runner.cpu_seconds[self.primary]
        return {
            "op_p50_s": statistics.median(secs),
            "docs_per_s": self.n_docs * len(secs) / sum(secs),
            "op_cpu_s": statistics.median(cpu),
        }


class ExtractWorkload(Workload):
    """run_extraction passes into fresh output and checkpoint dirs."""

    name = "extract"
    primary = "pipeline.run_extraction"

    def __init__(self, bs, seed: int):
        super().__init__(bs, seed)
        self.n_buckets = spec.WORKLOADS["extract"]["n_buckets"]
        self._pass = 0

    def warm_up(self, warm_docs) -> None:
        self._extract(warm_docs, "warm")

    def prepare_checks(self) -> None:
        """Reference output: a plain extract_spans over the same corpus,
        computed once and untimed."""
        from full_lattice_search_spark.operators.extract import extract_spans

        self.reference = extracted_digest(extract_spans(self.docs))

    def _extract(self, docs, tag: str) -> dict:
        from full_lattice_search_spark.pipeline import run_extraction

        return run_extraction(
            self.bs.spark, docs, self.bs.path(f"out-{tag}"),
            self.bs.path(f"ckpt-{tag}"), n_buckets=self.n_buckets,
        )

    def next_op(self) -> None:
        return None  # every pass is the same operation

    def step(self, runner: OpRunner, op=None, traced: bool = True) -> None:
        self._pass += 1
        tag = str(self._pass)

        def run():
            with runner.cut("pipeline.run_extraction"):
                return self._extract(self.docs, tag)

        def check(result):
            expect(result["docs"] == self.n_docs,
                   f"run_extraction reported {result['docs']} docs")
            got = extracted_digest(
                self.bs.spark.read.parquet(self.bs.path(f"out-{tag}")))
            expect(got == self.reference,
                   f"output digest {got} != extract_spans {self.reference}")

        try:
            runner.run(self.primary, run, check, traced=traced)
        finally:
            for d in ("out", "ckpt"):
                shutil.rmtree(self.bs.path(f"{d}-{tag}"), ignore_errors=True)

    def end_to_end(self, runner: OpRunner) -> dict:
        e2e = super().end_to_end(runner)
        return {**e2e, "extract_docs_per_s": e2e["docs_per_s"]}


def _slot_terms(query) -> list[list[str]]:
    if isinstance(query, list):
        return [[t.lower() for t in slot] for slot in query]
    return [[t.lower()] for t in query.split()]


class SearchWorkload(Workload):
    """A seeded stream of ES match_lattice bodies through api.search on
    the doc-scan path, each inside composed_cache_scope()."""

    name = "search"
    primary = "api.search"
    STREAM = 500  # longer than any run consumes

    def __init__(self, bs, seed: int):
        super().__init__(bs, seed)
        self.stream = inputs.search_stream(seed, self.STREAM)
        self._i = 0
        self.latencies: dict[str, list[float]] = {}

    def warm_up(self, warm_docs) -> None:
        for req in inputs.search_stream(self.seed + 1,
                                        len(inputs.SEARCH_SHAPES)):
            self._search(warm_docs, req)

    def prepare_checks(self) -> None:
        """Lowercased raw text per document: a hit must contain at least
        one alternative of every query slot (the matcher's necessary
        condition), computed once and untimed."""
        from pyspark.sql import functions as F

        rows = self.docs.select(
            "doc_id",
            F.lower(F.concat_ws(" ", F.expr(
                "transform(filter(spans, s -> s.kind = 'text'), s -> s.text)"
            ))).alias("t"),
        ).collect()
        self.text = {r["doc_id"]: r["t"] for r in rows}

    def _search(self, docs, req) -> dict:
        from full_lattice_search_spark import api, composed_cache_scope

        with composed_cache_scope():
            return api.search(docs, req["body"], size=10,
                              similarity=req["similarity"])

    def next_op(self) -> dict:
        req = self.stream[self._i % len(self.stream)]
        self._i += 1
        return req

    def step(self, runner: OpRunner, op=None, traced: bool = True) -> None:
        req = op if op is not None else self.next_op()

        def run():
            with runner.cut("api.search", shape=req["shape"]):
                return self._search(self.docs, req)

        def check(resp):
            hits = resp["hits"]["hits"]
            scores = [h["_score"] for h in hits]
            expect(len(hits) <= 10, f"{len(hits)} hits > size")
            expect(scores == sorted(scores, reverse=True), "hits not sorted")
            expect(all(s > 0 for s in scores), "non-positive score")
            if req["shape"] == "absent":
                expect(not hits and resp["hits"]["total"]["relation"] == "eq",
                       "absent term returned hits")
            slots = _slot_terms(
                req["body"]["match_lattice"]["spans"]["query"])
            for h in hits:
                text = self.text.get(h["_id"])
                expect(text is not None, f"unknown doc {h['_id']}")
                expect(all(any(t in text for t in slot) for slot in slots),
                       f"{h['_id']} lacks a query term")

        if runner.run(self.primary, run, check, traced=traced) is not None:
            self.latencies.setdefault(req["shape"], []).append(
                runner.seconds[self.primary][-1])

    def end_to_end(self, runner: OpRunner) -> dict:
        e2e = super().end_to_end(runner)
        return {**e2e, "search_p50_s": e2e["op_p50_s"]}


WORKLOAD_CLASSES = {"extract": ExtractWorkload, "search": SearchWorkload}
