"""``llm_dedup``: the LLM-data operators of ``kineo_spark.pipeline``.

A generated corpus (planted exact duplicates, near duplicates and spam)
and a table of embeddings (planted nearest neighbours) go through four
stages per round: exact dedup, MinHash-LSH near-dup pairs, the quality
and language-ID filter, and brute-force cosine kNN. Each stage's output
is checked against the planted ground truth. Nothing else in the
benchmark measures ``pipeline/``, which is shuffle-bound and has no
SPARQL front end.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import datagen
import measure

N_BASE_DOCS = 2_000
N_VECTORS, N_QUERIES = 2_000, 64
STAGES = ("exact", "minhash", "filter", "knn")
# stage copies per round: the median falls inside the kNN block and the
# 90th percentile inside the filter block, not on the edge between two
# stages, where a percentile jumps
ROUND = ("exact", "exact", "knn", "knn", "knn", "minhash", "filter", "filter")
PREPARED_ROUNDS = 40
SPAN = {"exact": "pipeline.dedup.exact", "minhash": "pipeline.dedup.minhash",
        "filter": "pipeline.text.filter", "knn": "pipeline.similarity.knn"}


@dataclass
class Stage:
    kind: str


class DedupWorkload:
    name = "llm_dedup"
    warmup_rounds = 1

    def generate(self, ctx) -> None:
        self.corpus = datagen.Corpus(ctx.seed, N_BASE_DOCS)
        self.docs_path = os.path.join(ctx.work, "documents.parquet")
        self.n_docs = self.corpus.write(self.docs_path)
        self.emb_path = os.path.join(ctx.work, "embeddings.parquet")
        self.twins = datagen.embeddings(self.emb_path, ctx.seed, N_VECTORS, N_QUERIES)
        self.rounds = [[Stage(k) for k in ROUND] for _ in range(PREPARED_ROUNDS)]

    def setup(self, ctx, spark) -> None:
        self.docs = spark.read.parquet(self.docs_path)
        self.emb = spark.read.parquet(self.emb_path)
        if ctx.trace:
            # LSH candidates before verification: a count at the layer
            # boundary that minhash_dedup_pairs does not return
            from kineo_spark.pipeline.dedup import (minhash_lsh_candidates,
                                                    minhash_signatures)
            self.candidates = minhash_lsh_candidates(
                minhash_signatures(self.docs, "doc_id", "text"), 16, 4).count()

    def run_op(self, ctx, stage: Stage):
        with ctx.tracer.span("op", kind=stage.kind) as sp:
            with ctx.tracer.span(SPAN[stage.kind]):
                t0 = time.perf_counter()
                rows = getattr(self, "_" + stage.kind)()
                dt = time.perf_counter() - t0
        ok, n = getattr(self, "_ok_" + stage.kind)(rows), len(rows)
        if sp is not None:
            sp.attrs.update(result_rows=n, ok=ok)
        return stage.kind, dt, ok

    # -- stages ---------------------------------------------------------------
    def _exact(self):
        from pyspark.sql import functions as F
        from kineo_spark.pipeline.dedup import exact_dedup

        return exact_dedup(self.docs, "doc_id", "text").filter(F.col("n_dupes") > 1).collect()

    def _ok_exact(self, rows) -> bool:
        return {r["keep_id"]: r["n_dupes"] for r in rows} == self.corpus.exact_groups

    def _minhash(self):
        from kineo_spark.pipeline.dedup import minhash_dedup_pairs

        return minhash_dedup_pairs(self.docs, "doc_id", "text").collect()

    def _ok_minhash(self, rows) -> bool:
        found = {(r["id_a"], r["id_b"]) for r in rows}
        return len(found) == len(rows) and found == self.corpus.near_pairs

    def _filter(self):
        from pyspark.sql import functions as F
        from kineo_spark.pipeline.text import language_id, quality_features

        return (quality_features(self.docs)
                .select("doc_id", language_id(F.col("text")).alias("lang"), "quality_score")
                .filter(F.col("quality_score") >= 0.75).select("doc_id", "lang").collect())

    def _ok_filter(self, rows) -> bool:
        got = {(r["doc_id"], r["lang"]) for r in rows}
        return len(got) == len(rows) and got == self.corpus.kept

    def _knn(self):
        from pyspark.sql import functions as F
        from kineo_spark.pipeline.similarity import knn_bruteforce

        queries = self.emb.filter(F.col("vec_id") < N_QUERIES)
        return knn_bruteforce(self.emb, queries, "vec_id", "embedding", k=5).collect()

    def _ok_knn(self, rows) -> bool:
        best: dict[int, tuple[float, int]] = {}
        per_query: dict[int, int] = {}
        for r in rows:
            q = r["query_id"]
            per_query[q] = per_query.get(q, 0) + 1
            if q not in best or r["sim"] > best[q][0]:
                best[q] = (r["sim"], r["neighbor_id"])
        return (set(per_query) == set(self.twins) and all(v == 5 for v in per_query.values())
                and all(best[q][1] == t for q, t in self.twins.items()))

    def summary(self, log) -> dict:
        one_pass_s = sum(measure.median(log.latencies({k})) for k in STAGES)
        return {"docs_per_s": (self.n_docs / one_pass_s, "1/s"),
                **{f"{k}_p50_ms": (measure.median(log.latencies({k})) * 1e3, "ms")
                   for k in STAGES}}
