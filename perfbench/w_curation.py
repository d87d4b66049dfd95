"""Curation part of ``analytics_curation``: a generated corpus run through
``functions`` as in scripts/run_training_pipeline.py: quality gate ->
exact dedup -> MinHash-LSH candidates -> components ->
repetition/boilerplate gates, decontamination and PII redaction ->
embedding-LSH near duplicates -> top-10 for a batch of query vectors ->
shard write. Each stage's output is materialised (``localCheckpoint``)
so its work lands in its own operation; one operation is one stage.
Planted truth scores what the speed costs in recall."""

from __future__ import annotations

import os

import numpy as np

import gen
from harness import Pass, dir_bytes, timed_op

# Each stage's cost is mostly fixed per-job overhead, so the corpus is
# kept small for the run budget: the curation part of a pass still takes
# 13-18 s on a 4-vCPU machine, 5-8 s of it in the curation gates.
SIZES = dict(n_docs=500, n_vectors=800, dim=32, n_queries=32)
WARM_SIZES = dict(n_docs=200, n_vectors=200, dim=32, n_queries=8)
LSH_PLANES = 8
TOPK = 10
# Planted-truth floors below which a pass's output counts as wrong.
MIN_DEDUP_RECALL, MIN_DEDUP_PRECISION, MIN_ANN_RECALL = 0.9, 0.9, 0.5


class Curation:
    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.src = os.path.join(work, "corpus")
        self.warm_src = os.path.join(work, "corpus_warm")
        self.failures: list[str] = []
        self.bytes_written: list[int] = []
        self.last: dict = {}

    def generate(self) -> None:
        self.truth = gen.curation_corpus(self.seed, self.src, **SIZES)
        gen.curation_corpus(self.seed + 1, self.warm_src, **WARM_SIZES)

    def _stage(self, p: Pass | None, name: str, fn, span: str | None = None):
        """Run one stage as one operation; a stage that fails inside a
        pass returns None, so the stages after it fail too."""
        out = None
        with timed_op(p, name, self.failures), self.tracer.span(span or f"functions.{name}") as sp:
            out = fn(sp)
        return out

    def _pipeline(self, spark, src: str, out_dir: str, p: Pass | None, warm: bool = False) -> dict:
        from pyspark.sql import functions as F

        from yelp_etl_spark.functions import curation as C
        from yelp_etl_spark.functions import dedup as D
        from yelp_etl_spark.functions import similarity as S
        from yelp_etl_spark.functions import text as TX
        from yelp_etl_spark.functions.sampling import deterministic_sample
        from yelp_etl_spark.operators.validate import assert_quality

        docs = spark.read.parquet(os.path.join(src, "documents.parquet"))

        def quality(sp):
            assert_quality(docs, {"null_id": F.col("doc_id").isNull(),
                                  "null_text": F.col("text").isNull(),
                                  "negative_len": F.col("n_chars") < 0})
            scored = docs.withColumn("quality", TX.quality_score(F.col("text")))
            return scored.filter((F.col("lang") == "en") & (F.col("quality") > 0.2)).localCheckpoint()

        kept = self._stage(p, "quality_gate", quality)

        def exact(sp):
            fp = kept.withColumn("fp", TX.fingerprint(F.col("text")))
            keeper = fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
            return fp.join(keeper, (fp["fp"] == keeper["fp"]) & (fp["doc_id"] == keeper["keep_id"]),
                           "left_semi").drop("fp").localCheckpoint()

        unique = self._stage(p, "exact_dedup", exact)
        if warm:
            return {}

        def minhash(sp):
            pairs = D.minhash_candidate_pairs(unique, num_hashes=32, bands=8).localCheckpoint()
            sp.count("candidate_pairs", pairs.count())
            return pairs

        pairs = self._stage(p, "minhash_pairs", minhash)
        deduped = self._stage(p, "components",
                              lambda sp: D.dedup_keep_canonical(unique, pairs).localCheckpoint())

        def gates(sp):
            rep = C.repetition_metrics(deduped, ngram=3)
            ok = rep.filter((F.col("dup_ngram_frac") <= 0.6) & (F.col("top_word_frac") <= 0.5))
            gated = deduped.join(ok.select("doc_id"), "doc_id", "left_semi")
            boiler = C.cross_doc_boilerplate(gated, ngram=5, min_docs=3)
            gated = gated.join(boiler.filter(F.col("boilerplate_frac") <= 0.8).select("doc_id"),
                               "doc_id", "left_semi")
            eval_set = deterministic_sample(docs, "doc_id", 0.02)
            clean = C.decontaminate(gated.join(eval_set.select("doc_id"), "doc_id", "left_anti"),
                                    eval_set, ngram=5)
            return clean.withColumn("text", TX.redact_pii(F.col("text"))).localCheckpoint()

        curated = self._stage(p, "curation_gates", gates)

        emb = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
        queries = spark.read.parquet(os.path.join(src, "queries.parquet"))
        dim = SIZES["dim"]

        def emb_lsh(sp):
            return S.embedding_neardup_pairs_lsh(emb, dim, threshold=0.95).count()

        emb_pairs = self._stage(p, "embedding_lsh", emb_lsh)

        def topk(sp):
            res = S.lsh_topk(emb, queries, dim, k=TOPK, n_planes=LSH_PLANES).collect()
            out: dict[int, list[int]] = {}
            for r in res:
                out.setdefault(r["query_id"], []).append(r["neighbor_id"])
            return out

        neighbours = self._stage(p, "topk", topk)

        def shards(sp):
            layout = C.shard_assignment(curated, key_col="doc_id", n_shards=4)
            curated.join(layout, "doc_id").write.mode("overwrite").partitionBy("shard").parquet(out_dir)
            n, size = dir_bytes(out_dir)
            sp.count("files_written", n)
            sp.count("bytes_written", size)
            return size

        written = self._stage(p, "shard_write", shards, span="sources.write_shards")
        return dict(kept=kept, deduped=deduped, pairs=pairs, curated=curated,
                    emb_pairs=emb_pairs, neighbours=neighbours, out_dir=out_dir, written=written)

    def warmup(self, spark) -> None:
        """The first two text stages on a small corpus. Warming the whole
        pipeline cost about 15 s a set-up, three times a run, which the
        run budget does not hold."""
        self._pipeline(spark, self.warm_src, os.path.join(self.work, "curation_warm"), None, warm=True)

    def run_pass(self, spark, p: Pass, i: int) -> None:
        self.last = self._pipeline(spark, self.src, os.path.join(self.work, "curation", f"pass{i}"), p)
        self.bytes_written.append(self.last["written"] or 0)

    def rows_per_pass(self) -> int:
        return self.truth["n_docs"] + SIZES["n_vectors"] + SIZES["n_queries"]

    def write_base(self) -> int:
        """Input bytes (texts plus vectors) that ``bytes_written`` is set against."""
        return self.truth["input_bytes"]

    # ------------------------------------------------------ planted truth

    def quality(self) -> dict:
        """Dedup recall/precision over the docs that passed the quality
        gate, candidate precision, and ANN recall@10 of the last pass."""
        kept = {r["doc_id"] for r in self.last["kept"].select("doc_id").collect()}
        survivors = {r["doc_id"] for r in self.last["deduped"].select("doc_id").collect()}
        removed = kept - survivors
        true_pairs, losers = set(), set()
        for cluster in self.truth["dup_clusters"]:
            members = sorted(m for m in cluster if m in kept)
            losers.update(members[1:])
            true_pairs.update((a, b) for i, a in enumerate(members) for b in members[i + 1:])
        cand = [(r["id_a"], r["id_b"]) for r in self.last["pairs"].collect()]
        hits = sum(1 for q, want in self.truth["top10"].items()
                   for n in self.last["neighbours"].get(q, []) if n in set(want))
        n_truth = sum(len(v) for v in self.truth["top10"].values())
        return {
            "dedup_recall": len(removed & losers) / max(1, len(losers)),
            "dedup_precision": len(removed & losers) / max(1, len(removed)),
            "candidate_pairs": len(cand),
            "candidate_precision": sum(1 for c in cand if c in true_pairs) / max(1, len(cand)),
            "ann_recall_at_10": hits / max(1, n_truth),
            "ann_candidates_per_query": self._bucket_occupancy(),
        }

    def _bucket_occupancy(self) -> float:
        """Mean corpus vectors sharing each query's LSH bucket: the
        candidates ``lsh_topk`` scores per query."""
        import pyarrow.parquet as pq

        from yelp_etl_spark.functions.similarity import random_hyperplanes

        planes = np.array(random_hyperplanes(SIZES["dim"], LSH_PLANES, 42))

        def buckets(name: str) -> np.ndarray:
            vecs = np.array(pq.read_table(os.path.join(self.src, name)).column("embedding").to_pylist())
            return ((np.round(vecs @ planes.T, 9) >= 0) * 2 ** np.arange(LSH_PLANES - 1, -1, -1)).sum(axis=1)

        corpus, qs = buckets("embeddings.parquet"), buckets("queries.parquet")
        return float(np.mean([(corpus == b).sum() for b in qs]))

    def check(self, spark) -> tuple[int, list[str]]:
        q = self.quality_scores = self.quality()
        failures = []
        for key, floor in (("dedup_recall", MIN_DEDUP_RECALL), ("dedup_precision", MIN_DEDUP_PRECISION),
                           ("ann_recall_at_10", MIN_ANN_RECALL)):
            if q[key] < floor:
                failures.append(f"{key} {q[key]:.3f} below {floor}")
        out = spark.read.parquet(self.last["out_dir"])
        n_out, n_curated = out.count(), self.last["curated"].count()
        if n_out != n_curated:
            failures.append(f"shards hold {n_out} docs, curated {n_curated}")
        if out.filter(out.text.contains("@example.com")).count():
            failures.append("PII survived redaction")
        return 5, failures
