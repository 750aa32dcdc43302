"""llm_curation: the engine's LLM-data operators on a seeded corpus.

Ops (one round runs each once, in this order, as one pipeline would):

- ``exact_dedup``: ``operators.dedup.exact_dedup`` -- the kept ids must be the
  lowest id of every distinct text;
- ``minhash_lsh_pairs`` / ``ngram_jaccard_pairs_auto``: near-duplicate pairs;
  every returned pair's Jaccard is re-computed in Python, and recall is taken
  against the planted near-duplicates (the exact join must find all);
- ``text_curation``: ``operators.text_analysis`` ``quality_score``,
  ``language_id`` and ``redact_pii`` over the corpus, compared with a Python
  re-implementation of the same formulas;
- ``ivfpq_build`` then ``ivfpq_probe_0``, ``ivfpq_probe_1``: ``operators.similarity.build_ivfpq_index``
  (the index must hold every id), then ``ivfpq_probe_batch`` over two seeded
  query batches; recall@10 is taken against the exact brute-force top-10.
"""

from __future__ import annotations

import re
from collections import Counter

import gen
from common import Op, frame_hash, observed_noop, pandas_hashes

DEDUP_RECALL_FLOOR = 0.8
ANN_RECALL_FLOOR = 0.6
JACCARD = 0.5
EMAIL_RE = re.compile("[a-z0-9.]+@[a-z0-9.-]+")
PHONE_RE = re.compile("[0-9][0-9-]{3,}[0-9]")
_NON_WORD = re.compile("[a-zA-Z0-9 ]")


def quality_score(text: str) -> float:
    words = text.split(" ")
    n_words, n_chars = len(words), len(text)
    stop_ratio = sum(1 for w in words if w in gen.STOPWORDS["en"]) / n_words
    punct_ratio = len(_NON_WORD.sub("", text)) / n_chars
    avg_word_len = (n_chars - (n_words - 1)) / n_words
    length_component = min(n_words / 100.0, 1.0)
    word_len_component = 1.0 if 3.0 <= avg_word_len <= 10.0 else 0.5
    return (length_component * 0.4 + min(stop_ratio * 5.0, 1.0) * 0.3
            + (1.0 - min(punct_ratio * 10.0, 1.0)) * 0.2 + word_len_component * 0.1)


def language_id(text: str) -> str:
    words = text.split(" ")
    c = {lang: sum(1 for w in words if w in stops) for lang, stops in gen.STOPWORDS.items()}
    en, de, fr, es = c["en"], c["de"], c["fr"], c["es"]
    if en >= de and en >= fr and en >= es and en > 0:
        return "en"
    if de >= fr and de >= es and de > 0:
        return "de"
    if fr >= es and fr > 0:
        return "fr"
    return "es" if es > 0 else "und"


def redact(text: str) -> str:
    return PHONE_RE.sub("<NUM>", EMAIL_RE.sub("<EMAIL>", text))


class LlmCuration:
    VERIFY_MARKER = f">= {JACCARD}"  # the pair operators' Jaccard check in a plan

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        full = ctx.scale == "full"
        self.n_orig, self.variants = (200, 10) if full else (50, 4)
        self.n_vec, self.n_queries = (2_000, 64) if full else (500, 16)
        self.n_batches = 2
        self.root = f"{ctx.scratch}/llm"
        self._n = 0
        self.ngram_route: dict = {}

    def generate(self) -> None:
        from data_integration_and_processing_spark.operators import dedup, similarity, text_analysis
        from data_integration_and_processing_spark.sources import readers

        self.dd, self.sim, self.ta, self.rd = dedup, similarity, text_analysis, readers
        c = gen.corpus(self.root, self.n_orig, self.variants, self.ctx.seed, JACCARD)
        self.planted, self.shingles = c["planted"], c["shingles"]
        docs = c["docs"]
        self.n_docs = len(docs)
        first = docs.groupby("text")["doc_id"].min()
        self.kept = first.sort_values().to_frame().reset_index(drop=True)
        texts = list(docs["text"])
        red = [redact(t) for t in texts]
        self.text_expect = {
            "q_sum": sum(quality_score(t) for t in texts),
            "langs": Counter(language_id(t) for t in texts),
            "emails": sum(r.count("<EMAIL>") for r in red),
            "nums": sum(r.count("<NUM>") for r in red),
            "red_chars": sum(len(r) for r in red),
        }
        v = gen.vectors(self.root, self.n_vec, 64, self.n_queries, self.ctx.seed)
        self.queries, self.exact_top10 = v["queries"], v["exact_top10"]

    def prepare(self, spark) -> None:
        self.spark = spark
        self.docs = self.rd.read_file(spark, f"{self.root}/documents.parquet")
        self.vecs = self.rd.read_file(spark, f"{self.root}/embeddings.parquet")
        self.kept_hash = pandas_hashes(spark, {"kept": self.kept})["kept"]
        self.index = f"{self.root}/ivfpq"

    def ops(self) -> list[Op]:
        n, q = self.n_docs, self.n_queries
        return [
            Op("exact_dedup", "operators", n, self.exact_dedup),
            Op("minhash_lsh_pairs", "operators", n, self.minhash),
            Op("ngram_jaccard_pairs_auto", "operators", n, self.ngram_auto),
            Op("text_curation", "operators", n, self.text_curation),
            Op("ivfpq_build", "operators", self.n_vec, self.ivfpq_build),
            *[Op(f"ivfpq_probe_{b}", "operators", q // self.n_batches, self._prober(b))
              for b in range(self.n_batches)],
        ]

    def exact_dedup(self):
        out = self.dd.exact_dedup(self.docs).select("doc_id")
        self._n += 1
        with self.ctx.tracer.span("operators.dedup_action", "operators"):
            got = observed_noop(out, f"llm{self._n}")
        return lambda: got == self.kept_hash

    def _pairs(self, fn, **kwargs):
        caches: list = []
        pairs = fn(self.docs, text_col="text", id_col="doc_id", cache_handle=caches, **kwargs)
        with self.ctx.tracer.span("operators.dedup_action", "operators"):
            rows = pairs.select("id_a", "id_b", "jaccard").collect()
        for c in caches:
            c.unpersist()
        found = {(int(r[0]), int(r[1])) for r in rows}
        self.ctx.note("dedup_verified", len(rows))
        recall = len(found & self.planted) / len(self.planted) if self.planted else 1.0
        return rows, recall

    def _pairs_exact(self, rows) -> bool:
        sh = self.shingles
        return all(
            a < b and abs(gen.jaccard(sh[a], sh[b]) - j) < 1e-9 and j >= JACCARD
            for a, b, j in ((int(r[0]), int(r[1]), float(r[2])) for r in rows)
        )

    def minhash(self):
        rows, recall = self._pairs(self.dd.minhash_lsh_pairs, jaccard_threshold=JACCARD)
        self.ctx.note("dedup_recall", recall)
        self.ctx.note("dedup_recall_ops", 1)
        return lambda: recall >= DEDUP_RECALL_FLOOR and self._pairs_exact(rows)

    def ngram_auto(self):
        decision: dict = {}
        rows, recall = self._pairs(self.dd.ngram_jaccard_pairs_auto, threshold=JACCARD,
                                   decision_handle=decision)
        self.ngram_route = decision
        return lambda: recall == 1.0 and self._pairs_exact(rows)

    def text_curation(self):
        from pyspark.sql import functions as F

        ta = self.ta
        text = F.col("text")
        scored = self.docs.select(
            ta.quality_score(text).alias("q"),
            ta.language_id(ta.words_of(text)).alias("lang_id"),
            ta.redact_pii(text).alias("red"),
        )
        aggs = [F.sum("q").alias("q_sum"),
                F.sum(F.size(F.split("red", "<EMAIL>")) - 1).alias("emails"),
                F.sum(F.size(F.split("red", "<NUM>")) - 1).alias("nums"),
                F.sum(F.length("red")).alias("red_chars")]
        aggs += [F.sum((F.col("lang_id") == lang).cast("long")).alias(f"lang_{lang}")
                 for lang in (*gen.STOPWORDS, "und")]
        with self.ctx.tracer.span("operators.text_action", "operators"):
            r = scored.agg(*aggs).first()
        e = self.text_expect

        def check() -> bool:
            langs = {lang: int(r[f"lang_{lang}"]) for lang in (*gen.STOPWORDS, "und")}
            return (abs(r["q_sum"] - e["q_sum"]) <= 1e-9 * max(1.0, e["q_sum"])
                    and langs == {lang: e["langs"].get(lang, 0) for lang in langs}
                    and (r["emails"], r["nums"], r["red_chars"]) == (e["emails"], e["nums"], e["red_chars"]))

        return check

    def ivfpq_build(self):
        self.sim.build_ivfpq_index(self.vecs, self.index, n_cells=16, m=8, nbits=4)

        def check() -> bool:
            data = self.spark.read.parquet(f"{self.index}/data")
            return frame_hash(data.select(data["id"].alias("vec_id"))) == frame_hash(self.vecs.select("vec_id"))

        return check

    def _prober(self, b: int):
        queries = self.queries[b::self.n_batches]

        def run():
            res = self.sim.ivfpq_probe_batch(self.spark, self.index, queries, k=10, nprobe=4)
            with self.ctx.tracer.span("operators.ann_probe_action", "operators"):
                rows = res.select("query_id", "vec_id").collect()
            got: dict[int, set[int]] = {}
            for qid, vid in rows:
                got.setdefault(int(qid), set()).add(int(vid))
            recall = sum(len(got.get(q, set()) & self.exact_top10[q]) for q, _ in queries) / (10 * len(queries))
            self.ctx.note("ann_recall", recall)
            self.ctx.note("ann_recall_ops", 1)
            return lambda: (recall >= ANN_RECALL_FLOOR and len(got) == len(queries)
                            and all(len(v) == 10 for v in got.values()))

        return run

    def summary(self, records) -> dict:
        m = [r for r in records if r["measured"]]

        def mean_note(key: str) -> float:
            n = sum(r["notes"].get(f"{key}_ops", 0.0) for r in m)
            return sum(r["notes"].get(key, 0.0) for r in m) / n if n else 0.0

        return {"dedup_recall": mean_note("dedup_recall"), "ann_recall_at10": mean_note("ann_recall"),
                "planted_pairs": len(self.planted), "docs": self.n_docs,
                # the router's last decision and the sampled shingle stats behind it
                "ngram_route": self.ngram_route}
