"""The benchmark's workloads.

Each workload builds its inputs from a seed (``setup``), runs the
operation a user calls (``call``), reduces one call's output to a small
summary (``summarize``) and checks it (``check``), both off the clock.
``setup`` can run more than once; each run replaces the previous inputs,
so set-up time can be sampled several times in one process.

``BENCHMARK.json`` lists ``kg_fused_neural`` and ``kg_staged``;
``corpus_prep`` runs only when asked for by name (see README.md).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import numpy as np
import pandas as pd

KG_FUSED_PAGES = 1500
KG_STAGED_PAGES = 2000
PREP_DOCS = 750
# size of the fixed unique-sentence sample the kernel costs are timed on
KERNEL_SENTENCES = 512

CKPT = os.path.join("artifacts", "conll_weights.npz")


def _digest(rows) -> str:
    h = hashlib.md5()
    for r in sorted(map(tuple, rows)):
        h.update(repr(r).encode())
    return h.hexdigest()


def repeat_share(tok_lists: list[tuple]) -> float:
    """1 - distinct token sequences / sentences: 0 when no sentence
    repeats, near 1 when the tagger's per-task memo answers most."""
    return 1.0 - len(set(tok_lists)) / max(len(tok_lists), 1)


def english_sentences(texts, langs) -> list[tuple]:
    """Token tuples of the sentences ``sentences_table`` keeps."""
    return [tuple(line.split()) for text, lang in zip(texts, langs)
            if lang == "en" for line in text.split("\n") if line.split()]


def unique_pages(n_pages: int, seed: int) -> pd.DataFrame:
    """``datagen`` pages with every line made unique by a trailing
    page/line serial token, so no two sentences share a token sequence."""
    from ner_pytorch_spark import datagen

    pages, _, _ = datagen.generate_pages(n_pages, seed=seed)
    texts = []
    for i, p in enumerate(pages):
        texts.append("\n".join(
            f"{line} u{i}l{j}" if line.strip() else line
            for j, line in enumerate(p["text"].split("\n"))))
    return pd.DataFrame({"url": [p["url"] for p in pages], "text": texts,
                         "lang": [p["lang"] for p in pages]})


class KGFusedNeural:
    """pages -> mentions + triples through the fused neural tagger."""

    name = "kg_fused_neural"
    units = KG_FUSED_PAGES

    def __init__(self, spark, seed: int, work: str, root: str):
        from ner_pytorch_spark.operators.encoder import TaggerWeights

        self.spark, self.seed = spark, seed
        path = os.path.join(root, CKPT)
        self.weights = TaggerWeights.from_npz(path)
        self.vocabs = TaggerWeights.vocabs_from_npz(path)
        self.pages = None
        self._expected = None

    def setup(self) -> None:
        if self.pages is not None:
            self.pages.unpersist(blocking=True)
        self.pdf = unique_pages(self.units, self.seed)
        # one partition per core: one wave of tasks, as in bench.py's
        # kg_e2e; more partitions measured slower and no steadier
        self.pages = (self.spark.createDataFrame(self.pdf)
                      .repartition(self.spark.sparkContext.defaultParallelism)
                      .persist())
        self.pages.count()

    def call(self, tracer):
        from ner_pytorch_spark.datagen import PREDICATE_LEXICON
        from ner_pytorch_spark.operators.tagger import (fused_mentions,
                                                        fused_triples,
                                                        pages_to_mention_pairs)

        # persisted: mentions and triples are two actions over one crossing
        fused = pages_to_mention_pairs(
            self.pages, mode="neural", weights=self.weights,
            vocab=self.vocabs["word"],
            char_vocab=self.vocabs["char"]).persist()
        with tracer.span("tagger"):
            mentions = fused_mentions(fused).collect()
        with tracer.span("triples.join"):
            triples = fused_triples(fused, PREDICATE_LEXICON).collect()
        fused.unpersist(blocking=True)
        return (mentions, triples), None

    def summarize(self, out) -> tuple:
        return (_digest(out[0]), _digest(out[1]))

    def expected(self) -> tuple:
        """The staged neural path on the same pages: tag_sentences ->
        mentions_table, and sentence_local_triples over the same tags."""
        from ner_pytorch_spark.datagen import PREDICATE_LEXICON
        from ner_pytorch_spark.operators.spans import mentions_table
        from ner_pytorch_spark.operators.tagger import (sentences_table,
                                                        tag_sentences)
        from ner_pytorch_spark.operators.triples import sentence_local_triples

        tagged = tag_sentences(
            sentences_table(self.pages), mode="neural", weights=self.weights,
            vocab=self.vocabs["word"],
            char_vocab=self.vocabs["char"]).persist()
        exp = (_digest(mentions_table(tagged).collect()),
               _digest(sentence_local_triples(
                   tagged, PREDICATE_LEXICON).collect()))
        tagged.unpersist(blocking=True)
        return exp

    def check(self, summary) -> bool:
        if self._expected is None:
            self._expected = self.expected()
        return summary == self._expected

    def properties(self) -> dict:
        sents = english_sentences(self.pdf["text"], self.pdf["lang"])
        return {"pages": self.units, "sentences": len(sents),
                "sentences_per_page": len(sents) / self.units,
                "repeat_share": repeat_share(sents)}


class KGStaged:
    """KGPipeline.run in gazetteer mode, a fresh catalog per call."""

    name = "kg_staged"
    units = KG_STAGED_PAGES

    def __init__(self, spark, seed: int, work: str, root: str):
        from ner_pytorch_spark import datagen

        self.spark, self.seed, self.work = spark, seed, work
        self.aliases = datagen.alias_rows()
        self.pages = None
        self.n_calls = 0

    def setup(self) -> None:
        from ner_pytorch_spark import datagen

        if self.pages is not None:
            self.pages.unpersist(blocking=True)
        pages, _, gold = datagen.generate_pages(self.units, seed=self.seed)
        self.texts = [p["text"] for p in pages]
        self.langs = [p["lang"] for p in pages]
        self.gold = {(g["url"], g["sent_id"], g["subj_id"], g["pred"],
                      g["obj_id"]) for g in gold}
        rows = [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
                for p in pages]
        self.pages = self.spark.createDataFrame(
            rows, datagen.PAGES_SCHEMA_DDL).persist()
        self.pages.count()

    def call(self, tracer):
        from ner_pytorch_spark.plans.kg_pipeline import KGPipeline

        self.n_calls += 1
        root = os.path.join(self.work, f"catalog-{self.n_calls}")
        out = KGPipeline(self.spark, root, self.aliases,
                         mode="gazetteer").run(self.pages)
        return out, root

    def summarize(self, out) -> tuple:
        """Triple precision and recall against the generator's gold."""
        got = {(r.url, r.sent_id, r.subj_id, r.pred, r.obj_id)
               for r in out["edges"].collect()}
        tp = len(got & self.gold)
        return (tp / max(len(got), 1), tp / max(len(self.gold), 1))

    def check(self, summary) -> bool:
        return min(summary) >= 0.95

    def release(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)

    def properties(self) -> dict:
        sents = english_sentences(self.texts, self.langs)
        return {"pages": self.units, "sentences": len(sents),
                "sentences_per_page": len(sents) / self.units,
                "repeat_share": repeat_share(sents)}


_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window"]
_LANGS = ["en", "zh", "fr", "es", "de"]


def documents(n: int, seed: int) -> pd.DataFrame:
    """Documents shaped like the test data's ``documents`` table: 10-100
    words from the 30-word vocabulary; 5% are near-duplicates (an earlier
    doc plus the word ``dup``, making the 31-word vocabulary) and 0.2%
    exact copies."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, size=n)
    vocab = np.array(_VOCAB)
    words = vocab[rng.integers(0, len(vocab), size=int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    kind = rng.random(n)
    src = rng.integers(0, np.arange(n).clip(min=1))
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, 5, n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


class CorpusPrep:
    """q_corpus_prep: CorpusPrepPipeline over seeded documents."""

    name = "corpus_prep"
    units = PREP_DOCS

    def __init__(self, spark, seed: int, work: str, root: str):
        self.spark, self.seed = spark, seed
        self.data = os.path.join(work, "data")
        self.tmp = os.environ["TMPDIR"]
        self._expected = None

    def setup(self) -> None:
        os.makedirs(self.data, exist_ok=True)
        self.docs = documents(self.units, self.seed)
        self.docs.to_parquet(os.path.join(self.data, "documents.parquet"),
                             index=False)

    def call(self, tracer):
        import __spark_entry__ as entry

        before = set(glob.glob(os.path.join(self.tmp, "prep_*")))
        final = entry.q_corpus_prep(self.spark, self.data).toPandas()
        new = set(glob.glob(os.path.join(self.tmp, "prep_*"))) - before
        return final, (new.pop() if len(new) == 1 else None)

    def summarize(self, out) -> tuple:
        from tools.check_contract import value_hash

        return (len(out), tuple(sorted(out.columns)), value_hash(out))

    def expected(self) -> tuple:
        """The DuckDB oracle of q_corpus_prep on the same documents."""
        import duckdb

        import __spark_entry__ as entry
        from tools.check_contract import value_hash

        con = duckdb.connect()
        try:
            con.execute("create view documents as select * from "
                        f"read_parquet('{self.data}/documents.parquet')")
            ref = con.execute(entry.oracle_sql()["corpus_prep"]).df()
        finally:
            con.close()
        return (len(ref), tuple(sorted(ref.columns)), value_hash(ref))

    def check(self, summary) -> bool:
        if self._expected is None:
            self._expected = self.expected()
        return summary == self._expected

    def properties(self) -> dict:
        return {"docs": self.units}


WORKLOADS = {w.name: w for w in (KGFusedNeural, KGStaged, CorpusPrep)}
