"""Offline profiler for the kg_neural_tag UDF body (guide §1: measure first).

Reproduces exactly what one Arrow batch of the neural tag_sentences stage
does — featurize → neural_emissions → viterbi_decode — on the same
synthetic sentences the bench generates, WITHOUT Spark, so cProfile and
per-phase timers see the pure compute cost. The session factory's BLAS
pin (one thread, OPENBLAS_CORETYPE from the CPU flags) is applied before
numpy loads, so the kernels are the ones the Python workers run.

Usage: python tools/profile_neural.py [n_pages] [batch_size]
"""

from __future__ import annotations

import cProfile
import io
import pstats
import sys
import time

sys.path.insert(0, __import__("os").path.dirname(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__))))

from ner_pytorch_spark.session import pin_blas

pin_blas()   # before numpy (and OpenBLAS) loads

from blas_core import openblas_core  # noqa: E402  (tools/, script dir)

from ner_pytorch_spark import datagen
from ner_pytorch_spark.operators.crf import viterbi_decode
from ner_pytorch_spark.operators.encoder import TaggerWeights, neural_emissions
from ner_pytorch_spark.operators.tagger import featurize_sentence
from ner_pytorch_spark.operators.tagset import ENTITY_TYPES, iobes_tags


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    batch = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    print(f"OpenBLAS core: {openblas_core()}")

    # ---- sentences, as sentences_table would produce them
    t0 = time.time()
    sents: list[list[str]] = []
    pages, _, _ = datagen.generate_pages(n_pages)
    for p in pages:
        for line in p["text"].split("\n"):
            toks = line.split()
            if toks:
                sents.append(toks)
    print(f"gen: {len(sents)} sentences in {time.time()-t0:.2f}s")

    # ---- vocab (min_count=1 ranked by freq, same shape as build_vocab)
    from collections import Counter
    wc: Counter = Counter()
    cc: Counter = Counter()
    for toks in sents:
        for t in toks:
            wc[t.lower()] += 1
            cc.update(t)
    t2i = {"<UNK>": 0}
    for i, (tok, _) in enumerate(
            sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))):
        t2i[tok] = i + 1
    c2i = {}
    for i, (ch, _) in enumerate(
            sorted(cc.items(), key=lambda kv: (-kv[1], kv[0]))):
        c2i[ch] = i

    num_tags = len(iobes_tags(ENTITY_TYPES))
    w = TaggerWeights.random_init(
        vocab_size=len(t2i) + 1, char_vocab_size=len(c2i) + 1,
        num_tags=num_tags, word_dim=100, char_dim=25, char_out=25,
        hidden=200, cap_dim=4, seed=42)

    # ---- sort by length desc (repartition_by_length effect) + batch
    sents.sort(key=len, reverse=True)
    batches = [sents[i:i + batch] for i in range(0, len(sents), batch)]

    phases = {"featurize": 0.0, "emissions": 0.0, "viterbi": 0.0,
              "pred_strs": 0.0}
    tags = iobes_tags(ENTITY_TYPES)

    def run_all() -> None:
        for bt in batches:
            t0 = time.time()
            feats = [featurize_sentence(t, t2i, c2i, 0) for t in bt]
            word_ids = [f[0] for f in feats]
            char_ids = [f[1] for f in feats]
            caps = [f[2] for f in feats]
            t1 = time.time()
            em, lengths = neural_emissions(w, word_ids, char_ids, caps)
            t2 = time.time()
            paths = viterbi_decode(em, lengths, w.transitions)
            t3 = time.time()
            _ = [[tags[i] for i in p] for p in paths]
            t4 = time.time()
            phases["featurize"] += t1 - t0
            phases["emissions"] += t2 - t1
            phases["viterbi"] += t3 - t2
            phases["pred_strs"] += t4 - t3

    t0 = time.time()
    run_all()
    wall = time.time() - t0
    print(f"wall {wall:.2f}s for {len(sents)} sents "
          f"({len(sents)/wall:.0f} sents/s single-process)")
    for k, v in phases.items():
        print(f"  {k:>10}: {v:.2f}s ({100*v/wall:.0f}%)")

    pr = cProfile.Profile()
    pr.enable()
    run_all()
    pr.disable()
    s = io.StringIO()
    pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(25)
    print(s.getvalue())


if __name__ == "__main__":
    main()
