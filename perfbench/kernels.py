"""Per-sentence cost of the tagger's kernels, single thread, in the driver.

The sample is a fixed set of unique sentences (serial-suffixed
``datagen`` lines, as in ``kg_fused_neural``); each kernel runs over the
whole sample as one batch, the way the tagger runs one Arrow batch's
distinct sentences, and the median of a few repetitions is reported in
microseconds per sentence.
"""

from __future__ import annotations

import os
import statistics
import time

from .workloads import CKPT, english_sentences, unique_pages

REPEATS = 5


def _per_sentence_us(fn, n: int) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n * 1e6


def kernel_costs(seed: int, n: int, root: str) -> dict[str, float]:
    from ner_pytorch_spark import datagen
    from ner_pytorch_spark.operators.crf import viterbi_decode
    from ner_pytorch_spark.operators.encoder import (TaggerWeights,
                                                     neural_emissions)
    from ner_pytorch_spark.operators.spans import extract_spans
    from ner_pytorch_spark.operators.tagger import (build_surface_index,
                                                    featurize_sentence,
                                                    gazetteer_decode)
    from ner_pytorch_spark.operators.tagset import (grammar_transitions,
                                                    iobes_tags, tag_to_id)

    pdf = unique_pages(n, seed)
    sents = [list(t) for t in english_sentences(pdf["text"], pdf["lang"])[:n]]
    path = os.path.join(root, CKPT)
    w = TaggerWeights.from_npz(path)
    vocabs = TaggerWeights.vocabs_from_npz(path)
    unk = vocabs["word"].get("<UNK>", 0)
    feats = [featurize_sentence(t, vocabs["word"], vocabs["char"], unk)
             for t in sents]
    args = ([f[0] for f in feats], [f[1] for f in feats],
            [f[2] for f in feats])
    em, lens = neural_emissions(w, *args)
    paths = viterbi_decode(em, lens, w.transitions)
    tags = iobes_tags()
    tag_seqs = [[tags[i] for i in p] for p in paths]
    sidx = build_surface_index(datagen.alias_rows())
    tids, trans = tag_to_id(), grammar_transitions()
    k = len(sents)
    return {
        "encoder.emissions_us": _per_sentence_us(
            lambda: neural_emissions(w, *args), k),
        "crf.viterbi_us": _per_sentence_us(
            lambda: viterbi_decode(em, lens, w.transitions), k),
        "spans.extract_us": _per_sentence_us(
            lambda: [extract_spans(t, s) for t, s in zip(tag_seqs, sents)], k),
        "tagger.gazetteer_decode_us": _per_sentence_us(
            lambda: gazetteer_decode(sents, sidx, tids, trans), k),
    }
