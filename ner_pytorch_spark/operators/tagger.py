"""Sentence segmentation + featurization + batched mention tagging.

The inference hot path of the engine (SURVEY §7 Phase 1):

    pages → filter(lang='en') → sentences (split + posexplode, JVM-side)
          → tag_sentences (ONE Arrow-batched mapInPandas stage:
            featurize P1-P6 + emissions + CRF Viterbi M8)
          → mentions (C1 explode)

Two emission modes, both decoding through the SAME numpy CRF Viterbi:

* ``neural``    — the full char-CNN/BiLSTM forward
  (:mod:`ner_pytorch_spark.operators.encoder`) with broadcast weights;
  the production path once trained weights are loaded.
* ``gazetteer`` — emissions constructed from broadcast alias-dictionary
  longest matches (the distant-supervision path; deterministic, used for
  the synthetic-corpus P/R gate where no trained checkpoint exists).

Featurization parity contracts (unit-tested):
  word ids: lowercase + digit-fold + <UNK> fallback
  (/root/reference/loader.py:135-137,160-161); char ids: case kept,
  OOV chars silently DROPPED (/root/reference/loader.py:138); caps:
  4-way class (/root/reference/loader.py:113-128).
"""

from __future__ import annotations

import re
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

from ..functions.textnorm import (py_cap_feature, py_tokenize_ws,
                                  py_zero_digits, tokenize_ws)
from .crf import IMPOSSIBLE, viterbi_decode
from .encoder import TaggerWeights, neural_emissions
from .spans import extract_spans
from .tagset import ENTITY_TYPES, grammar_transitions, iobes_tags
from .triples import TRIPLE_COLS, lexicon_lookup

MATCH_SCORE = 10.0

# ASCII file/group/record/unit separators: str.split() whitespace but
# NOT Java-\s whitespace — pages containing them can't use the fast path
_FS_SEPS = re.compile("[\x1c-\x1f]")


# ------------------------------------------------------------ sentences


def sentences_table(pages: DataFrame, lang: str | None = "en") -> DataFrame:
    """pages → (url, sent_id, sentence, tokens). All JVM-side.

    Sentence = non-empty line of the extracted text (the extractor emits
    one block element per line); tokens = whitespace split. ``sent_id``
    is the line ordinal — a pure function of the text, stable under any
    repartitioning.
    """
    df = pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return (
        df.select("url", F.posexplode(F.split("text", "\n")).alias("sent_id", "sentence"))
        .filter(F.length("sentence") > 0)
        .withColumn("tokens", tokenize_ws(F.col("sentence")))
        .filter(F.size("tokens") > 0)
    )


def page_sentences(text: str) -> Iterator[tuple[int, list[str]]]:
    """Python twin of :func:`sentences_table` for one page's text:
    ``(sent_id, tokens)`` for every line with at least one token."""
    # tokenization contract = JVM \s+ ([ \t\n\x0B\f\r]). On plain-ASCII
    # text str.split() is identical and ~3x faster (the hot path) —
    # EXCEPT the ASCII separators \x1c-\x1f, which str.split() treats as
    # whitespace and Java \s does not, so those pages (and non-ASCII
    # ones, U+00A0 etc.) take the pinned ASCII-class regex.
    fast = text.isascii() and _FS_SEPS.search(text) is None
    for sent_id, line in enumerate(text.split("\n")):
        toks = line.split() if fast else py_tokenize_ws(line)
        if toks:
            yield sent_id, toks


# ------------------------------------------------------- featurization


def featurize_sentence(tokens: list[str], word_to_id: dict, char_to_id: dict,
                       unk_id: int) -> tuple[list[int], list[list[int]], list[int]]:
    """P1-P6 for one sentence; pure, shared with the golden pipeline."""
    word_ids = [
        word_to_id.get(py_zero_digits(t.lower()), unk_id) for t in tokens]
    char_ids = [
        [char_to_id[c] for c in t if c in char_to_id]  # OOV-drop, loader.py:138
        for t in tokens]
    caps = [py_cap_feature(t) for t in tokens]
    return word_ids, char_ids, caps


# ------------------------------------------------- gazetteer emissions


def build_surface_index(aliases: list[dict]) -> dict:
    """first_token → [(token_tuple, tag_type)], longest-first.

    Greedy leftmost-longest matching mirrors the reference's PPDB
    bigram-then-unigram lookup (J5, /root/reference/ppdb.py:85-100) —
    with the bigram-construction bug at ppdb.py:89 fixed, not replicated.
    """
    idx: dict[str, list[tuple[tuple[str, ...], str]]] = {}
    for row in aliases:
        toks = tuple(row["surface"].split(" "))
        idx.setdefault(toks[0], []).append((toks, row["tag_type"]))
    for k in idx:
        idx[k].sort(key=lambda p: (-len(p[0]), p[0]))
    return idx


def gazetteer_tag_ids(tokens: list[str], surface_index: dict,
                      tag_ids: dict[str, int]) -> list[int]:
    """Greedy longest-match → IOBES tag-id sequence (gold emissions)."""
    n = len(tokens)
    ids = [tag_ids["O"]] * n
    i = 0
    while i < n:
        cands = surface_index.get(tokens[i])
        matched = False
        if cands:
            for toks, tt in cands:
                L = len(toks)
                if i + L <= n and tuple(tokens[i:i + L]) == toks:
                    if L == 1:
                        ids[i] = tag_ids[f"S-{tt}"]
                    else:
                        ids[i] = tag_ids[f"B-{tt}"]
                        for j in range(i + 1, i + L - 1):
                            ids[j] = tag_ids[f"I-{tt}"]
                        ids[i + L - 1] = tag_ids[f"E-{tt}"]
                    i += L
                    matched = True
                    break
        if not matched:
            i += 1
    return ids


def gazetteer_decode(
    tok_lists: list[list[str]],
    surface_index: dict,
    tag_ids: dict[str, int],
    transitions: np.ndarray,
) -> list[list[int]]:
    """Exact gazetteer-mode decode WITHOUT running the Viterbi DP.

    In gazetteer mode the emission lattice is deterministic: 0
    everywhere except the matched positions, which carry MATCH_SCORE,
    and the decode transitions are the pure IOBES grammar (exactly 0 or
    IMPOSSIBLE). Under that structure the candidate path "matched tags,
    O elsewhere" is provably what :func:`viterbi_decode` returns:

    - it is grammar-valid by construction (greedy longest-match emits
      non-overlapping well-formed spans), so its score is
      MATCH_SCORE x n_matched — the maximum attainable, since every
      transition score is <= 0 and deviating at a matched position
      forfeits MATCH_SCORE;
    - tie-breaking: alternative max-score paths differ only on
      zero-emission runs, and the DP's argmax-first tie-break always
      prefers tag id 0 = "O" there (backptr argmax picks the smallest
      maximal index, and delta["O"] is maximal at every unmatched
      position), which is exactly this candidate.

    A vectorized grammar check still guards every sentence; any
    candidate that is NOT valid (impossible with the current matcher,
    cheap insurance against future matchers) falls back to the real
    DP in one small batch. The fused hot path uses this; the unfused
    ``tag_sentences`` keeps full Viterbi, so the fused==unfused
    equivalence tests differentially verify the shortcut on every run.
    Skipping the DP also skips materializing the [B, L, T] emission
    tensor — on profile this halves the fused UDF body.
    """
    T = transitions.shape[0] - 2
    half = IMPOSSIBLE / 2.0
    ok_pair = transitions[:T, :T] > half
    ok_start = transitions[T, :T] > half
    ok_stop = transitions[:T, T + 1] > half
    paths: list[list[int] | None] = [None] * len(tok_lists)
    fallback: list[tuple[int, np.ndarray]] = []
    for b, toks in enumerate(tok_lists):
        g = np.asarray(
            gazetteer_tag_ids(toks, surface_index, tag_ids), dtype=np.int64)
        if g.size == 0:          # empty sentence: nothing to decode
            paths[b] = []
            continue
        if (ok_start[g[0]] and ok_stop[g[-1]]
                and (g.size < 2 or ok_pair[g[:-1], g[1:]].all())):
            paths[b] = g.tolist()
        else:
            fallback.append((b, g))
    if fallback:
        _viterbi_into(paths, fallback, transitions)
    return paths


def gazetteer_viterbi(
    tok_lists: list[list[str]],
    surface_index: dict,
    tag_ids: dict[str, int],
    transitions: np.ndarray,
) -> list[list[int]]:
    """Gazetteer decode through the FULL Viterbi DP (no shortcut).

    Semantically identical to :func:`gazetteer_decode`. ``tag_sentences``
    decodes with it, so the fused==staged equivalence tests verify the
    shortcut against the DP; ``bench.py`` times the fused path both ways.
    """
    nonempty = [(b, np.asarray(
        gazetteer_tag_ids(toks, surface_index, tag_ids), dtype=np.int64))
        for b, toks in enumerate(tok_lists) if toks]
    paths: list[list[int]] = [[] for _ in tok_lists]
    if nonempty:
        _viterbi_into(paths, nonempty, transitions)
    return paths


def _viterbi_into(paths: list, matched: list[tuple[int, np.ndarray]],
                  transitions: np.ndarray) -> None:
    """Viterbi DP over the gazetteer emission lattices (MATCH_SCORE at
    each row's matched tag ids, 0 elsewhere) of the non-empty
    ``matched`` (row, tag ids) pairs; ``paths[row]`` = the decode."""
    T = transitions.shape[0] - 2
    L = max(g.size for _, g in matched)
    em = np.zeros((len(matched), L, T), dtype=np.float32)
    lens = np.asarray([g.size for _, g in matched], dtype=np.int64)
    for k, (_, g) in enumerate(matched):
        em[k, np.arange(g.size), g] = MATCH_SCORE
    for (b, _), p in zip(matched, viterbi_decode(em, lens, transitions)):
        paths[b] = p


# ------------------------------------------------------------- tagging

_TAGGED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("sent_id", IntegerType()),
    StructField("tokens", ArrayType(StringType())),
    StructField("pred_tags", ArrayType(StringType())),
    StructField("n_tokens", LongType()),
])


def _decode_transitions(weights: TaggerWeights, grammar_prior: bool | None,
                        prior: np.ndarray) -> np.ndarray:
    """Neural-mode decode transitions. The IOBES grammar prior keeps
    decodes valid under UNTRAINED (random) transition weights, but a
    genuinely trained CRF must decode with its learned transitions ALONE
    (/root/reference/crf.py:91-135) — so ``grammar_prior=None`` defaults
    to on for random-init weights and OFF for checkpoint-loaded ones
    (``meta['trained']``, set by ``TaggerWeights.from_npz``)."""
    if grammar_prior is None:
        grammar_prior = not weights.meta.get("trained", False)
    return weights.transitions + prior if grammar_prior else weights.transitions


def _tagger_payload(
    mode: str, entity_types: tuple[str, ...], aliases: list[dict] | None,
    weights: TaggerWeights | None, vocab: dict | None,
    char_vocab: dict | None, grammar_prior: bool | None,
) -> dict:
    """Validate one tagging mode's inputs → the broadcast payload that
    :func:`_decode_tags` reads on the workers."""
    tags = iobes_tags(entity_types)
    payload: dict = {
        "mode": mode, "tags": tags,
        "tag_ids": {t: i for i, t in enumerate(tags)},
        "transitions": grammar_transitions(entity_types),
    }
    if mode == "gazetteer":
        if aliases is None:
            raise ValueError("gazetteer mode needs aliases")
        payload["surface_index"] = build_surface_index(aliases)
    elif mode == "neural":
        if weights is None or vocab is None or char_vocab is None:
            raise ValueError("neural mode needs weights + vocabs")
        payload.update(
            weights=weights, vocab=vocab, chars=char_vocab,
            unk=vocab.get("<UNK>", 0),
            decode_trans=_decode_transitions(
                weights, grammar_prior, payload["transitions"]))
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return payload


def _decode_tags(v: dict, tok_lists: list[tuple[str, ...]],
                 dp_free: bool) -> list[list[str]]:
    """Distinct token sequences → their decoded IOBES tag paths.

    Neural mode: featurize → BiLSTM emissions → CRF Viterbi. Gazetteer
    mode: the exact DP-free :func:`gazetteer_decode` when ``dp_free``,
    else the full DP of :func:`gazetteer_viterbi`.
    """
    if v["mode"] == "gazetteer":
        decode = gazetteer_decode if dp_free else gazetteer_viterbi
        paths = decode(tok_lists, v["surface_index"], v["tag_ids"],
                       v["transitions"])
    else:
        feats = [featurize_sentence(t, v["vocab"], v["chars"], v["unk"])
                 for t in tok_lists]
        em, lens = neural_emissions(
            v["weights"], [f[0] for f in feats], [f[1] for f in feats],
            [f[2] for f in feats])
        paths = viterbi_decode(em, lens, v["decode_trans"])
    tlist = v["tags"]
    return [[tlist[i] for i in p] for p in paths]


def _memoized(memo: dict, keys: list[tuple],
              build: Callable[[list[tuple]], list]) -> list:
    """The values of ``keys`` (token sequences), through a task-lifetime
    memo: ``build`` maps the distinct keys the memo lacks to their values
    in ONE batched call. Decoding is a pure function of the token sequence and
    corpora repeat sentences heavily (boilerplate; the synthetic corpus
    is ~15% unique), so each distinct sentence is decoded once per task.
    The memo is bounded; it is rebuilt from the input on every run and
    nothing survives the task.
    """
    todo = dict.fromkeys(k for k in keys if k not in memo)
    overflow: dict = {}
    for k, val in zip(todo, build(list(todo)) if todo else ()):
        (memo if len(memo) < 1_000_000 else overflow)[k] = val
    return [memo[k] if k in memo else overflow[k] for k in keys]


def tag_sentences(
    sentences: DataFrame,
    mode: str = "gazetteer",
    weights: TaggerWeights | None = None,
    vocab: dict | None = None,
    char_vocab: dict | None = None,
    aliases: list[dict] | None = None,
    entity_types: tuple[str, ...] = ENTITY_TYPES,
    grammar_prior: bool | None = None,
) -> DataFrame:
    """Batched mention detection: ONE mapInPandas stage over Arrow batches.

    Everything heavy (weights / dictionaries) ships via
    ``sparkContext.broadcast`` once per job, not per task. Batch size is
    bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` (session
    factory) — the explicit inference-stage sizing knob. In neural mode
    the encoder itself length-sorts each batch's distinct sentences and
    runs them in cache-sized chunks (``encoder.CHUNK_ROWS``), so padding
    stays low whatever order the rows arrive in. Gazetteer mode always
    runs the full Viterbi DP: it is the reference the fused path's
    DP-free shortcut is tested against.
    """
    bc = sentences.sparkSession.sparkContext.broadcast(_tagger_payload(
        mode, entity_types, aliases, weights, vocab, char_vocab,
        grammar_prior))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = bc.value
        memo: dict[tuple, list[str]] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            keys = [tuple(t) for t in pdf["tokens"]]
            pred = _memoized(memo, keys,
                             lambda ks: _decode_tags(v, ks, dp_free=False))
            yield pd.DataFrame({
                "url": pdf["url"], "sent_id": pdf["sent_id"],
                "tokens": pdf["tokens"], "pred_tags": pred,
                "n_tokens": np.fromiter(map(len, keys), np.int64, len(keys)),
            })

    return sentences.select("url", "sent_id", "tokens").mapInPandas(run, _TAGGED_SCHEMA)


# --------------------------------------------------- fused fast path

# Flat union-typed output: kind=0 → mention row, kind=1 → pair row.
# Nested list<struct> columns were measured 3-4× slower than flat
# primitives in the pandas→Arrow conversion (the stage's actual
# bottleneck at 200k pages), so the fused UDF emits flat rows and the
# JVM side filters/projects the two views.
_FUSED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("sent_id", IntegerType()),
    StructField("kind", IntegerType()),
    StructField("a", IntegerType()),        # mention_id | subj_mention_id
    StructField("b", IntegerType()),        # start      | obj_mention_id
    StructField("c", IntegerType()),        # end        | gap
    StructField("type_a", StringType()),    # tag_type   | subj_type
    StructField("type_b", StringType()),    # -          | obj_type
    StructField("surf_a", StringType()),    # surface    | subj_surface
    StructField("surf_b", StringType()),    # -          | obj_surface
    StructField("between", StringType()),   # -          | between phrase
])


def _sentence_template(toks: tuple[str, ...], tags: list[str]) -> tuple:
    """One decoded sentence → its (mentions, pairs) rows without the
    (url, sent_id) key: BIOES spans, then every ordered non-overlapping
    in-sentence mention pair with the token run between the two."""
    spans = extract_spans(tags, toks)
    ments = [(mid, s["start"], s["end"], s["tag_type"], s["surface"])
             for mid, s in enumerate(spans)]
    prs = []
    for i, m1 in enumerate(spans):
        for j in range(i + 1, len(spans)):
            m2 = spans[j]
            if m1["end"] > m2["start"]:
                continue
            prs.append((
                i, j, m2["start"] - m1["end"],
                m1["tag_type"], m2["tag_type"],
                m1["surface"], m2["surface"],
                " ".join(toks[m1["end"]:m2["start"]])))
    return ments, prs


def pages_to_mention_pairs(
    pages: DataFrame,
    aliases: list[dict] | None = None,
    lang: str | None = "en",
    entity_types: tuple[str, ...] = ENTITY_TYPES,
    mode: str = "gazetteer",
    weights: TaggerWeights | None = None,
    vocab: dict | None = None,
    char_vocab: dict | None = None,
    grammar_prior: bool | None = None,
    dp_free: bool = True,
) -> DataFrame:
    """The 100 TB inference hot path: ONE Arrow crossing from pages.

    ``dp_free=False`` forces the full Viterbi DP in gazetteer mode
    (bench instrumentation; see :func:`gazetteer_viterbi`).

    JVM side does only the lang filter + projection (column pruning
    reaches the scan); python does everything row-local — line split,
    tokenize, gazetteer match, CRF Viterbi, BIOES span scan, and
    in-sentence mention-pair generation (between-phrase included) — and
    emits narrow columns (no token arrays, no tag arrays cross back).

    Downstream, mentions = the kind=0 rows and triples = the kind=1 rows
    with a lexicon lookup on the between-phrase: the whole pipeline has
    no join and ZERO exchanges.
    Same semantics as tag_sentences→mentions_table→sentence_local_triples
    (asserted equivalent in tests).
    """
    bc = pages.sparkSession.sparkContext.broadcast(_tagger_payload(
        mode, entity_types, aliases, weights, vocab, char_vocab,
        grammar_prior))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = bc.value

        # memoized per distinct sentence: a repeat replays the cached
        # (mentions, pairs) template under its own (url, sent_id)
        def templates(keys: list[tuple]) -> list[tuple]:
            return [_sentence_template(toks, tags) for toks, tags
                    in zip(keys, _decode_tags(v, keys, dp_free))]

        memo: dict[tuple, tuple] = {}
        for pdf in batches:
            urls, sids, keys = [], [], []
            for url, text in zip(pdf["url"], pdf["text"]):
                for sent_id, toks in page_sentences(text):
                    urls.append(url)
                    sids.append(sent_id)
                    keys.append(tuple(toks))
            if not keys:
                continue
            out = {k: [] for k in ("url", "sent_id", "kind", "a", "b", "c",
                                   "type_a", "type_b", "surf_a", "surf_b",
                                   "between")}
            app = {k: out[k].append for k in out}
            for url, sid, (ments, prs) in zip(
                    urls, sids, _memoized(memo, keys, templates)):
                for mid, st, en, tt, surf in ments:
                    app["url"](url); app["sent_id"](sid); app["kind"](0)
                    app["a"](mid); app["b"](st); app["c"](en)
                    app["type_a"](tt); app["type_b"](None)
                    app["surf_a"](surf); app["surf_b"](None)
                    app["between"](None)
                for i, j, gap, ta, tb, sa, sb, btw in prs:
                    app["url"](url); app["sent_id"](sid); app["kind"](1)
                    app["a"](i); app["b"](j); app["c"](gap)
                    app["type_a"](ta); app["type_b"](tb)
                    app["surf_a"](sa); app["surf_b"](sb)
                    app["between"](btw)
            # int columns as int32 ndarrays: pd.DataFrame over plain int
            # lists re-boxes per element (measured ~100 ms / 35k rows);
            # ndarray columns are zero-copy into the frame
            for col in ("sent_id", "kind", "a", "b", "c"):
                out[col] = np.asarray(out[col], dtype=np.int32)
            yield pd.DataFrame(out)

    df = pages
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return df.select("url", "text").mapInPandas(run, _FUSED_SCHEMA)


def fused_mentions(fused: DataFrame) -> DataFrame:
    """kind=0 rows → mentions table (same schema as mentions_table)."""
    return (
        fused.filter(F.col("kind") == 0)
        .select("url", "sent_id",
                F.col("a").alias("mention_id"),
                F.col("b").alias("start"),
                F.col("c").alias("end"),
                F.col("type_a").alias("tag_type"),
                F.col("surf_a").alias("surface"))
    )


def fused_triples(
    fused: DataFrame,
    predicate_lexicon: dict[str, str],
    cooccurrence_window: int | None = None,
) -> DataFrame:
    """pairs + lexicon lookup on the between-phrase → triples (no join,
    zero exchanges)."""
    pairs = (
        fused.filter(F.col("kind") == 1)
        .select(
            "url", "sent_id",
            F.col("a").alias("subj_mention_id"),
            F.col("b").alias("obj_mention_id"),
            F.col("surf_a").alias("subj_surface"),
            F.col("type_a").alias("subj_type"),
            F.col("surf_b").alias("obj_surface"),
            F.col("type_b").alias("obj_type"),
            F.col("c").alias("gap"),
            lexicon_lookup(F.col("between"), predicate_lexicon).alias("pred"),
        )
    )
    result = pairs.filter(F.col("pred").isNotNull()).select(*TRIPLE_COLS)
    if cooccurrence_window is not None:
        coocc = (
            pairs.filter(F.col("pred").isNull()
                         & (F.col("gap") <= cooccurrence_window))
            .withColumn("pred", F.lit("cooccurs_with"))
            .select(*TRIPLE_COLS)
        )
        result = result.unionByName(coocc)
    return result


# ------------------------------------------------- physical helpers


def repartition_by_length(sentences: DataFrame, partitions: int | None = None) -> DataFrame:
    """O1 — sort-by-length batching (loader.py:239, eval.py:122): hash-
    partition on the token sequence and sort by token count within each
    partition, so Arrow batches hold similar-length sentences and the
    tagger's task-lifetime memo sees every copy of a repeated sentence.
    Purely physical; no semantic effect (the fused/tagged outputs are
    row-keyed, never order-dependent)."""
    n = partitions or sentences.sparkSession.sparkContext.defaultParallelism
    # hash-partition on the TOKEN SEQUENCE, then sort by length inside
    # each partition. This keeps the property the stage actually needs —
    # Arrow batches of similar-length sentences (the within-partition
    # sort) — while fixing two costs of the previous
    # repartitionByRange((_len, row-hash)) form:
    #   * range partitioning runs a SAMPLING JOB over the input before
    #     every action to estimate bounds; hash partitioning doesn't;
    #   * hashing the token array co-locates every COPY of a repeated
    #     sentence in one partition (web corpora repeat sentences
    #     heavily), which is exactly what the tagger's task-lifetime
    #     decode memo wants — the range form split a length class
    #     across partition boundaries.
    # Balance: keys are full token sequences (high cardinality), so n
    # near-equal partitions (regression-tested); deterministic.
    return (
        sentences.repartition(n, F.hash("tokens"))
        .sortWithinPartitions(F.desc(F.size("tokens")))
    )
