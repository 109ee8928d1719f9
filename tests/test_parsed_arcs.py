"""Golden tests for parsed_arc_triples — the C6 completion path.

The fixtures are HAND-PARSED CoNLL-U-style arcs (id 1-based, head 0 =
root), standing in for real UDPipe output the way the reference's
pyconll walk consumes it (/root/reference/dependency_paraphraser/
udpipe.py:63-102). The parser-free fallback (verb_arc_triples) is
covered in test_golden_triples.py and stays unchanged.
"""

import pytest

from ner_pytorch_spark.operators.triples import parsed_arc_triples

ARC_SCHEMA = ("url string, sent_id int, tokens array<string>, "
              "pred_tags array<string>, "
              "arcs array<struct<id:int,head:int,deprel:string,upos:string>>")


def _arc(i, head, rel, upos="NOUN"):
    return {"id": i, "head": head, "deprel": rel, "upos": upos}


@pytest.fixture()
def parsed_df(spark):
    rows = [
        # "Ada Lovelace founded Acme Corp in London"
        # nsubj(founded, Ada); obj(founded, Corp); obl(founded, London)
        ("u1", 0,
         ["Ada", "Lovelace", "founded", "Acme", "Corp", "in", "London"],
         ["B-PER", "E-PER", "O", "B-ORG", "E-ORG", "O", "S-LOC"],
         [_arc(1, 3, "nsubj", "PROPN"), _arc(2, 1, "flat", "PROPN"),
          _arc(3, 0, "root", "VERB"), _arc(4, 5, "compound", "PROPN"),
          _arc(5, 3, "obj", "PROPN"), _arc(6, 7, "case", "ADP"),
          _arc(7, 3, "obl", "PROPN")]),
        # "The prize was won by Marie Curie" — nsubj:pass token is NOT
        # inside any mention → no subject → no triple
        ("u1", 1,
         ["The", "prize", "was", "won", "by", "Marie", "Curie"],
         ["O", "O", "O", "O", "O", "B-PER", "E-PER"],
         [_arc(1, 2, "det", "DET"), _arc(2, 4, "nsubj:pass"),
          _arc(3, 4, "aux", "AUX"), _arc(4, 0, "root", "VERB"),
          _arc(5, 6, "case", "ADP"), _arc(6, 4, "obl", "PROPN"),
          _arc(7, 6, "flat", "PROPN")]),
        # "Acme Corp was acquired by Globex" — passive subject IS a
        # mention; agent mention via obl
        ("u2", 0,
         ["Acme", "Corp", "was", "acquired", "by", "Globex"],
         ["B-ORG", "E-ORG", "O", "O", "O", "S-ORG"],
         [_arc(1, 4, "nsubj:pass", "PROPN"), _arc(2, 1, "flat", "PROPN"),
          _arc(3, 4, "aux", "AUX"), _arc(4, 0, "root", "VERB"),
          _arc(5, 6, "case", "ADP"), _arc(6, 4, "obl", "PROPN")]),
    ]
    return spark.createDataFrame(rows, ARC_SCHEMA)


def test_parsed_arc_goldens_with_lexicon(parsed_df):
    got = {
        (r.url, r.sent_id, r.subj_surface, r.pred, r.obj_surface,
         r.subj_type, r.obj_type)
        for r in parsed_arc_triples(
            parsed_df, verb_lexicon={"founded": "founder_of"}).collect()
    }
    assert got == {
        ("u1", 0, "Ada Lovelace", "founder_of", "Acme Corp", "PER", "ORG"),
        ("u1", 0, "Ada Lovelace", "founder_of", "London", "PER", "LOC"),
        # no lexicon entry for "acquired" → lowercased verb form
        ("u2", 0, "Acme Corp", "acquired", "Globex", "ORG", "ORG"),
    }


def test_parsed_arc_no_lexicon_uses_verb_form(parsed_df):
    preds = {r.pred for r in parsed_arc_triples(parsed_df).collect()}
    assert preds == {"founded", "acquired"}


def test_parsed_arc_mention_ids_and_dedup(parsed_df):
    rows = parsed_arc_triples(
        parsed_df, verb_lexicon={"founded": "founder_of"}).collect()
    by_key = {(r.url, r.sent_id, r.obj_surface): r for r in rows}
    r = by_key[("u1", 0, "Acme Corp")]
    assert (r.subj_mention_id, r.obj_mention_id) == (0, 1)
    r = by_key[("u1", 0, "London")]
    assert (r.subj_mention_id, r.obj_mention_id) == (0, 2)
    # exactly one row per (url, sent, subj, obj, pred)
    keys = [(r.url, r.sent_id, r.subj_mention_id, r.obj_mention_id, r.pred)
            for r in rows]
    assert len(keys) == len(set(keys))


@pytest.fixture()
def conj_df(spark):
    rows = [
        # "Alice founded Acme and acquired Beta" — conjoined VERBS:
        # acquired (conj→founded) has no own subject → inherits Alice
        ("c1", 0,
         ["Alice", "founded", "Acme", "and", "acquired", "Beta"],
         ["S-PER", "O", "S-ORG", "O", "O", "S-ORG"],
         [_arc(1, 2, "nsubj", "PROPN"), _arc(2, 0, "root", "VERB"),
          _arc(3, 2, "obj", "PROPN"), _arc(4, 5, "cc", "CCONJ"),
          _arc(5, 2, "conj", "VERB"), _arc(6, 5, "obj", "PROPN")]),
        # "Alice founded Acme and Beta" — conjoined OBJECTS (UD: Beta
        # heads at the first conjunct Acme)
        ("c2", 0,
         ["Alice", "founded", "Acme", "and", "Beta"],
         ["S-PER", "O", "S-ORG", "O", "S-ORG"],
         [_arc(1, 2, "nsubj", "PROPN"), _arc(2, 0, "root", "VERB"),
          _arc(3, 2, "obj", "PROPN"), _arc(4, 5, "cc", "CCONJ"),
          _arc(5, 3, "conj", "PROPN")]),
        # "Alice and Bob founded Acme" — conjoined SUBJECTS
        ("c3", 0,
         ["Alice", "and", "Bob", "founded", "Acme"],
         ["S-PER", "O", "S-PER", "O", "S-ORG"],
         [_arc(1, 4, "nsubj", "PROPN"), _arc(2, 3, "cc", "CCONJ"),
          _arc(3, 1, "conj", "PROPN"), _arc(4, 0, "root", "VERB"),
          _arc(5, 4, "obj", "PROPN")]),
        # "Alice founded Acme and Bob acquired Beta" — the second
        # conjunct has its OWN subject → inherits nothing
        ("c4", 0,
         ["Alice", "founded", "Acme", "and", "Bob", "acquired", "Beta"],
         ["S-PER", "O", "S-ORG", "O", "S-PER", "O", "S-ORG"],
         [_arc(1, 2, "nsubj", "PROPN"), _arc(2, 0, "root", "VERB"),
          _arc(3, 2, "obj", "PROPN"), _arc(4, 6, "cc", "CCONJ"),
          _arc(5, 6, "nsubj", "PROPN"), _arc(6, 2, "conj", "VERB"),
          _arc(7, 6, "obj", "PROPN")]),
    ]
    return spark.createDataFrame(rows, ARC_SCHEMA)


def test_conj_propagation_off_is_unchanged(conj_df):
    got = {(r.url, r.subj_surface, r.pred, r.obj_surface)
           for r in parsed_arc_triples(conj_df).collect()}
    assert got == {
        ("c1", "Alice", "founded", "Acme"),
        ("c2", "Alice", "founded", "Acme"),
        ("c3", "Alice", "founded", "Acme"),
        ("c4", "Alice", "founded", "Acme"),
        ("c4", "Bob", "acquired", "Beta"),
    }


def test_conj_propagation_goldens(conj_df):
    got = {(r.url, r.subj_surface, r.pred, r.obj_surface)
           for r in parsed_arc_triples(conj_df,
                                       conj_propagate=True).collect()}
    assert got == {
        # verb conj: subject distributes over the conjoined verb
        ("c1", "Alice", "founded", "Acme"),
        ("c1", "Alice", "acquired", "Beta"),
        # object conj: both conjuncts are objects
        ("c2", "Alice", "founded", "Acme"),
        ("c2", "Alice", "founded", "Beta"),
        # subject conj: both conjuncts are subjects
        ("c3", "Alice", "founded", "Acme"),
        ("c3", "Bob", "founded", "Acme"),
        # own subject wins — no cross-inheritance
        ("c4", "Alice", "founded", "Acme"),
        ("c4", "Bob", "acquired", "Beta"),
    }


def test_conj_propagation_keeps_plan_shape(conj_df):
    plan = (parsed_arc_triples(conj_df, verb_lexicon={"founded": "x"},
                               conj_propagate=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "SortMergeJoin" not in plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 1, plan


def test_parsed_arc_plan_shape(parsed_df):
    """All arc/mention resolution is row-local: the verb lexicon is a
    literal-map lookup (no join of any kind) and the only exchange in
    the plan is the final dropDuplicates over the (tiny) emitted
    triples — same shape as verb_arc_triples."""
    plan = (parsed_arc_triples(parsed_df, verb_lexicon={"founded": "x"})
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan, plan
    assert "element_at(map(keys: [founded]" in plan, plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 1, plan
