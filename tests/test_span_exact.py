"""Differential parity for the supershingle span pass: a driver-side
window index + difflib (tests/oracle.span_runs_oracle) is the executable
oracle for the anchored supershingle equi-join
(operators/neardup.span_pairs). The window index finds every pair sharing
a span >= span_min_tokens and difflib is an exact longest-common-run
check, so on an uncapped corpus the two pair SETS must be identical;
span_tokens must agree for single-span pairs and the supershingle count
may only exceed difflib (total shared content vs longest single run) when
a pair shares several disjoint spans."""

from __future__ import annotations

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.corpus import generate_transcripts
from fast_duplicate_finder_spark.operators.neardup import (
    near_dup_features,
    span_pairs,
)
from fast_duplicate_finder_spark.sources.transcripts import (
    assemble_conversations,
)

from tests.oracle import span_runs_oracle

CFG = PipelineConfig()


def _difflib_span_pairs(docs):
    local = {r["conv_id"]: r["doc"] for r in docs.collect()}
    return span_runs_oracle(local, CFG.span_min_tokens)


def test_supershingle_span_matches_difflib_oracle(spark):
    t = generate_transcripts(spark, n_convs=300, seed=42)

    new_pairs, overflow = span_pairs(
        near_dup_features(assemble_conversations(t), CFG), CFG
    )
    new = {
        (r["conv_id_a"], r["conv_id_b"]): r["span_tokens"]
        for r in new_pairs.collect()
    }
    old = _difflib_span_pairs(assemble_conversations(t))
    assert overflow.count() == 0  # no capped buckets: sets must be equal
    assert set(new) == set(old), (
        sorted(set(new) - set(old))[:5],
        sorted(set(old) - set(new))[:5],
    )
    assert len(new) > 0
    for pair, st in new.items():
        # equal for single shared spans; supershingle counts total shared
        # content, so on THIS corpus it can only exceed difflib's longest
        # single run. (Not an invariant in general: a span that internally
        # repeats identical windows collapses to fewer DISTINCT
        # supershingles and would undercount — the 200-word random
        # vocabulary cannot produce a repeated 38-gram window, so the
        # lower-bound case is unreachable here. See span_pairs docstring.)
        assert st >= old[pair], (pair, st, old[pair])
    # exact-duplicate families share their whole document: single span
    exact = [p for p in new if new[p] == old[p]]
    assert len(exact) >= len(new) // 2


def test_longest_run_matches_difflib_planted(spark):
    """q_span_longest_run is EXACT (== difflib's longest matching block)
    in the two cases where span_exact_pairs's distinct-supershingle count
    is only an estimate: an internally repetitive shared span (distinct
    collapses to one window -> undercount) and multiple disjoint shared
    spans (distinct sums them -> overcount)."""
    import difflib

    from fast_duplicate_finder_spark.queries import (
        _SPAN_TOKENS,
        _span_occ,
        _span_runs_from_occ,
    )

    W = _SPAN_TOKENS  # 40
    base = [f"w{i}" for i in range(300)]
    docs = {
        1: base,
        # single 100-token shared span
        2: [f"x{i}" for i in range(40)]
        + base[50:150]
        + [f"y{i}" for i in range(40)],
        # internally repetitive shared span: 60 identical tokens
        3: [f"p{i}" for i in range(50)] + ["rep"] * 60
        + [f"q{i}" for i in range(50)],
        4: [f"r{i}" for i in range(50)] + ["rep"] * 60
        + [f"s{i}" for i in range(50)],
        # two DISJOINT 45-token shared spans, swapped order
        5: [f"a{i}" for i in range(45)] + [f"c{i}" for i in range(60)]
        + [f"b{i}" for i in range(45)],
        6: [f"b{i}" for i in range(45)] + [f"d{i}" for i in range(60)]
        + [f"a{i}" for i in range(45)],
    }
    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in docs.items()],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["longest_run_tokens"]
        for r in _span_runs_from_occ(
            _span_occ(df).localCheckpoint(eager=True)
        ).collect()
    }
    exp = {}
    for a in docs:
        for b in docs:
            if a < b:
                m = difflib.SequenceMatcher(
                    None, docs[a], docs[b], autojunk=False
                ).find_longest_match(0, len(docs[a]), 0, len(docs[b]))
                if m.size >= W:
                    exp[(a, b)] = m.size
    assert exp == {(1, 2): 100, (3, 4): 60, (5, 6): 45}  # pin the plant
    assert got == exp


def test_longest_run_matches_difflib_low_vocab_random(spark):
    """Adversarial differential: 24 seeded-random docs over a TWO-token
    vocabulary (maximal window repetition within and across docs), with
    shared slices planted between random pairs. Every qualifying pair's
    longest_run_tokens must equal difflib's longest matching block
    exactly — the regime where distinct-supershingle counting is most
    wrong and diagonal bookkeeping is most stressed."""
    import difflib
    import random

    from fast_duplicate_finder_spark.queries import (
        _SPAN_TOKENS,
        _span_occ,
        _span_runs_from_occ,
    )

    W = _SPAN_TOKENS
    rng = random.Random(1234)
    docs = {
        i: [rng.choice(("a", "b")) for _ in range(120)] for i in range(24)
    }
    # plant shared slices (some >= W, some just below) between pairs
    for a, b, ln in [(0, 1, 80), (2, 3, 41), (4, 5, 40), (6, 7, 39),
                     (8, 9, 60), (0, 9, 45), (10, 11, 100)]:
        seg = [rng.choice(("a", "b")) for _ in range(ln)]
        pa = rng.randrange(0, 120 - ln + 1)
        pb = rng.randrange(0, 120 - ln + 1)
        docs[a][pa:pa + ln] = seg
        docs[b][pb:pb + ln] = seg
    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in docs.items()],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["longest_run_tokens"]
        for r in _span_runs_from_occ(
            _span_occ(df).localCheckpoint(eager=True)
        ).collect()
    }
    exp = {}
    for a in docs:
        for b in docs:
            if a < b:
                m = difflib.SequenceMatcher(
                    None, docs[a], docs[b], autojunk=False
                ).find_longest_match(0, len(docs[a]), 0, len(docs[b]))
                if m.size >= W:
                    exp[(a, b)] = m.size
    assert len(exp) >= 6  # the planted >= W pairs (plants may overlap)
    assert got == exp
