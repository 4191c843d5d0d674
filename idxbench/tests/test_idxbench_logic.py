"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest idxbench/tests -q
"""

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from idxbench import check, stats, trace, workload  # noqa: E402
from text_indexing_and_retrieval_system_spark.functions.normalize import (  # noqa: E402
    DEFAULT_CONFIG,
)


def ulps(x: float, n: int) -> float:
    for _ in range(abs(n)):
        x = math.nextafter(x, math.inf if n > 0 else -math.inf)
    return x


# ----------------------------------------------------------- tail rule


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, label, n = stats.tail(xs)
    assert n == 100
    assert value == 90  # 91..100 lie beyond
    assert sum(x > value for x in xs) == 10
    assert label == "p90.0"


def test_tail_label_tracks_sample_count():
    value, label, n = stats.tail(range(1, 41))
    assert (value, label, n) == (30, "p75.0", 40)


def test_tail_falls_back_to_max_when_too_few_samples():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, "max", 3)
    assert stats.tail(range(10)) == (9, "max", 10)
    # eleven samples: exactly ten beyond the smallest
    assert stats.tail(range(11))[0] == 0


# ------------------------------------------------------- tie-aware gate


def ranking(*pairs):
    return [(d, float(s)) for d, s in pairs]


EXPECTED = ranking(("a", 3.0), ("b", 2.5), ("c", 2.0), ("d", 2.0), ("e", 1.0), ("f", 1.0), ("g", 0.5))


def test_identical_answer_is_exact():
    v = check.compare(["a", "b", "c"], [3.0, 2.5, 2.0], EXPECTED, k=3)
    assert v.ok and v.exact


def test_two_ulp_drift_passes_but_is_inexact():
    scores = [ulps(3.0, 2), 2.5, ulps(2.0, -2)]
    v = check.compare(["a", "b", "c"], scores, EXPECTED, k=3)
    assert v.ok and not v.exact


def test_permutation_inside_a_tie_group_passes():
    v = check.compare(["a", "b", "d", "c"], [3.0, 2.5, 2.0, 2.0], EXPECTED, k=4)
    assert v.ok and not v.exact


def test_tie_group_at_rank_k_may_swap_in_a_doc_beyond_k():
    # rank k=5 holds 'e'; 'f' ties with it and sits just past the cut
    v = check.compare(["a", "b", "c", "d", "f"], [3.0, 2.5, 2.0, 2.0, 1.0], EXPECTED, k=5)
    assert v.ok


def test_near_ties_within_tolerance_form_one_group():
    exp = ranking(("x", ulps(1.0, 1)), ("y", 1.0), ("z", 0.5))
    v = check.compare(["y", "x"], [ulps(1.0, 1), 1.0], exp, k=2)
    assert v.ok and not v.exact


def test_swapped_docs_with_distinct_scores_fail():
    v = check.compare(["b", "a", "c"], [3.0, 2.5, 2.0], EXPECTED, k=3)
    assert not v.ok


def test_score_off_by_1e9_fails():
    v = check.compare(["a", "b", "c"], [3.0, 2.5 * (1 + 1e-9), 2.0], EXPECTED, k=3)
    assert not v.ok


def test_wrong_length_and_foreign_doc_fail():
    assert not check.compare(["a", "b"], [3.0, 2.5], EXPECTED, k=3).ok
    assert not check.compare(["a", "b", "zz"], [3.0, 2.5, 2.0], EXPECTED, k=3).ok
    assert not check.compare(["a", "b", "b"], [3.0, 2.5, 2.5], EXPECTED, k=3).ok


def test_cut_keeps_the_whole_tie_group_at_rank_k():
    assert check.through_rank_k_group(EXPECTED, 5) == EXPECTED[:6]
    assert check.through_rank_k_group(EXPECTED, 2) == EXPECTED[:2]
    assert check.through_rank_k_group(EXPECTED, 10) == EXPECTED


def test_batch_expectation_is_the_disjunction_of_scoring_terms():
    q = '("ab" AND "cd") OR ("ef" AND NOT "gh") OR "ab"'
    assert check.disjunction_of(q) == '"ab" OR "cd" OR "ef" OR "ab"'


# ------------------------------------------------------ span self time


def span(layer, t0, t1, *children):
    s = trace.Span(layer, t0, t1)
    s.children.extend(children)
    return s


def test_self_time_without_children_is_the_duration():
    assert trace.self_time(span("x", 1.0, 4.0)) == 3.0


def test_self_time_counts_overlapping_children_once():
    root = span("op", 0.0, 10.0, span("a", 1.0, 4.0), span("b", 3.0, 6.0), span("c", 8.0, 9.0))
    # children cover [1, 6] and [8, 9]: 6 of 10 seconds
    assert trace.self_time(root) == 4.0


def test_self_time_clips_children_to_the_parent():
    root = span("op", 2.0, 6.0, span("a", 0.0, 3.0), span("b", 5.0, 9.0))
    assert trace.self_time(root) == 2.0


def test_layer_self_times_add_up_to_the_root_span():
    inner = span("codec", 2.0, 3.0)
    root = span(trace.UNCLAIMED, 0.0, 10.0, span("wand", 1.0, 5.0, inner), span("spark", 4.0, 7.0))
    got = trace.layer_self_times(root)
    # the root's self time is the part no layer claimed: [0, 1] and [7, 10]
    assert got == {trace.UNCLAIMED: 4.0, "wand": 3.0, "codec": 1.0, "spark": 3.0}
    # overlapping siblings make the sum exceed the root's wall, by the overlap
    assert sum(got.values()) == 11.0


def test_recorder_nests_and_toggles():
    rec = trace.Recorder()

    class Owner:
        @staticmethod
        def work():
            return 7

    trace.wrap(rec, Owner, "work", "layer")
    assert Owner.work() == 7 and rec.ops == []  # inactive: no spans
    rec.begin_op(trace.UNCLAIMED)
    assert Owner.work() == 7
    root = rec.end_op()
    assert [c.layer for c in root.children] == ["layer"]
    assert root.t0 <= root.children[0].t0 <= root.children[0].t1 <= root.t1


# ------------------------------------------------------- determinism


def test_corpus_and_digest_are_seed_deterministic():
    a = workload.make_corpus(300, seed=5)
    b = workload.make_corpus(300, seed=5)
    c = workload.make_corpus(300, seed=6)
    assert workload.corpus_digest(a) == workload.corpus_digest(b)
    assert workload.corpus_digest(a) != workload.corpus_digest(c)
    assert len(a) == len(c) == 300  # the turn count is fixed, not the content
    assert not a.duplicated(["conv_id", "turn_idx"]).any()
    appended = workload.make_corpus(50, seed=5, first_conv=a["conv_id"].nunique())
    assert not set(appended["conv_id"]) & set(a["conv_id"])


def test_query_streams_are_seed_deterministic():
    pools = {"H": [f"h{i}" for i in range(20)], "M": [f"m{i}" for i in range(50)],
             "L": [f"l{i}" for i in range(80)]}
    corpus = workload.make_corpus(200, seed=3)

    def draw(seed):
        shapes = workload.queries_by_shape(pools, 5, seed)
        phrases = workload.phrase_queries(corpus, 4, seed, DEFAULT_CONFIG)
        s = workload.InteractiveStream(shapes, phrases, seed)
        batch = workload.BatchStream(pools, seed, size=16)
        return [s.next() for _ in range(50)], [batch.next() for _ in range(2)]

    assert draw(1) == draw(1)
    assert draw(1) != draw(2)
    singles, batches = draw(1)
    assert all(q.startswith("PHRASE") == (i % 8 == 7) for i, q in enumerate(singles))
    assert all(singles[i] in shapes for i, shapes in zip(range(0, 7), workload.queries_by_shape(pools, 5, 1)))
    assert len(singles) > len(set(singles))  # Zipf repeats
    assert all(len(set(b)) == 16 for b in batches)
    assert batches[0] != batches[1]  # fresh draws per batch
