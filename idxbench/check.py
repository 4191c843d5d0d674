"""The correctness gate: engine answers against `oracle.OracleIndex`.

The engine's contract is rank identity with the oracle; scores agree to
within `REL_TOL` relative. An answer passes when, rank by rank, its score
is within tolerance of the oracle's and its doc is the oracle's doc — or
another doc of the same *tie group* (oracle scores within tolerance of
each other), which may appear in any order, including the group that
straddles rank k. `exact` additionally requires bit-identical scores and
identical doc order: the gap between "passes" and "exact" is what the
`inexact_answers` count reports.
"""

from __future__ import annotations

from dataclasses import dataclass

from text_indexing_and_retrieval_system_spark.operators import query_parser as qp

REL_TOL = 1e-12


def close(a: float, b: float, tol: float = REL_TOL) -> bool:
    return abs(a - b) <= tol * max(abs(a), abs(b))


@dataclass(frozen=True)
class Verdict:
    ok: bool
    exact: bool
    reason: str = ""


def compare(
    docs: list[str],
    scores: list[float],
    expected: list[tuple[str, float]],
    k: int,
    tol: float = REL_TOL,
) -> Verdict:
    """`expected` is the oracle's ranking, cut no earlier than the end of
    the tie group that holds rank k (`through_rank_k_group`)."""
    want = expected[: min(k, len(expected))]
    exact = list(docs) == [d for d, _ in want] and list(scores) == [s for _, s in want]
    if exact:
        return Verdict(True, True)
    if len(docs) != len(want) or len(scores) != len(docs):
        return Verdict(False, False, f"{len(docs)} hits, oracle has {len(want)}")
    group_of = dict(zip((d for d, _ in expected), tie_groups(expected, tol)))
    oracle_score = dict(expected)
    seen: set[str] = set()
    for i, (d, s) in enumerate(zip(docs, scores)):
        if not close(s, want[i][1], tol):
            return Verdict(False, False, f"rank {i}: score {s!r} vs oracle {want[i][1]!r}")
        if d in seen:
            return Verdict(False, False, f"rank {i}: duplicate doc {d}")
        seen.add(d)
        if d not in group_of:
            return Verdict(False, False, f"rank {i}: doc {d} not an oracle hit")
        if group_of[d] != group_of[want[i][0]]:
            return Verdict(False, False, f"rank {i}: doc {d} outside the oracle's tie group")
        if not close(s, oracle_score[d], tol):
            return Verdict(False, False, f"rank {i}: doc {d} scored {s!r}, oracle {oracle_score[d]!r}")
    return Verdict(True, False)


def tie_groups(expected: list[tuple[str, float]], tol: float = REL_TOL) -> list[int]:
    """Group number of each rank: a group is a run of consecutive docs
    whose scores are all within tol of the run's first score."""
    out, lead = [], None
    for _, s in expected:
        if lead is None or not close(s, lead, tol):
            lead = s
            out.append(out[-1] + 1 if out else 0)
        else:
            out.append(out[-1])
    return out


def through_rank_k_group(expected: list[tuple[str, float]], k: int) -> list[tuple[str, float]]:
    """The ranking cut after the tie group that holds rank k."""
    if len(expected) <= k:
        return expected
    g = tie_groups(expected)
    end = k
    while end < len(expected) and g[end] == g[k - 1]:
        end += 1
    return expected[:end]


class Expectations:
    """Memoized oracle rankings for the two query shapes the benchmark
    sends. `search` answers `search_collect` (full boolean/phrase
    semantics). `disjunction` answers `search_batch`, whose contract is
    ranked retrieval over the query's scoring terms: the OR of the terms
    not under NOT, duplicates kept."""

    def __init__(self, oracle, k: int):
        self.oracle, self.k = oracle, k
        self._memo: dict[str, list[tuple[str, float]]] = {}

    def _ranked(self, query: str) -> list[tuple[str, float]]:
        if query not in self._memo:
            # ranked past k through the tie group at rank k
            full = self.oracle.search(query, k=self.oracle.n_docs)
            self._memo[query] = through_rank_k_group(full, self.k)
        return self._memo[query]

    def search(self, query: str) -> list[tuple[str, float]]:
        return self._ranked(query)

    def disjunction(self, query: str) -> list[tuple[str, float]]:
        return self._ranked(disjunction_of(query))


def disjunction_of(query: str) -> str:
    return " OR ".join(f'"{t}"' for t in qp.scoring_terms(qp.parse(query)))
