"""Random property test of ``graph.label_propagation`` against a small
pure-Python model of its synchronous rounds.

The model is the trajectory the oracle SQL replays:

* the directed (src, dst) edges are read both ways, so every edge votes
  for each endpoint's label at the other endpoint (multi-edges and
  self-loops vote once per direction);
* every node starts with its own id as its label;
* each round every node takes, at once, the label with the most votes
  among its neighbors (one per edge), ties to the smallest label;
* the output is (node, community, n_members), n_members the number of
  nodes ending with that label.

Draws are random small graphs with repeated edges, plus a star (its
leaves tie at the hub) and isolated pairs (the two nodes swap labels
every round).
"""

from __future__ import annotations

from collections import Counter, defaultdict

from hypothesis import Phase, example, given, settings
from hypothesis import strategies as st

from espkinesis_spark.functions import graph

# no shrink phase: every shrink step is a Spark job
_NO_SHRINK = (Phase.explicit, Phase.reuse, Phase.generate)


def _lpa(edges, iters):
    votes_at = defaultdict(list)  # node -> [neighbor, one per edge]
    for u, v in edges:
        votes_at[v].append(u)
        votes_at[u].append(v)
    labels = {n: n for n in votes_at}
    for _ in range(iters):
        new = {}
        for n, votes in votes_at.items():
            tally = defaultdict(int)
            for u in votes:
                tally[labels[u]] += 1
            new[n] = min(tally, key=lambda lab: (-tally[lab], lab))
        labels = new
    sizes = Counter(labels.values())
    return {(n, lab, sizes[lab]) for n, lab in labels.items()}


_edge = st.tuples(st.integers(0, 9), st.integers(0, 9))


def test_label_propagation_matches_python_model(spark):
    seen = set()

    @settings(max_examples=8, deadline=None, phases=_NO_SHRINK)
    @given(st.lists(_edge, min_size=1, max_size=14), st.integers(0, 4))
    # a star on hub 5 with leaves 1, 2, 3 and 8, and the isolated pairs
    # 0-9 and 4-6: in round 1 the hub's four votes tie (to leaf 1) and the
    # leaves take the hub's 5; from then on the hub and its leaves swap
    # labels every round, as each pair does
    @example([(5, 1), (5, 2), (3, 5), (8, 5), (0, 9), (4, 6)], 3)
    # a repeated edge votes once per copy: node 2 takes label 3 (two
    # votes) over label 1, which would win a tie
    @example([(3, 2), (3, 2), (1, 2)], 1)
    def run(edges, iters):
        df = spark.createDataFrame(edges, "src long, dst long")
        got = graph.label_propagation(df, iters).collect()
        assert {tuple(r) for r in got} == _lpa(edges, iters)

        degree = Counter(n for e in edges for n in e)
        pairs = {(u, v) for u, v in edges if u != v and degree[u] == degree[v] == 1}
        if pairs and iters % 2:
            seen.add("isolated pair swaps")
        if any(d >= 3 for d in degree.values()) and iters:
            seen.add("node with three or more votes")
        if len(set(edges)) < len(edges):
            seen.add("repeated edge")

    run()
    assert seen == {"isolated pair swaps", "node with three or more votes", "repeated edge"}
