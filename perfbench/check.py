"""Output checks, run once per run outside the timed window.

Declared queries are compared with their DuckDB oracle from
``pipz_spark.queries`` through ``tools/check_correctness.py``'s own
comparison (type gate, value compare, and the pair-graph gate for the
cluster queries at any scale but sf0.01). Depth-sweep outputs
are compared with a plain-Python replay of the same recurrence over
the collected edge list.
"""

from __future__ import annotations

import importlib.util
import os
import sys
from collections import Counter, defaultdict


def load_check_correctness(root: str):
    """Import tools/check_correctness.py from the checkout without
    letting its import-time sys.path edit leak into this process."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "check_correctness", os.path.join(root, "tools", "check_correctness.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class OracleChecker:
    """DuckDB views over the input tables, and the comparisons of
    ``cc``, the loaded tools/check_correctness.py module."""

    def __init__(self, cc, sf_dir: str) -> None:
        import duckdb

        from pipz_spark.sources.catalog import TABLES

        self.cc = cc
        self.sf_dir = sf_dir
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
            )

    def close(self) -> None:
        self.con.close()

    def issues(self, name: str, pdf, schema) -> list[str]:
        """Mismatches of a collected declared-query result; [] if none.
        A query without an oracle gets the rows-only check: it must
        have produced a frame."""
        from pipz_spark.queries import CLUSTER_PAIR_META, CLUSTER_PAIR_ORACLES, QUERIES
        from pipz_spark.testing.oracle import relation_type_issues

        if name in CLUSTER_PAIR_ORACLES and not self.sf_dir.rstrip("/").endswith("sf0.01"):
            tbl, idc = CLUSTER_PAIR_META.get(name, ("documents", "doc_id"))
            return self.cc.check_clusters_via_pairs(
                name, pdf, self.con, CLUSTER_PAIR_ORACLES[name], tbl, idc
            )
        oracle = QUERIES[name].oracle
        if oracle is None:
            return []
        rel = self.con.sql(oracle)
        return relation_type_issues(rel, schema) + self.cc.compare(name, pdf, rel.df())


def pagerank_ref(
    edges: list[tuple[int, int]],
    rounds: int,
    init_q: int = 1_000_000_000_000,
    damping: tuple[int, int] = (17, 20),
) -> dict[int, tuple[int, int]]:
    """node -> (rank_q, outdeg) after ``rounds`` damped iterations of
    the integer PageRank recurrence ``pagerank`` implements: every
    node starts at init_q; each round a node receives, per in-edge,
    its source's rank DIV the source's out-degree, and keeps
    init_q*(den-num) DIV den + (received*num) DIV den."""
    num, den = damping
    base = init_q * (den - num) // den
    outdeg = Counter(s for s, _ in edges)
    nodes = {n for e in edges for n in e}
    rank = dict.fromkeys(nodes, init_q)
    for _ in range(rounds):
        got = defaultdict(int)
        for s, d in edges:
            got[d] += rank[s] // outdeg[s]
        rank = {n: base + (got[n] * num) // den for n in nodes}
    return {n: (rank[n], outdeg.get(n, 0)) for n in nodes}


def label_propagation_ref(pairs: list[tuple[str, str]], rounds: int) -> dict[str, str]:
    """node -> label after ``rounds`` synchronous label-propagation
    rounds over the symmetrized edge list: each node takes the most
    frequent label among its neighbours' labels plus its own, ties to
    the smallest label."""
    edges = pairs + [(d, s) for s, d in pairs]
    label = {s: s for s, _ in edges}
    into = defaultdict(list)
    for s, d in edges:
        into[d].append(s)
    for _ in range(rounds):
        nxt = {}
        for n in label:
            votes = Counter(label[s] for s in into[n])
            votes[label[n]] += 1
            nxt[n] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        label = nxt
    return label


def sweep_issues(fn: str, rounds: int, pdf, edges: list[tuple]) -> list[str]:
    """Mismatches of a depth-sweep output against the reference."""
    if fn == "pagerank":
        want = pagerank_ref(edges, rounds)
        got = {r.node: (r.rank_q, r.outdeg) for r in pdf.itertuples(index=False)}
    else:
        want = label_propagation_ref(edges, rounds)
        got = {r.node: r.label for r in pdf.itertuples(index=False)}
    if len(got) != len(pdf):
        return [f"{fn}@{rounds}: duplicate nodes in the output"]
    if got.keys() != want.keys():
        return [f"{fn}@{rounds}: node set differs ({len(got)} vs {len(want)} nodes)"]
    bad = [n for n in want if got[n] != want[n]]
    return [f"{fn}@{rounds}: node {n}: got {got[n]!r}, want {want[n]!r}" for n in bad[:5]]
