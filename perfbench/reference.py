"""Independent reference results for the benchmark's output check.

Each op's reference is its DuckDB oracle SQL (``registry.ORACLE``) run over
the same seeded tables the program reads, never an earlier Spark result.
DuckDB evaluates a recursive closure by growing every path, which takes
minutes on the full sf0.1 event and near-duplicate graphs, so for the ops in
``CLOSURES`` the recursive CTE is cut out of the oracle text and replaced by
a table computed in Python with union-find or BFS over the oracle's own
non-recursive edge CTE. References are cached per seed.
"""

from __future__ import annotations

import json
import math
import os
import re
from collections import defaultdict, deque

import duckdb
import pandas as pd

from make_base import TABLES

# op -> (recursive CTE, closure kind, edge relation, source col, target col).
#   components: b is reachable from the base row's node over undirected edges
#   distances:  the BFS distance to each reachable node; the oracles only
#               read MIN(d), so the shortest distance is the only row needed
CLOSURES = {
    "q22_connected_components": ("reach", "components", "sym", "u", "v"),
    "q111_shortest_paths": ("paths", "distances", "sym", "u", "v"),
    "q264_standing_labels_report": ("reach", "components", "sym", "u", "v"),
    "q265_incremental_cluster_maintenance": ("reach", "components", "sym", "u", "v"),
}


def _matching_paren(text: str, open_at: int) -> int:
    depth = 0
    for i in range(open_at, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced parentheses in oracle SQL")


def _split_union(body: str) -> tuple[str, str]:
    """Split a recursive CTE body at its top-level ``UNION``."""
    depth = 0
    for m in re.finditer(r"[()]|\bUNION\b", body):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return body[: m.start()], body[m.end():]
    raise ValueError("recursive CTE has no top-level UNION")


def split_recursive(sql: str, cte: str) -> tuple[str, list[str], str, str, str]:
    """Cut ``cte`` out of ``sql``.

    Returns ``(prefix, columns, base, step, rest)``: the WITH clause before the
    CTE, the CTE's column names, its base and recursive SELECTs, and the SQL
    with the CTE removed (which then reads a table of the same name)."""
    m = re.search(rf"\b{cte}\s*\(([^)]*)\)\s*AS\s*\(", sql)
    if m is None:
        raise ValueError(f"oracle has no recursive CTE {cte!r}")
    close = _matching_paren(sql, m.end() - 1)
    base, step = _split_union(sql[m.end(): close])
    prefix = sql[: m.start()].rstrip()
    if not prefix.endswith(","):
        raise ValueError(f"CTE {cte!r} is not preceded by the CTEs it reads")
    prefix = prefix[:-1]
    tail = sql[close + 1:].lstrip()
    rest = prefix + (",\n" + tail[1:] if tail.startswith(",") else "\n" + tail)
    columns = [c.strip() for c in m.group(1).split(",")]
    return prefix, columns, base, step, rest


def _components(edges) -> dict:
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    members: dict = defaultdict(list)
    for x in list(parent):
        members[find(x)].append(x)
    return {x: members[find(x)] for x in parent}


def _bfs(adj: dict, start) -> dict:
    dist = {start: 0}
    queue = deque([start])
    while queue:
        x = queue.popleft()
        for y in adj.get(x, ()):
            if y not in dist:
                dist[y] = dist[x] + 1
                queue.append(y)
    return dist


def propagation_rounds(edges) -> int:
    """Rounds of synchronous min-label propagation that change a label: the
    iterations a label-propagation connected components needs on ``edges``
    before the round that finds the fixpoint."""
    adj: dict = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    label = {x: x for x in adj}
    rounds = 0
    while True:
        new = {x: min(label[x], *(label[y] for y in nbrs)) for x, nbrs in adj.items()}
        if new == label:
            return rounds
        label = new
        rounds += 1


def close_relation(kind: str, base_rows, edges) -> list[tuple]:
    """Evaluate a recursive CTE from its base rows and edge list."""
    if kind == "components":
        comp = _components(edges)
        return [(a, b) for a, b0 in base_rows for b in comp.get(b0, [b0])]
    if kind != "distances":
        raise ValueError(f"unknown closure kind {kind!r}")
    adj: dict = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
    memo: dict = {}
    out = []
    for row in base_rows:
        start = row[1]
        if start not in memo:
            memo[start] = _bfs(adj, start)
        out.extend((row[0], b, row[2] + d) for b, d in memo[start].items())
    return out


def oracle_frame(con, sql: str, op: str, stats: dict | None = None) -> pd.DataFrame:
    """Run ``op``'s oracle on ``con``, closing its recursive CTE if listed.

    For a components closure, ``stats`` (if given) receives the edge graph's
    size, its largest component and its ``propagation_rounds``."""
    if op not in CLOSURES:
        return con.execute(sql).df()
    cte, kind, edge, src, dst = CLOSURES[op]
    prefix, columns, base, step, rest = split_recursive(sql, cte)
    if not re.search(rf"\bJOIN\s+{edge}\b", step):
        raise ValueError(f"{op}: recursive step no longer joins {edge!r}")
    base_rows = con.execute(f"{prefix}\nSELECT * FROM ({base}) AS _base").fetchall()
    edges = con.execute(f"{prefix}\nSELECT {src}, {dst} FROM {edge}").fetchall()
    if kind == "components" and stats is not None:
        sizes = [len(m) for m in _components(edges).values()]
        stats.update(edges=len(edges), largest_component=max(sizes, default=0),
                     propagation_rounds=propagation_rounds(edges))
    table = pd.DataFrame(close_relation(kind, base_rows, edges), columns=columns)
    con.register(cte, table)
    try:
        return con.execute(rest).df()
    finally:
        con.unregister(cte)


class References:
    """Per-seed reference results, computed on first use and cached on disk."""

    def __init__(self, sf_dir: str, oracles: dict, cache_dir: str):
        self.sf_dir = sf_dir
        self.oracles = oracles
        self.cache_dir = cache_dir
        self._con = None

    def _connection(self):
        if self._con is None:
            self._con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        return self._con

    def get(self, op: str) -> pd.DataFrame:
        path = os.path.join(self.cache_dir, f"{op}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if op not in self.oracles:
            raise KeyError(f"{op} has no oracle SQL; the benchmark cannot check it")
        stats: dict = {}
        frame = oracle_frame(self._connection(), self.oracles[op], op, stats)
        os.makedirs(self.cache_dir, exist_ok=True)
        if stats:
            with open(os.path.join(self.cache_dir, f"{op}.json"), "w") as fh:
                json.dump(stats, fh)
        tmp = f"{path}.tmp{os.getpid()}"
        frame.to_pickle(tmp)
        os.replace(tmp, path)
        return frame

    def closure_stats(self, op: str) -> dict | None:
        """The stats ``oracle_frame`` gave for ``op``'s closure, if any."""
        path = os.path.join(self.cache_dir, f"{op}.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    try:
        if pd.isna(v):
            return "<null>"
    except (TypeError, ValueError):
        pass  # arrays and structs: pd.isna is elementwise
    return repr(v) if isinstance(v, float) else str(v)


def canonical(frame: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive form: sorted columns, cells as text, rows sorted."""
    frame = frame.reindex(sorted(frame.columns), axis=1).map(_cell)
    return frame.sort_values(by=list(frame.columns), kind="mergesort").reset_index(
        drop=True
    )


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """Why ``actual`` differs from ``expected``, or None when they agree."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"rows {len(actual)} != {len(expected)}"
    if len(actual) == 0:
        return None
    a, e = canonical(actual), canonical(expected)
    if not a.equals(e):
        bad = int((a != e).any(axis=1).sum())
        return f"{bad} of {len(a)} rows differ"
    return None
