"""Reference computations for the benchmark's output checks.

Each function works on a plain edge list collected outside the timed region
and is written independently of the engine: numpy arrays for label
propagation, components and PageRank, DuckDB for triangles and the
registry's oracle SQL.
"""
import hashlib
import json
import os

import duckdb
import numpy as np
import pyarrow as pa

# PageRank outputs are doubles summed in a different order by each engine;
# they must agree to this relative tolerance, per vertex.
PAGERANK_RTOL = 1e-9
MODULARITY_ATOL = 1e-9


class Graph:
    """Symmetrized simple graph: every undirected edge as two directed slots,
    no self loops, no duplicates. Vertex ids are the engine's ids."""

    def __init__(self, src, dst):
        src = np.asarray(src, dtype=np.int64)
        dst = np.asarray(dst, dtype=np.int64)
        keep = src != dst
        s = np.concatenate([src[keep], dst[keep]])
        d = np.concatenate([dst[keep], src[keep]])
        pairs = np.unique(np.stack([s, d], axis=1), axis=0)
        self.src = pairs[:, 0]
        self.dst = pairs[:, 1]
        self.ids = np.unique(self.src)
        # dense index of every vertex id
        self.n = len(self.ids)
        self.si = np.searchsorted(self.ids, self.src)
        self.di = np.searchsorted(self.ids, self.dst)

    @property
    def slots(self):
        return len(self.src)


def lp_steps(g, steps):
    """Synchronous label propagation from the identity labeling: every vertex
    takes the most frequent label among its neighbors, ties to the smallest
    label. Returns the labels after each step, indexed by dense vertex."""
    labels = g.ids.copy()
    base = int(g.ids.max()) + 1
    out = []
    for _ in range(steps):
        msg = labels[g.di]
        # count (vertex, label) pairs, then keep the best label per vertex
        key = g.si.astype(np.int64) * base + msg
        uniq, counts = np.unique(key, return_counts=True)
        v = uniq // base
        lab = uniq % base
        order = np.lexsort((lab, -counts, v))
        first = np.ones(len(order), dtype=bool)
        first[1:] = v[order][1:] != v[order][:-1]
        best = order[first]
        nxt = labels.copy()
        nxt[v[best]] = lab[best]
        labels = nxt
        out.append(labels)
    return out


def components(g):
    """Connected components by union-find over the edge list, vectorized:
    hook every root to the smallest root among its edges, then compress
    paths, until no edge joins two roots. The label is the component's
    smallest vertex id."""
    parent = np.arange(g.n)
    while True:
        a = parent[g.si]
        b = parent[g.di]
        lo = np.minimum(a, b)
        hi = np.maximum(a, b)
        join = lo != hi
        if not join.any():
            break
        np.minimum.at(parent, hi[join], lo[join])
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
    return g.ids[parent]


def pagerank(g, iterations, damping=0.85):
    """Plain-array power iteration from the uniform vector; every vertex of a
    symmetrized graph has out-links, so there is no dangling mass."""
    n = g.n
    outdeg = np.bincount(g.si, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        s = np.bincount(g.di, weights=rank[g.si] / outdeg[g.si], minlength=n)
        rank = (1.0 - damping) / n + damping * s
    return rank


def modularity(g, labels):
    """Newman modularity of a labeling, with the engine's accounting:
    2m = slot count, degrees from the slot table."""
    m2 = float(g.slots)
    e_in = float(np.count_nonzero(labels[g.si] == labels[g.di]))
    deg = np.bincount(g.si, minlength=g.n).astype(np.int64)
    _, inv = np.unique(labels, return_inverse=True)
    ks = np.bincount(inv, weights=deg).astype(np.int64)
    ksq = np.bincount(inv, weights=deg * deg).astype(np.int64)
    per_comm = float(int((ks * ks - ksq).sum()))
    return (e_in - per_comm / m2) / m2


def triangles(g):
    """Triangle count by adjacency intersection over the undirected edges
    (u < v), in DuckDB."""
    con = duckdb.connect()
    keep = g.src < g.dst
    con.register("e", pa.table({"u": g.src[keep], "v": g.dst[keep]}))
    total = con.execute("""SELECT count(*)
        FROM e a JOIN e b ON a.v = b.u JOIN e c ON c.u = a.u AND c.v = b.v""").fetchone()[0]
    con.close()
    return total


def read_parquet(directory, columns):
    """All rows of a Spark parquet output directory, as numpy columns."""
    con = duckdb.connect()
    rows = con.execute(f"SELECT {', '.join(columns)} FROM "
                       f"read_parquet('{directory}/*.parquet')").fetchnumpy()
    con.close()
    return [rows[c] for c in columns]


def labels_of(g, directory, value="label"):
    """An (id, label) output reordered to the graph's dense vertex order;
    None when its vertex set is not exactly the graph's."""
    ids, vals = read_parquet(directory, ["id", value])
    order = np.argsort(ids)
    ids, vals = ids[order], vals[order]
    if len(ids) != g.n or not np.array_equal(ids, g.ids):
        return None
    return vals


def rowset_hash(columns, rows):
    """Order-independent hash of a result, canonicalized the way
    tools/parity_check.py compares engine output with the oracle."""
    def canon(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def label_hash(g, labels):
    """Order-independent hash of an (id, label) result."""
    return rowset_hash(["id", "label"],
                       [(int(i), int(l)) for i, l in zip(g.ids, labels)])


def oracle_check(table_dir, out_dir, sql):
    """Compare a registry query's engine output with its DuckDB oracle SQL
    on the same tables. Returns (ok, engine hash, detail)."""
    con = duckdb.connect()
    for f in os.listdir(table_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(table_dir, f)}'")
    got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")
    gcols, grows = got.columns, got.fetchall()
    want = con.sql(sql)
    wcols, wrows = want.columns, want.fetchall()
    con.close()
    gh, wh = rowset_hash(gcols, grows), rowset_hash(wcols, wrows)
    ok = sorted(gcols) == sorted(wcols) and gh == wh
    return ok, gh, f"{len(grows)} rows vs oracle {len(wrows)}"


def load_json(path):
    with open(path) as f:
        return json.load(f)
