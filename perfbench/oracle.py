"""Answer checks of a benchmark run, made after the timed loop.

- efo1-hard: every distinct instance's answer set against DuckDB running the
  engine's own oracle SQL (`OracleSql.formulaSqlOver`) over the `edges`
  relation that `KG.edgesCte` defines; `evaluate` rows against DuckDB
  running `Workload.evaluateSql`; BFS levels against a graph walk over the
  same edges.
- cqd-rank: every 1p top-10 of the CQD beam and batched executors against a
  brute force over the entity universe's embeddings, recomputed here from
  the `Embeddings.deterministic` formula.
- every workload: a request whose inputs repeat must repeat its digest.
"""
import hashlib
from collections import defaultdict

import duckdb
import numpy as np

TABLES = ("region", "nation", "supplier", "customer", "part", "orders",
          "lineitem")
ENT_SEED, REL_SEED = 0.3, 1.7
CQD_DIM = 16
TOL = 1e-6


def sha1(text):
    return hashlib.sha1(text.encode()).hexdigest()


def rows_digest(rows):
    """Mirror of `Workload.rowsDigest` for integer-valued rows."""
    return sha1("\n".join(sorted("|".join(str(c) for c in r) for r in rows)))


def connect(tables_dir, context):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    if "edges_cte" in context:
        con.execute("CREATE TABLE edges AS " + context["edges_cte"] +
                    " SELECT src, rel, dst FROM edges")
    return con


def first_by_key(answers):
    seen = {}
    for a in answers:
        if a["ok"] and a["key"] not in seen:
            seen[a["key"]] = a
    return seen


def check(answers, tables_dir, context):
    """Returns {"checked": n, "wrong": [descriptions]}."""
    wrong = []
    # Same inputs, same answer.
    digests = defaultdict(set)
    for a in answers:
        if a["ok"]:
            digests[a["key"]].add(a["digest"])
    wrong += [f"digest differs across repeats: {k}"
              for k, d in digests.items() if len(d) > 1]

    firsts = first_by_key(answers)
    con = connect(tables_dir, context)
    adjacency = None
    checked = 0
    for key, a in firsts.items():
        kind = a["oracle"]["type"]
        if kind == "repeat":
            continue
        checked += 1
        if kind == "hard":
            ids = sorted(r[0] for r in con.execute(a["oracle"]["sql"]).fetchall())
            if (a["n"], a["digest"]) != (len(ids), sha1(",".join(map(str, ids)))):
                wrong.append(f"{key}: engine {a['n']} answers, oracle {len(ids)}")
        elif kind == "topk1p":
            msg = check_topk(a, context["universe"])
            if msg:
                wrong.append(f"{key}: {msg}")
        elif kind == "eval":
            msg = check_eval(con, a)
            if msg:
                wrong.append(f"{key}: {msg}")
        elif kind == "bfs":
            if adjacency is None:
                adjacency = defaultdict(list)
                for s, d in con.execute("SELECT src, dst FROM edges").fetchall():
                    adjacency[s].append(d)
            rows = bfs(adjacency, a["oracle"]["seeds"], a["oracle"]["levels"])
            if (a["n"], a["digest"]) != (len(rows), rows_digest(rows)):
                wrong.append(f"{key}: engine {a['n']} rows, oracle {len(rows)}")
        else:
            wrong.append(f"{key}: unknown oracle type {kind}")
    con.close()
    return {"checked": checked, "distinct": len(firsts), "wrong": wrong}


# ---- cqd-rank ---------------------------------------------------------------

def vec(ids, dim, seed):
    ids = np.asarray(ids, dtype=np.int64)
    k = np.arange(1, dim + 1, dtype=np.float64)
    return np.sin(((ids % 9973) + 1)[:, None] * k[None, :] * 0.017 + seed)


def score(model, h, r, t):
    """1p score of every candidate row of `t` under `model`."""
    d = t.shape[1] // 2
    if model == "transe":
        return -np.sqrt(((h + r - t) ** 2).sum(axis=1))
    if model == "distmult":
        return -(h * r * t).sum(axis=1)
    if model == "complex":
        est = np.concatenate([h[:d] * r[:d] - h[d:] * r[d:],
                              h[:d] * r[d:] + h[d:] * r[:d]])
        return (est * t).sum(axis=1)
    if model == "rotate":
        c, s = np.cos(r), np.sin(r)
        est = np.concatenate([h[:d] * c - h[d:] * s, h[:d] * s + h[d:] * c])
        return np.sqrt(((est - t) ** 2).sum(axis=1))
    raise ValueError(model)


def check_topk(a, universe):
    o = a["oracle"]
    universe = np.asarray(universe, dtype=np.int64)
    ents = vec(universe, CQD_DIM, ENT_SEED)
    got = defaultdict(list)
    for qid, entity, sc in a["rows"]:
        got[qid].append((entity, sc))
    for qid, (anchor, rel) in enumerate(o["instances"]):
        rdim = CQD_DIM // 2 if o["model"] == "rotate" else CQD_DIM
        h = vec([anchor], CQD_DIM, ENT_SEED)[0]
        r = vec([rel], rdim, REL_SEED)[0]
        s = 1.0 + score(o["model"], h, r, ents)
        order = np.lexsort((universe, -s))[:10]
        want = [(int(universe[i]), float(s[i])) for i in order]
        mine = sorted(got[qid], key=lambda x: (-x[1], x[0]))
        if [e for e, _ in mine] != [e for e, _ in want] or any(
                abs(x[1] - y[1]) > TOL for x, y in zip(mine, want)):
            return f"qid {qid} top-10 {mine[:3]}... != brute force {want[:3]}..."
    return None


# ---- efo1-hard: evaluate and bfs --------------------------------------------

def check_eval(con, a):
    want = {r[0]: r[1:] for r in con.execute(a["oracle"]["sql"]).fetchall()}
    got = {r[0]: r[1:] for r in a["rows"]}
    if set(want) != set(got):
        return f"types {sorted(got)} != oracle {sorted(want)}"
    for q, w in want.items():
        for x, y in zip(got[q], w):
            if (x is None) != (y is None) or (
                    x is not None and abs(float(x) - float(y)) > TOL):
                return f"{q}: engine {got[q]} != oracle {w}"
    return None


def bfs(adjacency, seeds, max_levels):
    level = {s: 0 for s in seeds}
    frontier = set(seeds)
    lv = 0
    while frontier and lv < max_levels:
        lv += 1
        nxt = {d for s in frontier for d in adjacency.get(s, ())} - level.keys()
        for d in nxt:
            level[d] = lv
        frontier = nxt
    return sorted(level.items())

