"""Ground truth computed independently of the measured path: DuckDB over the
same parquet inputs and numpy brute force for neighbours."""
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

P = 1000000007
MUL = 2654435761


def digest_sql(key):
    return f"[count(*), coalesce(sum({key}), 0), coalesce(sum(({key} * {MUL}) % {P}), 0)]"


def digest(keys):
    keys = [int(k) for k in keys]
    return [len(keys), sum(keys), sum((k * MUL) % P for k in keys)]


def read_requests(d):
    with open(os.path.join(d, "requests.jsonl")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def lookup_truth(d, req_ids):
    """Expected digest of each request in `req_ids` (stream positions)."""
    reqs = read_requests(d)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE o AS SELECT * FROM read_parquet('{d}/orders.parquet')")
    con.execute(f"CREATE TABLE l AS SELECT * FROM read_parquet('{d}/lineitem.parquet')")
    out = {}
    for r in sorted(set(req_ids)):
        q = reqs[r]
        k = q["kind"]
        if k == "o_point":
            sql = f"SELECT {digest_sql('o_orderkey')} FROM o WHERE o_custkey = {q['v']}"
        elif k == "o_range":
            sql = f"SELECT {digest_sql('o_orderkey')} FROM o WHERE o_custkey BETWEEN {q['lo']} AND {q['hi']}"
        elif k == "o_frange":
            sql = (f"SELECT {digest_sql('o_orderkey')} FROM o "
                   f"WHERE o_totalprice >= {q['lo']!r} AND o_totalprice < {q['hi']!r}")
        elif k == "o_in":
            sql = f"SELECT {digest_sql('o_orderkey')} FROM o WHERE o_custkey IN ({','.join(map(str, q['vs']))})"
        elif k == "o_scan":
            sql = (f"SELECT {digest_sql('o_orderkey')} FROM o WHERE o_orderdate BETWEEN "
                   f"TIMESTAMP '{q['lo']}' AND TIMESTAMP '{q['hi']}'")
        elif k == "l_scan":
            sql = (f"SELECT {digest_sql('l_rowid')} FROM l WHERE l_shipdate BETWEEN "
                   f"TIMESTAMP '{q['lo']}' AND TIMESTAMP '{q['hi']}' AND l_quantity >= {q['qmin']!r}")
        elif k == "rowid_window":
            sql = (f"SELECT {digest_sql('o_orderkey')} FROM o WHERE o_orderpriority = '{q['prio']}' "
                   f"AND o_orderkey BETWEEN {q['lo']} AND {q['hi']}")
        elif k == "count_point":
            sql = f"SELECT [count(*)] FROM o WHERE o_custkey IN ({','.join(map(str, q['vs']))})"
        elif k == "count_range":
            sql = (f"SELECT [count(*)] FROM o WHERE o_totalprice >= {q['lo']!r} "
                   f"AND o_totalprice < {q['hi']!r}")
        elif k == "count_auto":
            sql = f"SELECT [count(*)] FROM o WHERE o_custkey BETWEEN {q['lo']} AND {q['hi']}"
        else:
            raise ValueError(k)
        out[r] = [int(x) for x in con.execute(sql).fetchone()[0]]
    con.close()
    return out


def _matrix(table, col):
    return np.asarray(table.column(col).combine_chunks().flatten().to_numpy(),
                      dtype=np.float64).reshape(table.num_rows, -1)


class Neighbours:
    """Exact brute-force top-k over the corpus, in float64."""

    def __init__(self, d):
        corpus = pq.read_table(os.path.join(d, "corpus.parquet"))
        self.ids = corpus.column("vec_id").to_numpy()
        self.labels = corpus.column("label").to_numpy()
        self.x = _matrix(corpus, "embedding")
        self.xnorm = np.linalg.norm(self.x, axis=1)
        queries = pq.read_table(os.path.join(d, "queries.parquet"))
        self.q = dict(zip(queries.column("qid").to_numpy().tolist(), _matrix(queries, "vec")))

    def distances(self, metric, qid, rows=None):
        x = self.x if rows is None else self.x[rows]
        q = self.q[qid]
        if metric == "l2":
            return np.sqrt(((x - q) ** 2).sum(axis=1))
        if metric == "ip":
            return 1.0 - x @ q
        norms = (self.xnorm if rows is None else self.xnorm[rows]) * np.linalg.norm(q)
        return 1.0 - np.where(norms > 0, (x @ q) / np.where(norms > 0, norms, 1.0), 0.0)

    def recall(self, metric, qid, got, label=None, k=10):
        """Share of the true top-k that `got` delivers; an id whose distance
        ties the k-th true distance (to 1e-6) counts as a true neighbour."""
        rows = None if label is None else np.nonzero(self.labels == label)[0]
        d = self.distances(metric, qid, rows)
        ids = self.ids if rows is None else self.ids[rows]
        kth = np.partition(d, k - 1)[k - 1]
        by_id = dict(zip(ids.tolist(), d.tolist()))
        hits = sum(1 for g in set(got) if g in by_id and by_id[g] <= kth + 1e-6 * max(1.0, abs(kth)))
        return min(hits, k) / k, len(got) == min(k, len(ids))
