"""Seeded input generators. Each writes every input of one workload, and the
ground truth known at generation time, under one directory. The same seed
gives byte-identical files; nothing outside the directory is touched."""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ROW_GROUP = 65536


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def write_parquet(table, path):
    pq.write_table(table, path, row_group_size=ROW_GROUP, compression="snappy",
                   write_statistics=True)


def write_jsonl(rows, path):
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r, sort_keys=True) + "\n")


# ---------------------------------------------------------------- lookup

N_ORDERS = 150_000
N_CUST = 15_000
N_PART = 20_000
N_SUPP = 1_000
LOOKUP_REQUESTS = 2_000


def orders_table(rng, n):
    keys = np.arange(1, n + 1, dtype=np.int64)
    days = rng.integers(0, 2400, n)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, N_CUST + 1, n, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n), 2),
        "o_orderdate": pa.array(EPOCH_1992 + days.astype("timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def lineitem_table(rng, orders):
    okeys = orders.column("o_orderkey").to_numpy()
    odates = orders.column("o_orderdate").to_numpy()
    lines = rng.integers(1, 8, len(okeys))
    lk = np.repeat(okeys, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(lk)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(odates, lines) + rng.integers(1, 122, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(1, N_PART + 1, n, dtype=np.int64),
        "l_suppkey": rng.integers(1, N_SUPP + 1, n, dtype=np.int64),
        "l_linenumber": ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
        "l_rowid": lk * 8 + ln,
    })


# One cycle of the request mix: (kind, selectivity class). Every window of
# the closed loop runs the same kinds at the same widths in this order, so
# the mix a run measures does not depend on the seed; the seed draws the
# data and where each request's values and ranges fall. Widths run from one
# row to about 10% of a table.
LOOKUP_CYCLE = [("o_point", 0), ("o_range", 0), ("count_point", 0), ("o_frange", 0),
                ("rowid_window", 0), ("o_in", 0), ("count_auto", 0), ("o_point", 0),
                ("l_scan", 0), ("o_range", 1), ("count_range", 0), ("rowid_window", 1),
                ("o_frange", 1), ("o_point", 0), ("o_scan", 0), ("o_in", 1), ("o_range", 2),
                ("count_auto", 1), ("rowid_window", 2), ("l_scan", 1)]
CUST_WIDTHS = [1, 40, 1200]           # o_custkey values: ~10 rows to 8%
PRICE_WIDTHS = [20.0, 27_000.0]       # o_totalprice span: ~5 rows to 5%
ROWID_WIDTHS = [12, 600, 1 / 8]       # o_orderkey window; a float is a share of the table
SCAN_DAYS = [1, 240]                  # date span of the unindexed scans: ~0.04% to 10%


def lookup_requests(rng, n):
    """Plain filters over an indexed column are marked routable; o_scan and
    l_scan filter unindexed columns."""
    out = []
    for i in range(n):
        kind, cls = LOOKUP_CYCLE[i % len(LOOKUP_CYCLE)]
        q = {"kind": kind}
        if kind == "o_point":
            q.update(v=int(rng.integers(1, N_CUST + 1)), routable=True)
        elif kind in ("o_in", "count_point"):
            q["vs"] = sorted(int(x) for x in rng.choice(N_CUST, 2 + 4 * cls, replace=False) + 1)
            if kind == "o_in":
                q["routable"] = True
        elif kind in ("o_range", "count_auto"):
            w = CUST_WIDTHS[cls]
            lo = int(rng.integers(1, N_CUST - w + 2))
            q.update(lo=lo, hi=lo + w - 1, routable=True)
        elif kind in ("o_frange", "count_range"):
            w = PRICE_WIDTHS[cls]
            lo = round(float(rng.uniform(850.0, 550_000.0 - w)), 2)
            q.update(lo=lo, hi=round(lo + w, 2), routable=kind == "o_frange")
        elif kind in ("l_scan", "o_scan"):
            days = SCAN_DAYS[cls]
            start = EPOCH_1992 + np.timedelta64(int(rng.integers(0, 2400 - days)), "D")
            end = start + np.timedelta64(days, "D")
            q.update(lo=str(start.astype("datetime64[s]")).replace("T", " "),
                     hi=str(end.astype("datetime64[s]")).replace("T", " "))
            if kind == "l_scan":
                q["qmin"] = 25.0
        elif kind == "rowid_window":
            w = ROWID_WIDTHS[cls]
            w = int(w * N_ORDERS) if isinstance(w, float) else w
            lo = int(rng.integers(1, N_ORDERS - w + 1))
            q.update(prio=PRIORITIES[int(rng.integers(0, 5))], lo=lo, hi=lo + w)
        out.append(q)
    return out


def gen_lookup(seed, d):
    rng = _rng(seed, 1)
    orders = orders_table(rng, N_ORDERS)
    write_parquet(orders, os.path.join(d, "orders.parquet"))
    write_parquet(lineitem_table(rng, orders), os.path.join(d, "lineitem.parquet"))
    write_jsonl(lookup_requests(_rng(seed, 2), LOOKUP_REQUESTS), os.path.join(d, "requests.jsonl"))


# ---------------------------------------------------------------- ann

ANN_N = 5_000
ANN_DIM = 64
ANN_CLUSTERS = 32
ANN_LABELS = 10
ANN_QUERIES = 4_000
ANN_REQUESTS = 1_000
ANN_BATCH = 200
ANN_FAMILIES = ["graph", "qgraph", "ivfpq"]


def _vectors_table(ids, vecs, extra):
    flat = pa.array(vecs.astype(np.float32).reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * vecs.shape[1] + 1, vecs.shape[1], dtype=np.int32))
    cols = {"vec_id": ids.astype(np.int64), "embedding": pa.ListArray.from_arrays(offsets, flat)}
    cols.update(extra)
    return pa.table(cols)


def ann_corpus(rng, n, dim):
    centers = rng.normal(0.0, 3.0, (ANN_CLUSTERS, dim))
    assign = rng.integers(0, ANN_CLUSTERS, n)
    vecs = centers[assign] + rng.normal(0.0, 1.0, (n, dim))
    return centers, vecs.astype(np.float32)


# One cycle of the ann mix: every tenth request is a batch join, the
# families take turns, two singles in nine carry a label filter, and one
# asks for cosine, which no family serves.
ANN_CYCLE = [("single", "graph", None), ("single", "qgraph", None), ("single", "ivfpq", None),
             ("single", "graph", "label"), ("single", "qgraph", "label"), ("single", "ivfpq", None),
             ("single", "graph", None), ("single", "qgraph", None), ("single", "graph", "cosine"),
             ("batch", None, None)]


def ann_requests(rng, n):
    out = []
    batch_family = 0
    for i in range(n):
        kind, family, extra = ANN_CYCLE[i % len(ANN_CYCLE)]
        if kind == "single":
            q = {"kind": kind, "family": family, "qid": int(rng.integers(0, ANN_QUERIES))}
            if extra == "label":
                q["label"] = int(rng.integers(0, ANN_LABELS))
            elif extra == "cosine":
                q["metric"] = "cosine"
        else:
            q = {"kind": kind, "family": ANN_FAMILIES[batch_family % len(ANN_FAMILIES)], "n": ANN_BATCH,
                 "q0": int(rng.integers(0, ANN_QUERIES - ANN_BATCH + 1))}
            batch_family += 1
        out.append(q)
    return out


def gen_ann(seed, d):
    rng = _rng(seed, 1)
    centers, vecs = ann_corpus(rng, ANN_N, ANN_DIM)
    labels = rng.integers(0, ANN_LABELS, ANN_N).astype(np.int32)
    corpus = _vectors_table(np.arange(ANN_N), vecs, {"label": labels})
    write_parquet(corpus, os.path.join(d, "corpus.parquet"))
    for f in ("graph", "qgraph"):
        write_parquet(corpus, os.path.join(d, f"corpus_{f}.parquet"))
    qv = centers[rng.integers(0, ANN_CLUSTERS, ANN_QUERIES)] + rng.normal(0.0, 1.0, (ANN_QUERIES, ANN_DIM))
    queries = _vectors_table(np.arange(ANN_QUERIES), qv, {}).rename_columns(["qid", "vec"])
    write_parquet(queries, os.path.join(d, "queries.parquet"))
    write_jsonl(ann_requests(_rng(seed, 2), ANN_REQUESTS), os.path.join(d, "requests.jsonl"))


# ---------------------------------------------------------------- curate

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
VOCAB = 4_000
REFERENCE_DOCS = 2_000
BATCH_DOCS = 400
WARMUP_DOCS = 48
FOOTER_TOKENS = 12
SOURCES = 5
# planted shares of each incoming batch
JUNK, EXACT, NEAR_BATCH, NEAR_STORE, SHUFFLED, FOOTER = 0.08, 0.03, 0.03, 0.03, 0.03, 0.25


def _vocab(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB:
        words.add("".join(letters[rng.integers(0, 26, int(rng.integers(4, 10)))]))
    return sorted(words)


def _doc_tokens(rng, vocab):
    n = int(rng.integers(60, 161))
    stop = (rng.random(n) < 0.3).tolist()
    words = rng.integers(0, len(vocab), n).tolist()
    stops = rng.integers(0, len(STOPWORDS), n).tolist()
    return [STOPWORDS[s] if st else vocab[w] for st, w, s in zip(stop, words, stops)]


def _substitute(rng, toks, vocab):
    out = list(toks)
    for i in rng.choice(len(out), 1 if len(out) < 100 else 2, replace=False):
        out[i] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def _docs_table(ids, texts, sources):
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string()),
                     "source": pa.array([f"src{s}" for s in sources], pa.string())})


def curate_batch(rng, vocab, footer, reference, first_id, n):
    """One incoming batch with planted junk, exact copies, near copies of
    batch and reference documents, and token-shuffled copies. Copies take
    higher ids than their originals. Returns the table and its truth."""
    kinds = ["normal"] * n
    slots = rng.permutation(n)
    counts = [int(round(f * n)) for f in (JUNK, EXACT, NEAR_BATCH, NEAR_STORE, SHUFFLED)]
    names = ["junk", "exact", "near_batch", "near_store", "shuffled"]
    pos = 0
    for name, c in zip(names, counts):
        for i in slots[pos:pos + c]:
            kinds[i] = name
        pos += c
    # originals come from the first half of the normal documents, copies
    # are moved to the end so they carry higher ids
    order = sorted(range(n), key=lambda i: (kinds[i] not in ("normal", "junk"), i))
    kinds = [kinds[i] for i in order]
    originals = [i for i, k in enumerate(kinds) if k == "normal"]
    toks, has_footer, truth = [], [], {"junk": [], "exact": [], "near_batch": [], "near_store": [],
                                       "shuffled": []}
    used = iter(rng.permutation(originals[: len(originals) // 2]).tolist())
    for i, k in enumerate(kinds):
        doc_id = first_id + i
        if k == "normal":
            t = _doc_tokens(rng, vocab)
            foot = rng.random() < FOOTER
        elif k == "junk":
            t = [str(x) for x in rng.integers(0, 100000, int(rng.integers(60, 161)))]
            foot = False
        elif k == "near_store":
            r = int(rng.integers(0, len(reference)))
            t, foot = _substitute(rng, reference[r][0], vocab), reference[r][1]
            truth[k].append([int(reference[r][2]), doc_id])
        else:
            o = next(used)
            if k == "shuffled":
                while has_footer[o]:
                    o = next(used)
                t, foot = list(rng.permutation(toks[o])), False
            elif k == "exact":
                t, foot = list(toks[o]), has_footer[o]
            else:
                t, foot = _substitute(rng, toks[o], vocab), has_footer[o]
            truth[k].append([first_id + o, doc_id])
        toks.append(t)
        has_footer.append(foot)
        if k == "junk":
            truth["junk"].append(doc_id)
    texts = [" ".join(t + (footer if f else [])) for t, f in zip(toks, has_footer)]
    ids = list(range(first_id, first_id + n))
    return _docs_table(ids, texts, rng.integers(0, SOURCES, n)), truth


def gen_curate(seed, d):
    rng = _rng(seed, 1)
    vocab = _vocab(rng)
    footer = list(np.array(vocab)[rng.integers(0, len(vocab), FOOTER_TOKENS)])
    reference = []
    for i in range(REFERENCE_DOCS):
        reference.append((_doc_tokens(rng, vocab), bool(rng.random() < FOOTER), 1 + i))
    write_parquet(_docs_table([r[2] for r in reference],
                              [" ".join(t + (footer if f else [])) for t, f, _ in reference],
                              rng.integers(0, SOURCES, len(reference))),
                  os.path.join(d, "reference.parquet"))
    truth = {}
    for b, (name, n, first) in enumerate([("batch_0", BATCH_DOCS, 100_000), ("batch_1", BATCH_DOCS, 200_000),
                                          ("warmup", WARMUP_DOCS, 900_000)]):
        table, t = curate_batch(_rng(seed, 10 + b), vocab, footer, reference, first, n)
        write_parquet(table, os.path.join(d, f"{name}.parquet"))
        truth[name] = t
    with open(os.path.join(d, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)


GENERATORS = {"lookup": gen_lookup, "ann": gen_ann, "curate": gen_curate}


def generate(workload, seed, d):
    os.makedirs(d, exist_ok=True)
    GENERATORS[workload](seed, d)
