"""Correctness checks, run after the timed loop: every delivered result is
compared with ground truth the measured path did not compute. Returns the
failures plus the quality numbers derived from the same comparison."""
import json
import os

import numpy as np
import pyarrow.parquet as pq

from harness import truth


def _errors(records):
    return [f"req {r['req']} ({r['kind']}): {r['error']}" for r in records if "error" in r]


def check_lookup(inputs, out, records):
    ok_recs = [r for r in records if "error" not in r]
    want = truth.lookup_truth(inputs, [r["req"] for r in ok_recs])
    failures = _errors(records)
    expected_rows = delivered_rows = 0
    for r in ok_recs:
        w = want[r["req"]]
        expected_rows += w[0]
        if r["digest"] != w:
            failures.append(f"req {r['req']} ({r['kind']}): got {r['digest']} want {w}")
        else:
            delivered_rows += w[0]
    return {"failures": failures,
            "recall": delivered_rows / expected_rows if expected_rows else 1.0}


ANN_METRICS = {"graph": "ip", "qgraph": "l2", "ivfpq": "l2"}


def check_ann(inputs, out, records):
    reqs = truth.read_requests(inputs)
    nn = truth.Neighbours(inputs)
    failures = _errors(records)
    recalls = []
    for r in records:
        if "error" in r:
            continue
        q = reqs[r["req"]]
        fam = q["family"]
        metric = q.get("metric", ANN_METRICS[fam])
        # the float graph at full ef and the unrouted fallback are exact
        exact = fam == "graph"
        if q["kind"] == "single":
            answers = [(q["qid"], r["digest"])]
        else:
            answers = [(qid, ids) for qid, ids in r["digest"]]
            want = set(range(q["q0"], q["q0"] + q["n"]))
            if {qid for qid, _ in answers} != want:
                failures.append(f"req {r['req']} (batch {fam}): answered {len(answers)} of {len(want)} queries")
        for qid, ids in answers:
            rec, full = nn.recall(metric, qid, ids, q.get("label"))
            recalls.append(rec)
            if not full or (exact and rec < 1.0):
                failures.append(f"req {r['req']} ({q['kind']} {fam}) query {qid}: recall {rec} of {len(ids)} ids")
    return {"failures": failures,
            "recall": sum(recalls) / len(recalls) if recalls else 0.0}


CURATE_STAGES = ["quality", "exact_dedup", "near_dedup", "strip", "ppl", "embed",
                 "semantic_dedup", "mix"]
TOKEN_BUDGET = 20000


SPAN_N, SPAN_MIN_DOCS = 8, 3


def _boilerplate_grams(texts):
    """Word 8-grams that occur in at least three reference documents."""
    df = {}
    for text in texts:
        toks = text.split()
        for g in {tuple(toks[i:i + SPAN_N]) for i in range(len(toks) - SPAN_N + 1)}:
            df[g] = df.get(g, 0) + 1
    return {g for g, c in df.items() if c >= SPAN_MIN_DOCS}


def _strip(text, grams):
    toks = text.split()
    covered = set()
    for i in range(len(toks) - SPAN_N + 1):
        if tuple(toks[i:i + SPAN_N]) in grams:
            covered.update(range(i, i + SPAN_N))
    return " ".join(t for i, t in enumerate(toks) if i not in covered)


def check_curate(inputs, out, records):
    """Each stage's output is compared with what the stage must do to its
    actual input: planted junk, exact, near and shuffled copies are the
    only documents a filter may drop, and the span strip and the mix are
    recomputed exactly from the reference corpus and the stage input."""
    facts = json.load(open(os.path.join(inputs, "truth.json")))
    grams = _boilerplate_grams(pq.read_table(os.path.join(inputs, "reference.parquet"),
                                             columns=["text"]).column("text").to_pylist())
    failures = _errors(records)
    done = {}
    for r in records:
        if "error" not in r:
            p, stage = r["digest"][0].split("/")
            done.setdefault(int(p[1:]), set()).add(stage)
    found = planted = 0
    for p, stages in sorted(done.items()):
        batch = f"batch_{p % 2}"
        t = facts[batch]
        prev = pq.read_table(os.path.join(inputs, f"{batch}.parquet")).to_pylist()
        original = {d["doc_id"]: d["text"] for d in prev}
        for stage in CURATE_STAGES:
            if stage not in stages:
                break
            rows = pq.read_table(os.path.join(out, "passes", f"p{p}", stage)).to_pylist()
            before, after = {d["doc_id"] for d in prev}, {d["doc_id"] for d in rows}
            dropped = before - after
            where = f"pass {p} {stage}"
            if not after <= before:
                failures.append(f"{where}: {len(after - before)} documents not in its input")
            if stage == "quality":
                if dropped != set(t["junk"]):
                    failures.append(f"{where}: dropped {len(dropped)}, planted junk {len(t['junk'])}")
            elif stage == "exact_dedup":
                want = {c for o, c in t["exact"] if o in before} & before
                found, planted = found + len(dropped & want), planted + len(want)
                if dropped != want:
                    failures.append(f"{where}: dropped {sorted(dropped ^ want)[:5]} unexpectedly")
            elif stage in ("near_dedup", "semantic_dedup"):
                # a copy must go when its original is in the stage input or,
                # for store copies, in the reference corpus behind the store
                if stage == "near_dedup":
                    want = {c for o, c in t["near_batch"] if o in before} | {c for _, c in t["near_store"]}
                else:
                    want = {c for o, c in t["shuffled"] if o in before}
                want &= before
                found, planted = found + len(dropped & want), planted + len(want)
                if dropped - want:
                    failures.append(f"{where}: dropped unplanted documents {sorted(dropped - want)[:5]}")
            elif stage == "strip":
                if {i for i in dropped if _strip(original[i], grams)}:
                    failures.append(f"{where}: dropped documents with text left")
                for d in rows:
                    body = _strip(original[d["doc_id"]], grams)
                    if d["text"] != body or d["kept_tokens"] != len(body.split()):
                        failures.append(f"{where}: doc {d['doc_id']} stripped wrongly")
                        break
            elif dropped:
                if stage != "mix":
                    failures.append(f"{where}: dropped {len(dropped)} documents")
            if stage == "ppl" and any(d["bucket"] not in (1, 2, 3) for d in rows):
                failures.append(f"{where}: bucket out of range")
            if stage == "embed" and any(len(d["emb"]) != 64 or abs(np.linalg.norm(d["emb"]) - 1) > 1e-3
                                        for d in rows):
                failures.append(f"{where}: embedding not a unit vector of 64 dimensions")
            if stage == "mix":
                keep, cum = set(), {}
                for d in sorted(prev, key=lambda d: (d["source"], d["avg_cost_micros"], d["doc_id"])):
                    cum[d["source"]] = cum.get(d["source"], 0) + d["kept_tokens"]
                    if cum[d["source"]] <= TOKEN_BUDGET:
                        keep.add(d["doc_id"])
                if after != keep:
                    failures.append(f"{where}: kept {len(after)}, budget allows {len(keep)}")
            prev = rows
    recall = found / planted if planted else 0.0
    return {"failures": failures, "recall": recall}


CHECKS = {"lookup": check_lookup, "ann": check_ann, "curate": check_curate}


def check(workload, inputs, out, records):
    return CHECKS[workload](inputs, out, records)
