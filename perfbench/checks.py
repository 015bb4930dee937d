"""Output checks, independent of the program under test: each compares what
the program returned with the generator's ground truth or with a result
recomputed here. Each check names the call whose samples it vouches for;
a failed check fails those samples."""

import math


def _ok(name, call, cond, detail):
    return {"name": name, "call": call, "ok": bool(cond), "detail": detail}


def check_ts_batch(calls, truth):
    out = []
    for model in ("pca", "lstm"):
        call = f"ts_batch.{model}"
        done = [c for c in calls if c["call"] == call and c["ok"]]
        if model == "lstm" and not any(c["call"] == call for c in calls):
            continue  # lstm runs in traced runs only
        rows = sorted({c["rows"] for c in done})
        want = truth[f"{model}_rows"]
        out.append(_ok(f"{model}_rows", call, rows == [want],
                       f"rows {rows}, expected {want} from the generator's sizes"))
        digests = {c["digest"] for c in done}
        out.append(_ok(f"{model}_digest", call, len(digests) == 1,
                       f"{len(digests)} distinct result digests over {len(done)} reps"))
    return out


def check_stream(outputs, tol=1e-6):
    """Every fed event was emitted once, and its z equals the batch twin's
    (both null, or equal within `tol` relative)."""
    ids, zs = outputs["stream_ids"], outputs["stream_z"]
    bids, zb = outputs["batch_ids"], outputs["batch_z"]
    same_ids = ids == bids and len(ids) == outputs["fed_events"]
    bad = 0
    if same_ids:
        for a, b in zip(zs, zb):
            if (a is None) != (b is None) or (
                    a is not None and abs(a - b) > tol * max(1.0, abs(b))):
                bad += 1
    return [_ok("stream_ids", "stream_monitor.batch", same_ids,
                f"{len(ids)} emitted, {len(bids)} in the batch twin, "
                f"{outputs['fed_events']} fed"),
            _ok("stream_z_equals_batch", "stream_monitor.batch", same_ids and bad == 0,
                f"{bad} z values differ from Anomaly.rollingZscore")]


def cosines(vectors, q):
    """Cosine of corpus vector id `q` against every other id."""
    def norm(v):
        return math.sqrt(sum(x * x for x in v))
    qv = vectors[q - 1]
    qn = norm(qv)
    return {i: sum(a * b for a, b in zip(qv, v)) / (qn * norm(v))
            for i, v in enumerate(vectors, start=1) if i != q}


def topk(scores, k):
    """The k best (id, score), ties on the smaller id."""
    return sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:k]


def check_curation(outputs, truth, tol=2e-4):
    out = []
    out.append(_ok("exact_survivors", "curation.dedup",
                   outputs["exact_survivors"] == truth["distinct"],
                   f"{outputs['exact_survivors']} exact survivors, "
                   f"{truth['distinct']} distinct contents generated"))
    kept = set(outputs["survivors"])
    groups, chains = truth["exact_groups"], truth["chains"]
    near_max = sum(len(c) - 1 for c in chains)
    ok = (all(i in kept for i in truth["singletons"])
          and all(g[0] in kept and not kept & set(g[1:]) for g in groups)
          and all(min(c) in kept for c in chains)
          and truth["distinct"] - near_max <= len(kept) <= truth["distinct"])
    out.append(_ok("dedup_survivors", "curation.dedup", ok,
                   f"{len(kept)} survivors; every singleton, exact-group minimum and "
                   f"chain minimum must survive, no exact copy may"))
    split = {d: (cl, s) for d, cl, s in outputs["split"]}
    ok = (len(split) == truth["docs"]
          and {s for _, s in split.values()} <= {"train", "val"}
          and all(len({split.get(d) for d in g}) == 1 for g in groups))
    out.append(_ok("split_groups", "curation.split", ok,
                   f"{len(split)} rows for {truth['docs']} docs; exact copies must "
                   f"share a cluster and a side"))
    brute = {}
    for q, n, score in outputs["brute"]:
        brute.setdefault(q, []).append((n, score))
    k = outputs["k"]
    bad = []
    for q, got in brute.items():
        exact = cosines(truth["vectors"], q)
        want = topk(exact, k)
        if (len(got) != k
                or any(abs(g[1] - w[1]) > tol for g, w in zip(got, want))
                or any(abs(exact[n] - s) > tol for n, s in got)):
            bad.append(q)
    out.append(_ok("brute_force_topk", "curation.ann", brute and not bad,
                   f"{len(brute)} sampled queries against a driver-side top-{k}; "
                   f"mismatched: {bad}"))
    return out
