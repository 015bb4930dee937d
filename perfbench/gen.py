"""Seeded input generator for the benchmark.

Every input is a pure function of (workload sizes, seed): the same seed
writes byte-identical files. Alongside the files it returns the ground
truth the output checks need, computed here and never by the program under
test.
"""

import datetime
import json
import math
import os
import random

MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
START = datetime.datetime(2023, 1, 2)  # a Monday

# Pipeline.run's defaults drop the first max(lags) = 168 rows of each
# series (warm-up) and the first seq_len - 1 = 23 remaining rows (no full
# sequence yet).
PIPELINE_WARMUP_ROWS = 168 + 23


def _stamp(hour_index):
    """`MMM d, yyyy h:mm a` (English month names) for `hour_index` hours
    after START."""
    t = START + datetime.timedelta(hours=hour_index)
    return (f"{MONTHS[t.month - 1]} {t.day}, {t.year} {t.hour % 12 or 12}:00 "
            f"{'AM' if t.hour < 12 else 'PM'}")


def _comma_decimal(v):
    return f"{v:.2f}".replace(".", ",")


def gen_ts(path, seed, series, hours, p_spike=0.004, p_missing=0.01, p_dup=0.01):
    """Hourly series in the German-grid CSV format: `;`-delimited,
    comma-decimal values, `MMM d, yyyy h:mm a` timestamps. Each series has
    daily and weekly seasonality and noise, with planted spikes, duplicate
    timestamps (an extra row with a later event id) and missing values
    (never in a series' first hour, so forward fill always has a value).
    Rows are in time order, as a logger writes them."""
    rng = random.Random(f"ts:{seed}")
    shape = [(rng.uniform(200, 400), rng.uniform(10, 40), rng.uniform(3, 15),
              rng.uniform(0, 24)) for _ in range(series)]
    lines = ["Start date;user_id;event_id;value"]
    spikes, dups, missing, event_id = [], 0, 0, 0
    for h in range(hours):
        stamp = _stamp(h + 1)  # +1: the first hour is 2023-01-02 01:00
        for s in range(series):
            base, daily, weekly, phase = shape[s]
            v = (base + daily * math.sin(2 * math.pi * (h + phase) / 24)
                 + weekly * math.sin(2 * math.pi * h / 168) + rng.gauss(0, 2))
            if rng.random() < p_spike:
                v += rng.choice((-1, 1)) * rng.uniform(60, 90)
                spikes.append([s + 1, h])
            event_id += 1
            if h > 0 and rng.random() < p_missing:
                lines.append(f"{stamp};{s + 1};{event_id};")
                missing += 1
            else:
                lines.append(f"{stamp};{s + 1};{event_id};{_comma_decimal(v)}")
            if rng.random() < p_dup:
                event_id += 1
                lines.append(f"{stamp};{s + 1};{event_id};{_comma_decimal(v + rng.gauss(0, 1))}")
                dups += 1
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")
    return {"series": series, "hours": hours, "rows": event_id,
            "duplicates": dups, "missing": missing, "spikes": spikes}


def _vocabulary(rng, size):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def gen_corpus(path, seed, base_docs, exact_groups, chains, chain_len,
               vocab=4000, min_len=40, max_len=90):
    """Documents with planted exact duplicates (1-3 extra copies of a doc)
    and planted near-duplicate chains (each member is the previous one with
    one more token substituted, so far members differ more than neighbours
    and connecting a chain takes several label-propagation rounds). Tokens
    are drawn uniformly, so unplanted documents are never near-duplicates of
    each other. Ids are shuffled so a planted copy is not always the larger
    id."""
    rng = random.Random(f"corpus:{seed}")
    words = _vocabulary(rng, vocab)

    def doc():
        return rng.choices(words, k=rng.randint(min_len, max_len))

    texts = [" ".join(doc()) for _ in range(base_docs)]
    groups, chain_sets = [], []
    for g in range(exact_groups):
        copies = rng.randint(1, 3)
        groups.append([g] + list(range(len(texts), len(texts) + copies)))
        texts.extend([texts[g]] * copies)
    for c in range(chains):
        toks = doc()
        positions = rng.sample(range(len(toks)), chain_len - 1)
        members = [len(texts)]
        texts.append(" ".join(toks))
        for pos in positions:
            toks[pos] = rng.choice([w for w in words[:50] if w != toks[pos]])
            members.append(len(texts))
            texts.append(" ".join(toks))
        chain_sets.append(members)
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for i in sorted(range(len(texts)), key=lambda i: ids[i]):
            f.write(json.dumps({"doc_id": ids[i], "text": texts[i]}) + "\n")
    planted = {i for g in groups for i in g} | {i for c in chain_sets for i in c}
    return {"docs": len(texts), "distinct": len(set(texts)),
            "exact_groups": [sorted(ids[i] for i in g) for g in groups],
            "chains": [[ids[i] for i in c] for c in chain_sets],
            "singletons": sorted(ids[i] for i in range(len(texts)) if i not in planted)}


def gen_embeddings(path, seed, n, clusters, dim=64, spread=0.35):
    """Clustered unit-scale vectors (`dim` floats, 4 decimals): cluster
    centres on the unit sphere plus Gaussian noise. Ids are shuffled across
    clusters, so a batch of consecutive query ids spans many clusters.
    Returns the vectors as written (for the runner's own top-k)."""
    rng = random.Random(f"emb:{seed}")
    centres = []
    for _ in range(clusters):
        c = [rng.gauss(0, 1) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in c))
        centres.append([x / norm for x in c])
    vecs = []
    for i in range(n):
        c = centres[i % clusters]
        vecs.append([round(x + rng.gauss(0, spread / math.sqrt(dim)), 4) for x in c])
    rng.shuffle(vecs)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for i, v in enumerate(vecs):
            f.write(json.dumps({"emb_id": i + 1, "emb": v}) + "\n")
    return vecs


def generate(workload, sizes, seed, out_dir):
    """Writes the inputs of `workload` into `out_dir` and returns its
    ground truth."""
    os.makedirs(out_dir, exist_ok=True)
    if workload in ("ts_batch", "stream_monitor"):
        truth = gen_ts(os.path.join(out_dir, "ts.csv"), seed, sizes["series"], sizes["hours"])
        if workload == "ts_batch":
            per_series = sizes["hours"] - PIPELINE_WARMUP_ROWS
            truth["pca_rows"] = sizes["series"] * per_series
            truth["lstm_rows"] = sizes["lstm_series"] * per_series
        return truth
    if workload == "curation":
        truth = gen_corpus(os.path.join(out_dir, "docs.jsonl"), seed, sizes["base_docs"],
                           sizes["exact_groups"], sizes["chains"], sizes["chain_len"])
        truth["vectors"] = gen_embeddings(os.path.join(out_dir, "emb.jsonl"), seed,
                                          sizes["vectors"], sizes["clusters"])
        return truth
    raise ValueError(f"unknown workload: {workload}")
