"""Seeded input generator for the benchmark workloads.

Every table follows the FIXTURES.md section 2 schemas and the value
distributions of the sf0.1 test tables (uniform keys, except the
Zipf-drawn stations of the queue rounds; exponential event values and gaps, a 30-word vocabulary for documents, unit-norm 64-dim
embeddings). The same seed always yields byte-identical inputs; the
program under test only ever sees the directories written here.

    python3 perfbench/gen.py --workload corpus_curate --seed 7 --out DIR
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EPOCH_2024_US = 1_704_067_200_000_000

# corpus_curate: documents and embeddings have the row counts of the
# sf0.1 test tables (5,000 and 2,000); the event feed its streaming
# stages replay is one fifth of sf0.1's 100,000 events.
CORPUS = dict(documents=5_000, embeddings=2_000, events=20_000)

# queue_ingest. The pipeline keys stations by events.user_id, so the
# station universe is the number of distinct user_id values in the sf0.1
# events table (1,500). The reference pipeline records one observation per
# station per run: the base load is one such run, and each round holds as
# many observations as there are stations. Zipf's s = 1 is chosen (the
# sf0.1 keys are uniform; nothing in the repo measures station skew).
# One point lookup per round; `rounds` only caps what a run can consume.
QUEUE = dict(rounds=150, obs_per_round=1_500, stations=1_500, zipf_s=1.0,
             base_obs=1_500, lookups_per_round=1)


def _write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 30)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def events_table(rng, n, n_users, start_us, first_id=0, user_ids=None):
    gaps = rng.exponential(25.9e6, n).astype(np.int64) + 1
    ts = start_us + np.cumsum(gaps)
    users = user_ids if user_ids is not None else rng.integers(0, n_users, n)
    ks = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in ks]),
    }), int(ts[-1])


def documents_table(rng, n):
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:      # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:   # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(8, 100)))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (labels, dim))
    v = centers[label] * 0.6 + rng.normal(0.0, 1.0, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def gen_corpus(seed, out, c=CORPUS):
    rng = np.random.default_rng([seed, 1])
    tables = {"documents": documents_table(rng, c["documents"]),
              "embeddings": embeddings_table(rng, c["embeddings"])}
    tables["events"], _ = events_table(rng, c["events"], 1500, EPOCH_2024_US)
    for name, tab in tables.items():
        _write(os.path.join(out, f"{name}.parquet"), tab)
    return {"rows": {k: v.num_rows for k, v in tables.items()}}

def zipf_stations(rng, n, universe, s):
    """Zipf(s)-skewed station ids over [0, universe), hottest ids scattered."""
    p = 1.0 / np.arange(1, universe + 1) ** s
    perm = rng.permutation(universe)
    return perm[rng.choice(universe, n, p=p / p.sum())]


def gen_queue(seed, out, q=QUEUE):
    """A base load covering every station, then `rounds` seeded slices of
    observations with strictly later timestamps, plus the expected answer
    of each round's point lookups (the newest obs_ts written for a
    station so far, in epoch seconds), one line per round."""
    rng = np.random.default_rng([seed, 2])
    universe = q["stations"]
    base_users = np.concatenate([np.arange(universe),
                                 rng.integers(0, universe, q["base_obs"] - universe)])
    base, last_us = events_table(rng, q["base_obs"], universe, EPOCH_2024_US,
                                 user_ids=rng.permutation(base_users))
    _write(os.path.join(out, "base", "events.parquet"), base)
    latest = {}
    for u, t in zip(base.column("user_id").to_numpy(), base.column("ts").cast(pa.int64()).to_numpy()):
        latest[int(u)] = int(t) // 1_000_000
    next_id = q["base_obs"]
    lookups = []
    for r in range(q["rounds"]):
        n = q["obs_per_round"]
        users = zipf_stations(rng, n, universe, q["zipf_s"])
        start = (last_us // 1_000_000 + 1) * 1_000_000  # next whole second
        tab, last_us = events_table(rng, n, universe, start, next_id, users)
        next_id += n
        _write(os.path.join(out, "rounds", f"r{r:05d}", "events.parquet"), tab)
        us = tab.column("ts").cast(pa.int64()).to_numpy()
        for u, t in zip(users, us):
            latest[int(u)] = int(t) // 1_000_000
        probe = [int(users[i]) for i in rng.integers(0, n, q["lookups_per_round"])]
        lookups.append([[st, latest[st]] for st in probe])
    with open(os.path.join(out, "lookups.txt"), "w") as f:
        for probe in lookups:
            f.write(" ".join(f"{st}:{ts}" for st, ts in probe) + "\n")
    return {"rows": {"base": q["base_obs"], "per_round": q["obs_per_round"]},
            "rounds": q["rounds"], "stations": universe}


def generate(workload, seed, out):
    if workload == "queue_ingest":
        return gen_queue(seed, out)
    return gen_corpus(seed, out)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)))
