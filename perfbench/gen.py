"""Seeded input generator for the benchmark.

Runs outside the program: it writes parquet changelog files, and the
program only ever sees those files. The same (workload, seed, seconds)
always gives the same rows.

Changelog rows carry the Paimon RowKind column `op` (+I, +U, -U, -D)
and the ordering pair (`snap`, `seq`), which the pipeline compacts on
(last op per key wins).
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# cdc_stream: one changelog file per micro-batch, the reference's
# batchSize and PipelineConfig.batchSize (so nothing is chunked). The
# index folds its delta log every ninth commit, so the stream runs
# whole cycles of nine files: one warm-up cycle, then one cycle per
# eight seconds asked for (a cycle takes about seven seconds on four
# cores; one cycle gives 9 measured batches, one of them folding).
STREAM_BATCH_ROWS = 1000
STREAM_KEYSPACE = 20_000
STREAM_BASE_SHARE = 0.9
FOLD_CYCLE = 9

# owned_stores: an initial corpus, then small rounds of new ids,
# updates and deletes of live ids. The first round warms the stores'
# commit and read paths and is not timed; then one timed round per
# eight seconds asked for (a round takes about 15 s on four cores).
# The corpus is at least six times the docs all rounds touch, so the
# postings store's touched-fraction fold trigger (a fifth) never fires.
STORES_BASE_DOCS = 2_000
STORES_NEW, STORES_UPDATES, STORES_DELETES = 100, 40, 10
EMBED_DIM = 8

CATEGORIES = ["technology", "cooking", "travel", "science", "sports",
              "music", "finance", "health", "history", "art", "film",
              "games"]

# The changelog follows Paimon's RowKind format, as the reference
# consumes it: +I only for a key that is not live, an update as a
# -U/+U pair on a live key (-U carries the old row, +U the new one),
# -D only for a live key (carrying the deleted row). The event mix is
# assumed, not measured: no traffic trace exists to take it from.
# Updates dominate, and inserts balance deletes so the live set stays
# near its starting size.
EVENTS = ("update", "insert", "delete")
EVENT_P = [0.70, 0.15, 0.15]
def vocabulary(rng, n=3000):
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "qua",
           "bri", "dor", "fen", "gal", "hum", "jor", "kel", "mar",
           "nor", "pel"]
    words = set()
    while len(words) < n:
        k = rng.integers(2, 4)
        words.add("".join(rng.choice(syl, size=k)))
    return np.array(sorted(words))


def texts(rng, vocab, n, lo, hi):
    # Zipf-like word choice: a few words are common, most are rare.
    lens = rng.integers(lo, hi + 1, size=n)
    ranks = np.minimum((rng.pareto(1.1, size=int(lens.sum())) * 20)
                       .astype(np.int64), len(vocab) - 1)
    words = vocab[ranks]
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(words[i:i + ln]))
        i += ln
    return out


def skewed_key(rng, live, want_live, keyspace):
    """A key from the skewed keyspace whose liveness is `want_live`.
    Low keys are hot: k = floor(keyspace * u**2), so later batches keep
    updating and deleting docs that earlier ones wrote."""
    ks = np.floor(keyspace * rng.random(64) ** 2.0).astype(np.int64)
    ok = ks[live[ks] == want_live]
    if len(ok):
        return int(ok[0])
    return int(rng.choice(np.flatnonzero(live == want_live)))


def payload(rng, vocab, n):
    """n fresh row bodies (title, content, category, rating)."""
    return list(zip(texts(rng, vocab, n, 2, 4), texts(rng, vocab, n, 12, 30),
                    rng.choice(CATEGORIES, size=n).tolist(),
                    np.round(rng.random(n) * 5, 2).tolist()))


def changelog_table(ids, ops, snap, bodies):
    n = len(ids)
    title, content, category, rating = zip(*bodies)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "op": pa.array(ops, pa.string()),
        "snap": pa.array(np.full(n, snap, np.int64), pa.int64()),
        "seq": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "title": pa.array(title, pa.string()),
        "content": pa.array(content, pa.string()),
        "category": pa.array(category, pa.string()),
        "rating": pa.array(rating, pa.float64()),
    })


def stream_file(rng, vocab, live, rows, snap):
    """One changelog file of exactly STREAM_BATCH_ROWS rows, applied to
    `live` (key -> current row body) as it is written."""
    ids, ops, bodies = [], [], []
    fresh = iter(payload(rng, vocab, STREAM_BATCH_ROWS))
    events = rng.choice(len(EVENTS), size=STREAM_BATCH_ROWS, p=EVENT_P)
    for e in events:
        if len(ids) == STREAM_BATCH_ROWS:
            break
        kind = EVENTS[e]
        if kind == "update" and len(ids) == STREAM_BATCH_ROWS - 1:
            kind = "delete"  # a pair must not straddle two files
        if kind == "insert":
            k = skewed_key(rng, rows, False, STREAM_KEYSPACE)
            live[k] = next(fresh)
            rows[k] = True
            ids.append(k); ops.append("+I"); bodies.append(live[k])
        else:
            k = skewed_key(rng, rows, True, STREAM_KEYSPACE)
            old = live[k]
            if kind == "update":
                live[k] = next(fresh)
                ids += [k, k]; ops += ["-U", "+U"]; bodies += [old, live[k]]
            else:
                del live[k]
                rows[k] = False
                ids.append(k); ops.append("-D"); bodies.append(old)
    return changelog_table(np.array(ids, np.int64), ops, snap, bodies)


def gen_cdc_stream(rng, vocab, out, seconds):
    # The initial snapshot inserts a random 90% of the keyspace, so the
    # stream has keys to insert as well as keys to update and delete.
    rows = rng.random(STREAM_KEYSPACE) < STREAM_BASE_SHARE
    keys = np.flatnonzero(rows)
    live = dict(zip(keys.tolist(), payload(rng, vocab, len(keys))))
    pq.write_table(changelog_table(keys, ["+I"] * len(keys), 0,
                                   [live[k] for k in keys.tolist()]),
                   os.path.join(out, "base.parquet"))
    os.makedirs(os.path.join(out, "stream"))
    files = FOLD_CYCLE * (1 + -(-seconds // 8))
    for i in range(files):
        t = stream_file(rng, vocab, live, rows, i + 1)
        pq.write_table(t, os.path.join(out, "stream", f"part-{i:05d}.parquet"))
    return {"files": files, "rows_per_file": STREAM_BATCH_ROWS,
            "keyspace": STREAM_KEYSPACE, "base_rows": len(keys),
            "event_mix": dict(zip(EVENTS, EVENT_P))}


def doc_bodies(rng, vocab, ids):
    """Fresh bodies (text, category, rating, lat, lon, embedding) for
    `ids`. Coordinates derive from the id, so an update keeps its
    position."""
    n = len(ids)
    emb = rng.normal(size=(n, EMBED_DIM)).astype(np.float32)
    lat = (ids * 37 % 170).astype(np.float64) - 85.0 + (ids % 10) / 10.0
    lon = (ids * 91 % 360).astype(np.float64) - 180.0 + (ids % 7) / 7.0
    return list(zip(texts(rng, vocab, n, 8, 20),
                    rng.choice(CATEGORIES, size=n).tolist(),
                    np.round(rng.random(n) * 5, 2).tolist(),
                    lat.tolist(), lon.tolist(), list(emb)))


def doc_table(ids, ops, rnd, bodies):
    n = len(ids)
    text, category, rating, lat, lon, emb = zip(*bodies)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "op": pa.array(ops, pa.string()),
        "round": pa.array(np.full(n, rnd, np.int64), pa.int64()),
        "seq": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "text": pa.array(text, pa.string()),
        "category": pa.array(category, pa.string()),
        "rating": pa.array(rating, pa.float64()),
        "lat": pa.array(lat, pa.float64()),
        "lon": pa.array(lon, pa.float64()),
        "embedding": pa.array(emb, pa.list_(pa.float32())),
    })


def gen_owned_stores(rng, vocab, out, seconds):
    rounds = 1 + -(-seconds // 8)
    per_round = STORES_NEW + STORES_UPDATES + STORES_DELETES
    base_docs = max(STORES_BASE_DOCS, 6 * per_round * rounds)
    ids = np.arange(base_docs, dtype=np.int64)
    live = dict(zip(ids.tolist(), doc_bodies(rng, vocab, ids)))
    pq.write_table(doc_table(ids, ["+I"] * len(ids), 0,
                             [live[i] for i in ids.tolist()]),
                   os.path.join(out, "base.parquet"))
    next_id = base_docs
    os.makedirs(os.path.join(out, "rounds"))
    for r in range(1, rounds + 1):
        keys = sorted(live)
        touched = rng.choice(len(keys), size=STORES_UPDATES + STORES_DELETES,
                             replace=False)
        upd = [keys[i] for i in touched[:STORES_UPDATES]]
        dele = [keys[i] for i in touched[STORES_UPDATES:]]
        new = list(range(next_id, next_id + STORES_NEW))
        next_id += STORES_NEW
        fresh = doc_bodies(rng, vocab, np.array(new + upd, np.int64))
        rid, ops, bodies = [], [], []
        for i, body in zip(new, fresh):
            live[i] = body
            rid.append(i); ops.append("+I"); bodies.append(body)
        for i, body in zip(upd, fresh[len(new):]):
            rid += [i, i]; ops += ["-U", "+U"]; bodies += [live[i], body]
            live[i] = body
        for i in dele:
            rid.append(i); ops.append("-D"); bodies.append(live.pop(i))
        pq.write_table(doc_table(np.array(rid, np.int64), ops, r, bodies),
                       os.path.join(out, "rounds", f"round-{r:04d}.parquet"))
    return {"base_docs": base_docs, "rounds": rounds,
            "warmup_rounds": 1, "new": STORES_NEW,
            "updates": STORES_UPDATES, "deletes": STORES_DELETES}


GENERATORS = {
    "cdc_stream": gen_cdc_stream,
    "owned_stores": gen_owned_stores,
}


def generate(workload, seed, seconds, out):
    """Write `workload`'s inputs for `seed` under `out` (created). The
    amount of work is fixed by `seconds`, so runs of one seed are equal.
    """
    os.makedirs(out)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    vocab = vocabulary(rng)
    meta = GENERATORS[workload](rng, vocab, out, seconds)
    meta["vocabulary"] = [str(w) for w in vocab[:50]]
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta
