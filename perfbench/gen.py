"""Seeded input generator for the perfbench workloads.

Every table uses the schema of the matching graft testdata table
(TESTDATA.md). The output is a pure function of (workload, seed, size):
the same arguments always give byte-identical parquet. Generated inputs
are cached on disk, keyed by those arguments, and a manifest records each
table's row count and bytes plus the planted items the output checks need.

    python3 perfbench/gen.py <out_root> <workload> <seed>
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated data changes, so stale caches are not reused
VERSION = 2

ACTIVITIES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a the data spark stream batch query table row column key value "
         "filter group sort join hash scan merge window order line part "
         "customer vector agg fast slow big small index shard token model "
         "train score feature label cluster dedup near copy text corpus "
         "crawl page web clean quality lang source split bloom sketch "
         "count sample median rank top graph edge node path").split()

# Sizes per workload. Changing one changes the cache key.
SIZES = {
    # accelerometer-style samples: users x activities x days sessions
    "activity-dense": {"users": 12, "days": 3},
    # closed-loop stream: batches x batch_docs, planted copy share
    "ingest-stream": {"batches": 4, "batch_docs": 12, "copy_share": 0.25},
}

EPOCH_2024_US = 1704067200 * 1_000_000


def _rng(workload: str, seed: int, table: str) -> np.random.Generator:
    # one independent stream per (workload, seed, table)
    key = [seed, sum(map(ord, workload)), sum(map(ord, table)), len(table)]
    return np.random.default_rng(key)


def _write(df: pa.Table, path: str) -> dict:
    pq.write_table(df, path, compression="snappy")
    return {"rows": df.num_rows, "bytes": os.path.getsize(path)}


def events(rng: np.random.Generator, users: int, days: int) -> pa.Table:
    """One session per (user, activity, day) plus a second session after
    a gap of more than 30 minutes on some days. Each activity has its
    own sampling period, level, swing and rhythm, so the 11 window
    features separate the activities."""
    period_s = {"click": 20.0, "error": 35.0, "purchase": 15.0,
                "signup": 45.0, "view": 25.0}
    level = {"click": 40.0, "error": 55.0, "purchase": 50.0,
             "signup": 35.0, "view": 60.0}
    swing = {"click": 20.0, "error": 8.0, "purchase": 30.0,
             "signup": 5.0, "view": 12.0}
    rhythm_s = {"click": 120.0, "error": 900.0, "purchase": 300.0,
                "signup": 60.0, "view": 600.0}
    ts_parts, uid_parts, act_parts, val_parts = [], [], [], []
    for u in range(users):
        for a_i, a in enumerate(ACTIVITIES):
            for d in range(days):
                n_sessions = 1 + int(rng.random() < 0.3)
                start = d * 86400.0 + rng.uniform(0, 40000.0)
                for _ in range(n_sessions):
                    dur = rng.uniform(2400.0, 4800.0)
                    dt = period_s[a] * rng.uniform(0.6, 1.4, int(dur / period_s[a]) + 1)
                    t = start + np.cumsum(dt)
                    t = t[t < start + dur]
                    phase = rng.uniform(0, 2 * np.pi)
                    v = (level[a] + swing[a] * np.sin(2 * np.pi * t / rhythm_s[a] + phase)
                         + rng.normal(0, swing[a] * 0.5 + 5.0, len(t)))
                    ts_parts.append(t)
                    uid_parts.append(np.full(len(t), u, dtype=np.int64))
                    act_parts.append(np.full(len(t), a_i, dtype=np.int8))
                    val_parts.append(np.round(np.maximum(v, 0.0), 2))
                    start = t[-1] + rng.uniform(2000.0, 6000.0)
    ts = np.concatenate(ts_parts)
    order = np.argsort(ts, kind="stable")
    ts_us = EPOCH_2024_US + np.round(ts[order] * 1e6).astype(np.int64)
    n = len(ts_us)
    acts = np.array(ACTIVITIES, dtype=object)[np.concatenate(act_parts)[order]]
    props = np.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)], dtype=object)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(np.concatenate(uid_parts)[order]),
        "event_type": pa.array(acts, type=pa.string()),
        "value": pa.array(np.concatenate(val_parts)[order]),
        "props": pa.array(props, type=pa.string()),
    })


def _texts(rng: np.random.Generator, n: int) -> list:
    zipf = 1.0 / np.arange(1, len(WORDS) + 1) ** 0.8
    zipf /= zipf.sum()
    lens = rng.integers(10, 70, n)
    return [" ".join(rng.choice(WORDS, size=k, p=zipf)) for k in lens]


def _docs_table(rng: np.random.Generator, texts: list) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), type=pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def documents_stream(rng: np.random.Generator, batches: int, batch_docs: int,
                     copy_share: float):
    """Batch b holds doc ids [b*batch_docs, (b+1)*batch_docs). From batch
    1 on, a share of each batch are exact copies of documents from
    earlier batches; they are the planted copies the stream must flag."""
    texts = _texts(rng, batches * batch_docs)
    planted = []
    for b in range(1, batches):
        lo = b * batch_docs
        picks = rng.choice(batch_docs, size=int(batch_docs * copy_share), replace=False)
        for p in sorted(picks):
            i = lo + int(p)
            src = int(rng.integers(0, lo))
            texts[i] = texts[src]
            planted.append([i, src])
    return _docs_table(rng, texts), planted


def generate(root: str, workload: str, seed: int) -> str:
    """Returns the input directory, generating it on a cache miss."""
    size = SIZES[workload]
    key = "-".join("%s%s" % (k, v) for k, v in sorted(size.items()))
    out = os.path.join(root, workload, "v%d-seed%d-%s" % (VERSION, seed, key))
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables, extra = {}, {}
    if workload == "activity-dense":
        tables["events"] = _write(events(_rng(workload, seed, "events"), size["users"],
                                         size["days"]), os.path.join(tmp, "events.parquet"))
    elif workload == "ingest-stream":
        docs, planted = documents_stream(_rng(workload, seed, "documents"), size["batches"],
                                         size["batch_docs"], size["copy_share"])
        tables["documents"] = _write(docs, os.path.join(tmp, "documents.parquet"))
        # the stream client's feed: (doc_id, text) in doc_id order, so the
        # harness needs no Spark job to read it
        with open(os.path.join(tmp, "feed.json"), "w") as f:
            json.dump([[int(i), t] for i, t in zip(docs["doc_id"].to_pylist(),
                                                   docs["text"].to_pylist())], f)
        extra = {"batch_docs": size["batch_docs"], "planted": planted}
    else:
        raise ValueError("unknown workload " + workload)
    manifest = {"workload": workload, "seed": seed, "size": size, "tables": tables}
    manifest.update(extra)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(generate(sys.argv[1], sys.argv[2], int(sys.argv[3])))
