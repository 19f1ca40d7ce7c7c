"""Seeded input generator for the perfbench workloads.

Every table is drawn from one numpy generator seeded with (seed,
workload), so one seed always yields byte-identical parquet. Output lands in a per-(workload,
seed, size) cache directory with a ``manifest.json`` recording rows and
bytes per table; an existing manifest whose generator hash matches is
reused as is.

Shapes follow the engine's test corpus schema:

* ``events`` (event_id, ts, user_id, event_type, value, props). Geo
  derives a point from ``event_id mod 100000``, so ids are drawn as
  distinct random values below 3e9: dense ids past 100000 would stack
  every copy on the same pixel set, and ids above ~3.4e9 overflow
  ``event_id * 2654435761`` (ANSI mode throws).
* ``documents`` (doc_id, text, lang, source, n_chars): bag-of-words
  over a 30-word vocabulary, 5% near-duplicates (a copy of another
  document plus the token ``dup``). Written as part files so a pass
  can rewrite one part; ``variants/`` holds seeded same-row-count
  replacements for that. Variant ``i`` bijects every token by tagging it
  with ``v<i>`` (the DebugReplicate scheme), so rewritten parts stay
  disjoint from the rest of the corpus and from each other. A tagged
  token is cut to ``MAX_WORD`` characters: the unigram tokenizer's DuckDB
  oracle unrolls its Viterbi DP over 8 character positions, so it cannot
  segment a longer word and would report a mismatch that is not the
  engine's.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
MAX_WORD = 8  # longest word the tokenizer oracles segment (TextOps UNI_POS)
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000

# Input sizes per workload: (full run, smoke run).
SIZES = {
    "geo_job": {"events": (20_000, 5_000)},
    "corpus_churn": {"documents": (500, 200), "doc_parts": (4, 2), "variants": (24, 4)},
}


def _events(rng, n, days=30):
    ids = np.unique(rng.integers(0, 3_000_000_000, size=n + n // 8 + 16))
    ids = np.sort(rng.permutation(ids)[:n])
    ts = np.sort(rng.integers(T0_US, T0_US + days * DAY_US, size=n))
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n // 60, 10), size=n), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array(props, pa.string()),
    })


def _tagged(word, tag):
    """``word`` tagged for a variant, at most ``MAX_WORD`` characters."""
    return word[:MAX_WORD - len(tag)] + tag if tag else word


def _texts(rng, n, tag=""):
    vocab = [_tagged(w, tag) for w in VOCAB]
    lens = rng.integers(10, 101, size=n)
    texts = [" ".join(vocab[i] for i in rng.integers(0, len(vocab), size=k))
             for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " " + _tagged("dup", tag)
    return texts


def _documents(rng, doc_ids, tag=""):
    n = len(doc_ids)
    texts = _texts(rng, n, tag)
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(5, size=n, p=LANG_P)]),
        "source": pa.array([f"src{d % 20}" for d in doc_ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _write(table, path, row_groups=1):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path,
                   row_group_size=max(1, -(-table.num_rows // row_groups)))


def _generator_hash():
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _tree_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def generate(workload, seed, out_dir, smoke=False):
    """Write the workload's inputs for ``seed`` into ``out_dir`` (cached)."""
    gen_hash = _generator_hash()
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.get("generator") == gen_hash:
            return manifest
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    size = {k: v[1 if smoke else 0] for k, v in SIZES[workload].items()}
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    tables = {}
    if workload == "geo_job":
        path = os.path.join(out_dir, "data", "events.parquet")
        _write(_events(rng, size["events"]), path, row_groups=8)
        tables["events"] = path
    elif workload == "corpus_churn":
        n, parts = size["documents"], size["doc_parts"]
        docs = os.path.join(out_dir, "data", "documents.parquet")
        bounds = np.linspace(0, n, parts + 1).astype(int)
        for p in range(parts):
            ids = np.arange(bounds[p], bounds[p + 1])
            _write(_documents(rng, ids), os.path.join(docs, f"part-{p:05d}.parquet"))
        for v in range(size["variants"]):
            p = v % parts
            ids = np.arange(bounds[p], bounds[p + 1])
            _write(_documents(rng, ids, tag=f"v{v}"),
                   os.path.join(out_dir, "variants", f"v{v:03d}-part-{p:05d}.parquet"))
        tables["documents"] = docs
    else:
        raise ValueError(f"unknown workload {workload}")
    manifest = {
        "workload": workload, "seed": seed, "smoke": smoke, "generator": gen_hash,
        "tables": {
            name: {"rows": pq.ParquetDataset(path).read(columns=[]).num_rows,
                   "bytes": _tree_bytes(path)}
            for name, path in tables.items()},
    }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
