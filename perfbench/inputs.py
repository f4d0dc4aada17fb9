"""Seeded input generation for the benchmark workloads.

Every input is a pure function of the workload seed and is written under
the run's work directory before any timing starts. The WAL comes from the
repository's own generator (``gen.walgen``); its document payloads are drawn
from a synthetic template corpus made here, so a run reads nothing outside
its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# The template vocabulary of the repository's synthetic document fixtures.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.39, 0.16, 0.16, 0.15, 0.14)


def make_docs(path: str, n_docs: int, seed: int) -> pd.DataFrame:
    """Template-drawn documents (doc_id, text, lang, source, n_chars): 10 to
    100 words drawn uniformly from VOCAB, the shape of the fixture corpus."""
    rng = np.random.RandomState(seed)
    n_words = rng.randint(10, 101, size=n_docs)
    words = np.asarray(VOCAB)
    texts = [" ".join(words[rng.randint(0, len(words), size=n)]) for n in n_words]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
            "source": [f"src{i % 5}" for i in range(n_docs)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    docs.to_parquet(path, index=False)
    return docs


def make_wal(wal_dir: str, docs_path: str, seed: int, **wal_kw):
    """Run gen.walgen into ``wal_dir`` and return (config, oracle frame)."""
    from gen.walgen import WalConfig, generate_wal

    cfg = WalConfig(seed=seed, docs_parquet=docs_path, **wal_kw)
    oracle = generate_wal(wal_dir, cfg)
    return cfg, oracle


def read_events(wal_dir: str) -> pd.DataFrame:
    """All WAL events, as the frame the generator's oracle consumes (one
    fetch_status column, NULL for v1 segments)."""
    from cdc_engine.source import list_segments

    frames = []
    for _first, _ver, path in list_segments(wal_dir):
        t = pq.read_table(path).to_pandas()
        if "fetch_status" not in t.columns:
            t["fetch_status"] = pd.array([pd.NA] * len(t), dtype="Int32")
        frames.append(t)
    ev = pd.concat(frames, ignore_index=True)
    ev["fetch_status"] = ev["fetch_status"].astype("Int32")
    return ev


def wal_shape(wal_dir: str, cfg) -> dict:
    """Input shape recorded in every run's output: events, epochs, distinct
    urls, payload bytes and op mix."""
    ev = read_events(wal_dir)
    seg_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(wal_dir)
        for f in files
        if f.startswith("segment-")
    )
    ops = ev["op"].value_counts()
    return {
        "events": int(len(ev)),
        "epochs": int(-(-len(ev) // cfg.events_per_epoch)),
        "events_per_epoch": int(cfg.events_per_epoch),
        "distinct_urls": int(ev["url"].nunique()),
        "payload_bytes": int(ev["html"].dropna().map(len).sum()),
        "segment_bytes": int(seg_bytes),
        "op_mix": {k: round(int(ops.get(k, 0)) / len(ev), 4) for k in ("insert", "update", "delete")},
        "schema_change_at_epoch": cfg.schema_change_at_epoch,
    }
