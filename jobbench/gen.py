"""Seeded input generator for the job benchmark.

Writes ``events.parquet`` and ``documents.parquet`` with the exact
parquet schemas of the repository's test tables (the program reads
them through ``sources.load_table``), plus the delivery schedule of
consecutive log slices the ``incremental`` workload lands.  The same
seed gives byte-identical tables.

Usage: python3 jobbench/gen.py OUT_DIR --seed N [--size full|quick]
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "fr", "de")
N_SOURCES = 20
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_S = 30 * 86_400  # the log covers 30 days


@dataclass(frozen=True)
class Size:
    entities: int  # distinct user_id values in the change log
    history_cap: int  # longest per-entity history
    store_share: float  # share of the log (time order) in the initial store
    slice_events: int  # events per incremental delivery
    docs: int  # base documents before planting duplicates


SIZES = {
    "full": Size(
        entities=1000, history_cap=400, store_share=0.85,
        slice_events=16, docs=800,
    ),
    "quick": Size(
        entities=120, history_cap=60, store_share=0.8,
        slice_events=6, docs=80,
    ),
}


def _events(rng: np.random.Generator, size: Size):
    """Heavy-tailed per-entity histories: most entities change a few
    times, a few change hundreds of times.  The lengths are the
    quantiles of a Lomax distribution (alpha 1.2, scale 2) at evenly
    spaced points, shuffled over the entity ids, so every seed has
    the same log size and tail and differs only in which entity has
    which history and when.  Each entity's changes sit on distinct
    2-second slots with < 1 s of jitter, so an entity's timestamps
    are always >= 1 s apart."""
    u = (np.arange(size.entities) + 0.5) / size.entities
    lomax = 2.0 * ((1.0 - u) ** (-1 / 1.2) - 1.0)
    lengths = rng.permutation(
        np.minimum(size.history_cap, 1 + np.floor(lomax)).astype(np.int64)
    )
    slots = SPAN_S // 2
    users, secs = [], []
    for uid, k in enumerate(lengths):
        users.append(np.full(k, uid, dtype=np.int64))
        secs.append(rng.choice(slots, size=k, replace=False) * 2)
    user = np.concatenate(users)
    ts = (
        T0_US
        + np.concatenate(secs) * 1_000_000
        + rng.integers(0, 1_000_000, size=user.size)
    )
    order = np.lexsort((user, ts))  # global log order: time, then entity
    user, ts = user[order], ts[order]
    n = user.size
    table = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": user,
            "event_type": np.asarray(EVENT_TYPES)[
                rng.integers(0, len(EVENT_TYPES), size=n)
            ],
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        },
        schema=EVENTS_SCHEMA,
    )
    return table, lengths


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, size=rng.integers(3, 9))))
    return sorted(words)


def _documents(rng: np.random.Generator, size: Size):
    """Zipf-weighted random texts plus planted duplicates:
    exact groups (copies that differ only in case and whitespace, so
    they share one normalized-text hash) and near-duplicate groups
    (a base doc plus variants with a few tokens substituted: every
    variant stays within Jaccard reach of its base, so each group is
    a near-clique).  A tenth of the docs carry an email, phone number
    or IP address for the curation PII stage."""
    vocab = np.asarray(_vocab(rng, 400))
    p = 1.0 / np.arange(1, vocab.size + 1) ** 1.05
    p /= p.sum()
    pii = ("ops.team@example.org", "555-0137", "10.20.30.40")

    def text(n_tok: int) -> list[str]:
        return list(rng.choice(vocab, size=n_tok, p=p))

    # doc lengths 20..120 tokens, evenly spread (a seed-independent
    # total), in seeded order
    n_tok = rng.permutation(20 + (np.arange(size.docs) * 101) // size.docs)
    base = [text(int(k)) for k in n_tok]
    for i in rng.choice(size.docs, size=size.docs // 10, replace=False):
        pos = int(rng.integers(0, len(base[i])))
        base[i].insert(pos, pii[int(rng.integers(0, len(pii)))])
    texts = [" ".join(t) for t in base]

    exact_groups: list[list[int]] = []
    for src in rng.choice(size.docs, size=size.docs // 25, replace=False):
        group = [int(src)]
        for _ in range(1 + len(exact_groups) % 3):
            toks = texts[src].split(" ")
            variant = "  ".join(toks) if rng.random() < 0.5 else " ".join(toks)
            if rng.random() < 0.5:
                variant = variant.upper()
            texts.append(" " + variant + "  ")
            group.append(len(texts) - 1)
        exact_groups.append(group)

    near_groups: list[list[int]] = []
    for src in rng.choice(size.docs, size=size.docs // 12, replace=False):
        group = [int(src)]
        for _ in range(1 + len(near_groups) % 3):
            toks = base[src].copy()
            for _ in range(max(1, len(toks) // 40)):
                toks[int(rng.integers(0, len(toks)))] = str(
                    rng.choice(vocab, p=p)
                )
            texts.append(" ".join(toks))
            group.append(len(texts) - 1)
        near_groups.append(group)

    n = len(texts)
    table = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(LANGS)[rng.integers(0, len(LANGS), size=n)],
            "source": [
                f"src{s}" for s in rng.integers(0, N_SOURCES, size=n)
            ],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOCUMENTS_SCHEMA,
    )
    return table, exact_groups, near_groups


def generate(out_dir: str, seed: int, size_name: str = "full") -> dict:
    """Write the tables into ``out_dir`` and return the manifest: the
    delivery schedule (event-id bounds of the initial store and of
    each incremental slice) and the planted duplicate groups."""
    size = SIZES[size_name]
    rng = np.random.default_rng(seed)
    events, lengths = _events(rng, size)
    docs, exact_groups, near_groups = _documents(rng, size)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    n = events.num_rows
    store_end = int(n * size.store_share)
    slices = [
        (lo, min(lo + size.slice_events, n))
        for lo in range(store_end, n, size.slice_events)
    ]
    manifest = {
        "seed": seed,
        "size": size_name,
        "n_events": n,
        "n_entities": int(size.entities),
        "history_len": {
            "median": int(np.median(lengths)),
            "p99": int(np.percentile(lengths, 99)),
            "max": int(lengths.max()),
        },
        "store_end": store_end,
        "slices": slices,
        "n_docs": docs.num_rows,
        "exact_groups": exact_groups,
        "near_groups": near_groups,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args()
    m = generate(args.out_dir, args.seed, args.size)
    print(json.dumps({k: v for k, v in m.items() if k not in (
        "slices", "exact_groups", "near_groups")}))


if __name__ == "__main__":
    main()
