"""Seeded input generator: the transcript table and the entity dictionary.

Everything derives from one ``numpy`` generator seeded with ``seed``, so
the same seed writes byte-identical tables. The program under test only
ever sees the written parquet files.

Transcripts ``(conv_id, turn_idx, role, text, tool, ts)``:
- conversation sizes are zipf-like, plus ``HOT_CONVS`` hot conversations
  holding ``HOT_SHARE`` of the turns each; they skew their WAP buckets;
- turn text is sampled from the vendored corpus sample (all ASCII);
- ``DUP_SHARE`` of the turns are re-delivered as exact duplicate rows,
  so quad dedup has real work;
- rows are shuffled and split over ``n_files`` parquet files, so the
  scan has at least that many input splits.

Entity dictionary ``(entity_id, surface, prior)``: a seeded subset of
the corpus vocabulary, some surfaces ambiguous (several entities, some
with tied top priors), plus decoy surfaces that never occur in text.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "data", "corpus.json.gz")

ROLES = ["user", "assistant", "system", "tool"]
ROLE_P = [0.42, 0.42, 0.06, 0.10]
TOOLS = ["search", "python", "browser"]
HOT_CONVS = 3
HOT_SHARE = 0.03
DUP_SHARE = 0.10
MAX_CONV = 120
N_DECOYS = 2000
ENTITY_BASE = "https://example.org/entity/"
# same split the pipeline's mention extraction uses
MENTION_RE = re.compile(r"[^a-z0-9]+")

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
DICT_SCHEMA = pa.schema(
    [("entity_id", pa.string()), ("surface", pa.string()), ("prior", pa.float64())]
)


def load_corpus() -> list[str]:
    with gzip.open(CORPUS, "rb") as f:
        return json.loads(f.read())


def conversation_sizes(rng: np.random.Generator, n_turns: int) -> list[int]:
    """The same multiset of sizes for every seed (drawn from a fixed
    generator), in a seeded order: seeds change which conversation is
    hot and where it hashes, not how skewed the table is."""
    fixed = np.random.default_rng(0)
    hot = [int(n_turns * HOT_SHARE)] * HOT_CONVS
    sizes, total = list(hot), sum(hot)
    while total < n_turns:
        s = int(min(fixed.zipf(1.7), MAX_CONV, n_turns - total))
        sizes.append(s)
        total += s
    return [sizes[i] for i in rng.permutation(len(sizes))]


def transcripts(seed: int, n_turns: int) -> tuple[pa.Table, int]:
    """The transcript table and its number of distinct turns."""
    rng = np.random.default_rng([seed, 1])
    corpus = load_corpus()
    sizes = conversation_sizes(rng, n_turns)
    conv_ids, turn_idx = [], []
    for c, size in enumerate(sizes):
        cid = f"s{seed}-c{c:05d}"
        conv_ids.extend([cid] * size)
        turn_idx.extend(range(size))
    n = len(turn_idx)
    roles = rng.choice(len(ROLES), size=n, p=ROLE_P)
    tools = rng.integers(len(TOOLS), size=n)
    texts = rng.integers(len(corpus), size=n)
    conv_no = np.repeat(np.arange(len(sizes)), sizes)
    epoch0 = int(dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    ts_us = (epoch0 + conv_no * 9_973 + np.asarray(turn_idx) * 7) * 1_000_000
    table = pa.table(
        {
            "conv_id": conv_ids,
            "turn_idx": turn_idx,
            "role": [ROLES[r] for r in roles],
            "text": [corpus[t] for t in texts],
            "tool": [TOOLS[t] if ROLES[r] == "tool" else None for r, t in zip(roles, tools)],
            "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )
    dups = rng.choice(n, size=int(n * DUP_SHARE), replace=False)
    order = rng.permutation(np.concatenate([np.arange(n), dups]))
    return table.take(pa.array(order)), n


def dictionary(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    vocab = sorted(
        {w for t in load_corpus() for w in MENTION_RE.split(t.lower()) if len(w) >= 3}
    )
    picked = rng.choice(len(vocab), size=max(1, (2 * len(vocab)) // 3), replace=False)
    ids, surfaces, priors = [], [], []
    for k, i in enumerate(sorted(picked)):
        surface = vocab[i]
        n_ent = 1 + (k % 3)  # a third of the surfaces are 3-way ambiguous
        p = np.round(rng.uniform(0.001, 0.05, size=n_ent), 6)
        if n_ent == 3 and k % 2 == 0:
            p[2] = p.max()  # tied top prior: ties break on entity_id
        for e in range(n_ent):
            ids.append(f"{ENTITY_BASE}{surface}/{e}")
            surfaces.append(surface)
            priors.append(float(p[e]))
    letters = np.array(list("bcdfghjklmnpqrstvwxz"))
    for d in range(N_DECOYS):
        # vowel-free runs: never a corpus token
        w = "q" + "".join(rng.choice(letters, size=int(rng.integers(4, 9))))
        ids.append(f"{ENTITY_BASE}decoy/{d}")
        surfaces.append(w)
        priors.append(float(np.round(rng.uniform(0.0001, 0.01), 6)))
    return pa.table({"entity_id": ids, "surface": surfaces, "prior": priors}, schema=DICT_SCHEMA)


def write_inputs(seed: int, n_turns: int, n_files: int, out_dir: str) -> dict:
    """Write ``out_dir/transcripts/part-*.parquet`` and
    ``out_dir/dictionary.parquet``; return their paths and sizes."""
    table, distinct_turns = transcripts(seed, n_turns)
    tdir = os.path.join(out_dir, "transcripts")
    os.makedirs(tdir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(tdir, f"part-{i:03d}.parquet"),
        )
    dict_path = os.path.join(out_dir, "dictionary.parquet")
    pq.write_table(dictionary(seed), dict_path)
    return {
        "transcripts": tdir,
        "dictionary": dict_path,
        "rows": table.num_rows,
        "turns": distinct_turns,
    }
