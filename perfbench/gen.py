"""Seeded input generators for the two workloads (numpy + pyarrow).

The library only ever sees the parquet files written here. Every shape
(entity count, per-entity event counts, family sizes, batch sizes) is a
module constant or a deterministic function of rank, so two seeds do the
same amount of work; the seed only decides *which* entity gets which
count, the timestamps and the values.

Exactness contract the oracles rely on:

- every numeric value is a multiple of 1/4 and small, so sums, means
  and comparisons are exact in float64 whatever the summation order;
- timestamps are whole seconds and unique per entity (per conversation
  for transcripts), so earliest/latest and Gorilla round-trips have no
  ties.

Inputs for a (workload, seed) pair are written once under
``<work>/inputs/`` and reused by later runs with the same seed.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when a generator changes, so stale cached inputs are rebuilt
GEN_VERSION = 7

US = 1_000_000
DAY_S = 86_400

# ------------------------------------------------------------ flatten_wide
FW_ENTITIES = 400
FW_PRED_WEEKS = 13
FW_GRID_START = dt.datetime(2021, 1, 4)  # a Monday
FW_CHANNELS = ("lab", "vital", "med")
FW_EVENTS_PER_CHANNEL = 12_000
FW_MIN_EVENTS = 2
FW_ZIPF_S = 1.1
FW_HISTORY_DAYS = 400  # events reach this far before the first grid week
#: the short op's prediction frame: the entities at these event-count
#: ranks (0 = most events), so every seed's cohort does the same work
FW_COHORT_RANKS = (1, 3, 7, 15, 31, 63, 127, 191, 255, 319, 383, 399)
FW_LOOKBEHIND_DAYS = (7, 30, 90, 365)
FW_AGGS = ("mean", "max", "count", "slope", "latest")
FW_OUTCOME_DAYS = 30

# ---------------------------------------------------------- transcript_ops
TI_START = dt.datetime(2024, 3, 4)
TI_BASE_DAYS = 1
TI_BASE_CONVS = 200
TI_MAX_TURNS = 240
TI_MIN_TURNS = 3
TI_BATCHES = 16
TI_BATCH_CONVS = 6
TI_VALUE_COLS = ("tokens", "latency")
# every fourth batch, from the first, lands on a new day after the stored
# ones; the others land late and reopen a seeded stored day (a position
# rule, so every seed ingests the same mix)
CD_DOCS = 800
CD_FAMILIES = 80
CD_FAMILY_MAX = 40
CD_BOILERPLATE = 120  # one family large enough to make a hot LSH bucket
CD_VOCAB = 6000
CD_MIN_WORDS, CD_MAX_WORDS = 40, 90
CD_MAX_EDITS = 4


def _zipf_counts(n: int, total: int, s: float, floor: int) -> np.ndarray:
    """Per-rank counts summing to about ``total``; a function of rank only."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return np.maximum(floor, np.floor(total * w / w.sum()).astype(np.int64))


def _quarters(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """``n`` values drawn from {lo/4, ..., hi/4}."""
    return rng.integers(lo, hi + 1, size=n).astype(np.float64) / 4.0


def _unique_seconds(rng: np.random.Generator, lo_s: int, span_s: int, n: int) -> np.ndarray:
    return lo_s + np.sort(rng.choice(span_s, size=n, replace=False)).astype(np.int64)


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype(np.int64) * US, type=pa.timestamp("us"))


def _epoch_s(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp())


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---------------------------------------------------------------- flatten

def gen_flatten_wide(out: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    n = FW_ENTITIES
    grid0 = _epoch_s(FW_GRID_START)
    week = 7 * DAY_S
    # each entity: FW_PRED_WEEKS consecutive weekly prediction times
    offsets = rng.integers(0, 27, size=n)
    ent = np.repeat(np.arange(n, dtype=np.int64), FW_PRED_WEEKS)
    pred_s = grid0 + (np.repeat(offsets, FW_PRED_WEEKS) + np.tile(np.arange(FW_PRED_WEEKS), n)) * week
    _write(pa.table({"entity_id": ent, "pred_timestamp": _ts(pred_s)}), f"{out}/pred.parquet")

    # rank -> entity, shared by the channels: the seed moves the hot entities
    owner = rng.permutation(n)
    keep = np.isin(ent, owner[list(FW_COHORT_RANKS)])
    _write(
        pa.table({"entity_id": ent[keep], "pred_timestamp": _ts(pred_s[keep])}),
        f"{out}/pred_cohort.parquet",
    )

    lo = grid0 - FW_HISTORY_DAYS * DAY_S
    span = (27 + FW_PRED_WEEKS) * week + (FW_HISTORY_DAYS + 35) * DAY_S
    counts = _zipf_counts(n, FW_EVENTS_PER_CHANNEL, FW_ZIPF_S, FW_MIN_EVENTS)
    for channel in FW_CHANNELS:
        ids, secs = [], []
        for rank, e in enumerate(owner):
            ids.append(np.full(counts[rank], e, dtype=np.int64))
            secs.append(_unique_seconds(rng, lo, span, int(counts[rank])))
        ids_a, secs_a = np.concatenate(ids), np.concatenate(secs)
        _write(
            pa.table(
                {
                    "entity_id": ids_a,
                    "timestamp": _ts(secs_a),
                    channel: _quarters(rng, -400, 400, len(ids_a)),
                }
            ),
            f"{out}/{channel}.parquet",
        )

    # outcome events: 0-3 per entity by rank, inside the prediction range
    n_out = np.arange(n) % 4
    owner = rng.permutation(n)
    ids, secs = [], []
    for rank, e in enumerate(owner):
        if n_out[rank]:
            ids.append(np.full(n_out[rank], e, dtype=np.int64))
            secs.append(_unique_seconds(rng, grid0, (27 + FW_PRED_WEEKS) * week, int(n_out[rank])))
    _write(
        pa.table({"entity_id": np.concatenate(ids), "timestamp": _ts(np.concatenate(secs))}),
        f"{out}/outcome.parquet",
    )
    all_ids = np.arange(n, dtype=np.int64)
    _write(
        pa.table({"entity_id": all_ids, "score": _quarters(rng, 0, 400, n)}),
        f"{out}/static.parquet",
    )
    birth_s = grid0 - rng.integers(18 * 365, 90 * 365, size=n) * DAY_S - rng.integers(0, DAY_S, size=n)
    _write(pa.table({"entity_id": all_ids, "timestamp": _ts(birth_s)}), f"{out}/birth.parquet")


# ------------------------------------------------------------ transcripts

def _conversations(
    rng: np.random.Generator, conv_ids: list[str], lengths: np.ndarray, lo_s: int, span_s: int
) -> pa.Table:
    """Transcript rows: sub-minute turn gaps, strictly increasing ts per conv."""
    cols = {"conv_id": [], "turn_idx": [], "secs": []}
    for cid, n in zip(conv_ids, lengths):
        n = int(n)
        start = lo_s + int(rng.integers(0, span_s))
        gaps = rng.integers(5, 56, size=n)
        gaps[0] = 0
        cols["conv_id"].append(np.full(n, cid, dtype=object))
        cols["turn_idx"].append(np.arange(n, dtype=np.int32))
        cols["secs"].append(start + np.cumsum(gaps))
    secs = np.concatenate(cols["secs"])
    total = len(secs)
    return pa.table(
        {
            "conv_id": pa.array(np.concatenate(cols["conv_id"]), type=pa.string()),
            "turn_idx": pa.array(np.concatenate(cols["turn_idx"]), type=pa.int32()),
            "ts": _ts(secs),
            "tokens": _quarters(rng, 4, 8000, total),
            "latency": _quarters(rng, 0, 400, total),
        }
    )


def _gen_tiers(out: str, rng: np.random.Generator, seed: int) -> None:
    start = _epoch_s(TI_START)
    lengths = _zipf_counts(TI_BASE_CONVS, TI_BASE_CONVS * 40, 0.9, TI_MIN_TURNS)
    lengths = np.minimum(lengths, TI_MAX_TURNS)[rng.permutation(TI_BASE_CONVS)]
    ids = [f"c{seed % 1000:03d}-{i:05d}" for i in range(TI_BASE_CONVS)]
    # conversations start early enough to end inside the base days
    base = _conversations(rng, ids, lengths, start, TI_BASE_DAYS * DAY_S - 4 * 3600)
    _write(base, f"{out}/base.parquet")

    batch_len = np.minimum(_zipf_counts(TI_BATCH_CONVS, TI_BATCH_CONVS * 20, 0.9, TI_MIN_TURNS), 120)
    for b in range(TI_BATCHES):
        day = int(rng.integers(0, TI_BASE_DAYS)) if b % 4 else TI_BASE_DAYS + b // 4
        bids = [f"b{b:03d}-{i:03d}" for i in range(TI_BATCH_CONVS)]
        lens = batch_len[rng.permutation(TI_BATCH_CONVS)]
        tbl = _conversations(rng, bids, lens, start + day * DAY_S, DAY_S - 3 * 3600)
        _write(tbl, f"{out}/batches/batch-{b:03d}.parquet")


# ------------------------------------------------------------------ dedup

def _edit(rng: np.random.Generator, words: np.ndarray, n_edits: int) -> np.ndarray:
    w = words.copy()
    pos = rng.choice(len(w), size=n_edits, replace=False)
    w[pos] = rng.integers(0, CD_VOCAB, size=n_edits)
    return w


def _gen_corpus(out: str, rng: np.random.Generator) -> None:
    sizes = np.minimum(_zipf_counts(CD_FAMILIES, CD_FAMILIES * 6, 1.0, 2), CD_FAMILY_MAX)
    texts: list[str] = []

    def render(ws: np.ndarray) -> str:
        return " ".join(f"w{x}" for x in ws)

    # boilerplate: one template, each copy differs only in its last word
    tmpl = rng.integers(0, CD_VOCAB, size=CD_MAX_WORDS)
    for i in range(CD_BOILERPLATE):
        texts.append(render(tmpl) + f" n{i}")
    for size in sizes:
        base = rng.integers(0, CD_VOCAB, size=int(rng.integers(CD_MIN_WORDS, CD_MAX_WORDS + 1)))
        texts.append(render(base))
        for _ in range(int(size) - 1):
            texts.append(render(_edit(rng, base, int(rng.integers(0, CD_MAX_EDITS + 1)))))
    while len(texts) < CD_DOCS:
        texts.append(render(rng.integers(0, CD_VOCAB, size=int(rng.integers(CD_MIN_WORDS, CD_MAX_WORDS + 1)))))
    texts = texts[:CD_DOCS]
    order = rng.permutation(CD_DOCS)
    doc_ids = np.arange(CD_DOCS, dtype=np.int64)
    corpus = pa.table({"doc_id": doc_ids, "text": pa.array([texts[i] for i in order], type=pa.string())})
    _write(corpus, f"{out}/corpus.parquet")


def gen_transcript_ops(out: str, seed: int) -> None:
    """Transcript store inputs (base + ingest batches) and a text corpus."""
    _gen_tiers(out, np.random.default_rng([seed, 2]), seed)
    _gen_corpus(out, np.random.default_rng([seed, 3]))


GENERATORS = {
    "flatten_wide": gen_flatten_wide,
    "transcript_ops": gen_transcript_ops,
}


def ensure_inputs(work: str, workload: str, seed: int) -> str:
    """Directory holding the inputs of (workload, seed); generated once."""
    out = os.path.join(work, "inputs", f"{workload}-s{seed}-v{GEN_VERSION}")
    if os.path.isfile(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    GENERATORS[workload](tmp, seed)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    open(os.path.join(out, "_DONE"), "w").close()
    return out
