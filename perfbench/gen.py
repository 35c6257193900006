"""Seeded input generators for the benchmark.

Every generator is a pure function of its parameters and the seed: the same
seed writes byte-for-byte the same columns, and `content_hash` over the
generated arrays proves it. The parameters and the hash are written beside
the data (`inputs.json`), so a rerun can show its inputs are identical.

MEDS shard (`meds_arrays`): long/tidy rows `(subject_id, time, code,
numeric_value)`.
  - events per subject are heavy-tailed (Pareto);
  - codes: the task codes at stated per-event rates, the rest drawn from a
    Zipf vocabulary of `MEDS_VOCAB` background codes (`LAB//k` with a
    numeric value, `DX//k` without);
  - a share `DUP_SHARE` of rows repeats the previous row's instant
    (same-instant duplicates, so the engine's collapse does work);
  - one null-time demographic row per subject (`GENDER//F` / `GENDER//M`);
  - timestamps carry microseconds, so no event lands exactly on a window
    boundary by accident.

Documents (`doc_arrays`): a corpus drawn with the statistics measured on
the sf0.1 `documents.parquet` test table (5000 documents).
"""

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Task codes and their per-event rates; the rest of the events draw from
# the background vocabulary. The trigger rate sets the task's selectivity.
TASK_CODES = {
    "ADMISSION": 0.020,
    "DISCHARGE": 0.018,
    "DEATH": 0.002,
}
MEDS_VOCAB = 300
DUP_SHARE = 0.1
MEAN_GAP_H = 8.0

# Measured on sf0.1 documents.parquet: 30 words drawn uniformly (8829-9182
# uses each), 10-99 tokens per document drawn uniformly, and 250 of 5000
# documents (5 %) a copy of another document with the token `dup`
# appended; languages en 2059, zh 753, es 744, fr 742, de 702.
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join key line "
             "merge order part query row scan slow small sort spark stream table the "
             "value vector window").split()
DOC_TOKENS = (10, 99)
NEAR_COPY_SHARE = 0.05
DOC_LANGS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}

# Any integer seed maps to a distinct generator seed (negative ones too).
SEED_MASK = (1 << 64) - 1

EPOCH_2018_US = 1514764800 * 1_000_000
US_PER_HOUR = 3600 * 1_000_000


def content_hash(arrays):
    h = hashlib.sha256()
    for a in arrays:
        if isinstance(a, np.ndarray) and a.dtype != object:
            h.update(str(a.dtype).encode())
            h.update(np.ascontiguousarray(a).tobytes())
        else:
            h.update("\x1f".join("" if v is None else str(v) for v in a).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def meds_arrays(seed, rows, subjects):
    rng = np.random.default_rng(seed & SEED_MASK)
    # Heavy-tailed events per subject, scaled to the requested row count.
    w = rng.pareto(1.5, subjects) + 1.0
    per = np.maximum(1, np.floor(w / w.sum() * rows)).astype(np.int64)
    n = int(per.sum())
    subj = np.repeat(np.arange(1, subjects + 1, dtype=np.int64), per)

    # Per-subject timelines: exponential gaps from a random start.
    starts = EPOCH_2018_US + rng.integers(0, 4 * 365 * 24, subjects) * US_PER_HOUR
    gaps = rng.exponential(MEAN_GAP_H * US_PER_HOUR, n)
    gaps = np.maximum(gaps.astype(np.int64), 1)
    dup = rng.random(n) < DUP_SHARE
    gaps[dup] = 0
    first = np.zeros(n, dtype=bool)
    first[np.cumsum(per) - per] = True
    gaps[first] = 0
    seg = np.cumsum(gaps)
    offsets = seg - np.repeat(seg[first], per)
    time_us = np.repeat(starts, per) + offsets

    # Codes: task codes at fixed rates, else Zipf background.
    names = list(TASK_CODES)
    rates = np.array([TASK_CODES[c] for c in names])
    u = rng.random(n)
    cut = np.cumsum(rates)
    task_idx = np.searchsorted(cut, u, side="right")
    z = (rng.zipf(1.3, n) - 1) % MEDS_VOCAB
    lab = z % 2 == 0
    background = np.where(lab, np.char.add("LAB//", z.astype(str)),
                          np.char.add("DX//", z.astype(str)))
    code = np.where(task_idx < len(names),
                    np.array(names + [""])[np.minimum(task_idx, len(names))],
                    background).astype(object)
    numeric = np.where((task_idx >= len(names)) & lab,
                       np.round(rng.normal(100.0, 15.0, n), 3), np.nan).astype(np.float32)

    # One null-time demographic row per subject.
    sex = np.where(rng.random(subjects) < 0.5, "GENDER//F", "GENDER//M").astype(object)
    subj = np.concatenate([np.arange(1, subjects + 1, dtype=np.int64), subj])
    time_us = np.concatenate([np.zeros(subjects, dtype=np.int64), time_us])
    time_null = np.concatenate([np.ones(subjects, dtype=bool), np.zeros(n, dtype=bool)])
    code = np.concatenate([sex, code])
    numeric = np.concatenate([np.full(subjects, np.nan, dtype=np.float32), numeric])
    return {"subject_id": subj, "time_us": time_us, "time_null": time_null,
            "code": code, "numeric_value": numeric}


def write_meds(path, cols):
    t = pa.table({
        "subject_id": pa.array(cols["subject_id"], pa.int64()),
        "time": pa.array(cols["time_us"], pa.timestamp("us"), mask=cols["time_null"]),
        "code": pa.array(cols["code"], pa.string()),
        "numeric_value": pa.array(cols["numeric_value"], pa.float32(),
                                  mask=np.isnan(cols["numeric_value"])),
    })
    pq.write_table(t, path, row_group_size=256 * 1024)
    return t.num_rows


def doc_arrays(seed, docs):
    """Documents with ids 0..docs-1: each draws its length and words
    uniformly, and a share NEAR_COPY_SHARE of them is replaced by another
    document's words with `dup` appended.
    """
    rng = np.random.default_rng(seed & SEED_MASK)
    words = np.array(DOC_WORDS, dtype=object)
    lo, hi = DOC_TOKENS
    toks = [list(words[rng.integers(0, len(words), int(rng.integers(lo, hi + 1)))])
            for _ in range(docs)]
    originals = list(toks)
    for i in rng.choice(docs, int(round(docs * NEAR_COPY_SHARE)), replace=False):
        toks[i] = originals[(i + int(rng.integers(1, docs))) % docs] + ["dup"]
    langs = list(DOC_LANGS)
    share = np.array([DOC_LANGS[k] for k in langs], dtype=float)
    return {"doc_id": np.arange(docs, dtype=np.int64),
            "lang": np.array(langs, dtype=object)[rng.choice(len(langs), docs, p=share / share.sum())],
            "text": np.array([" ".join(t) for t in toks], dtype=object)}


def write_docs(path, cols):
    t = pa.table({"doc_id": pa.array(cols["doc_id"], pa.int64()),
                  "lang": pa.array(cols["lang"], pa.string()),
                  "text": pa.array(cols["text"], pa.string())})
    pq.write_table(t, path)
    return t.num_rows


def write_manifest(dir_, params, digest, rows):
    with open(os.path.join(dir_, "inputs.json"), "w") as f:
        json.dump({"params": params, "content_sha256": digest, "rows": rows}, f,
                  indent=1, sort_keys=True)
