"""Seeded input generators.  The same (seed, parameters) always gives
byte-identical files, so inputs are cached by that key and made
outside any timed region.

Parameter choices (the notes file repeats them):

* Ticks: SYMBOLS = 8 symbols, the size of a small asset catalog, and
  enough keys that every merge touches several files per date.
  TICKS_PER_DAY = 250 per symbol keeps a scheduled run at about the
  engine's fixed per-run cost (about 5 s at four cores), so one benchmark
  run fits the bootstrap and five scheduled runs.
  LATE_SHARE = 5 % of each day's ticks belong to one of the 3 days
  before, so each merge rewrites old date partitions as well as the
  new one; 3 days is far inside the 30-day watermark, so no tick is
  dropped and the streamed store must equal the one-shot batch.
  BOOTSTRAP_DAYS = 30 is the reference's FETCH_DAYS_HISTORY.
* Curation: BATCH_DOCS = 40 documents per hourly arrival, so a batch
  costs about the stream's fixed per-trigger price; BATCHES = 11 hourly
  arrivals, so one pass (with the flush) is a dozen batches;
  NEAR_DUP_SHARE = 15 % of arrivals copy (half verbatim, half with one
  word changed) a document from the same or the previous hour, so the
  near-dup gate both keeps and drops documents in every run.
"""

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYMBOLS = 8
TICKS_PER_DAY = 250
LATE_SHARE = 0.05
LATE_DAYS = 3
BOOTSTRAP_DAYS = 30
ARRIVAL_DAYS = 40

BATCH_DOCS = 40
BATCHES = 11
NEAR_DUP_SHARE = 0.15
FLUSH_ID = 9_000_000

DAY_MS = 86_400_000
START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def ticks_params():
    return dict(symbols=SYMBOLS, ticks_per_day=TICKS_PER_DAY, late_share=LATE_SHARE,
                late_days=LATE_DAYS, bootstrap_days=BOOTSTRAP_DAYS,
                arrival_days=ARRIVAL_DAYS)


def curation_params():
    return dict(batch_docs=BATCH_DOCS, batches=BATCHES, near_dup_share=NEAR_DUP_SHARE)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _day_ticks(rng, day, symbols, n):
    """n ticks per symbol on `day`: unique millisecond timestamps per
    symbol, prices a random walk around a per-symbol level."""
    rows_ts, rows_sym, rows_val = [], [], []
    for s, sym in enumerate(symbols):
        off = np.sort(rng.integers(0, DAY_MS - n, n)) + np.arange(n)
        price = 50.0 + 10.0 * s + np.cumsum(rng.normal(0.0, 0.2, n))
        rows_ts.append(START_MS + day * DAY_MS + off)
        rows_sym += [sym] * n
        rows_val.append(np.round(price, 4))
    return np.concatenate(rows_ts), rows_sym, np.concatenate(rows_val)


def ticks(seed, out_dir):
    """events_0000.parquet holds the bootstrap history; events_NNNN the
    daily arrivals, each with a share of late ticks from earlier days.
    Late ticks sit on half-millisecond offsets, so (symbol, ts) stays
    unique."""
    rng = np.random.default_rng(seed)
    symbols = [f"SYM{i:02d}" for i in range(SYMBOLS)]
    os.makedirs(out_dir, exist_ok=True)
    next_id = 0

    def table(ts_ms, syms, vals, late_us=None):
        nonlocal next_id
        n = len(syms)
        ts_us = ts_ms.astype(np.int64) * 1000
        if late_us is not None:
            ts_us = ts_us + late_us
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        return pa.table({
            "event_id": ids,
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1000, n), type=pa.int64()),
            "event_type": pa.array(syms, type=pa.string()),
            "value": pa.array(vals, type=pa.float64()),
            "props": pa.array(["{}"] * n, type=pa.string()),
        })

    parts = [_day_ticks(rng, d, symbols, TICKS_PER_DAY) for d in range(BOOTSTRAP_DAYS)]
    _write(table(np.concatenate([p[0] for p in parts]), sum((p[1] for p in parts), []),
                 np.concatenate([p[2] for p in parts])),
           os.path.join(out_dir, "events_0000.parquet"))
    n_late = int(round(TICKS_PER_DAY * LATE_SHARE))
    for k in range(1, ARRIVAL_DAYS + 1):
        day = BOOTSTRAP_DAYS + k - 1
        ts, syms, vals = _day_ticks(rng, day, symbols, TICKS_PER_DAY - n_late)
        lts, lsyms, lvals = _day_ticks(rng, day - int(rng.integers(1, LATE_DAYS + 1)),
                                       symbols, n_late)
        _write(pa.concat_tables([table(ts, syms, vals),
                                 table(lts, lsyms, lvals, late_us=500)]),
               os.path.join(out_dir, f"events_{k:04d}.parquet"))


def _edit(rng, text):
    """Replace one word with another word of the same text, so the copy
    stays inside the corpus vocabulary (the surprisal gate sees it as
    in-domain) and differs from its source in a few shingles."""
    words = text.split()
    i, j = (int(x) for x in rng.integers(0, len(words), 2))
    words[i] = words[j]
    return " ".join(words)


def curation(seed, documents_path, out_path):
    """Hourly arrival batches over the fixture corpus, with near-dups.

    Columns: batch (0-based hour), doc_id, ingest_ts, text.  Each
    batch's timestamps lie inside its hour.  The last batch holds the
    flush documents, timestamped 60 days later so every window closes;
    they are clean corpus texts under ids from FLUSH_ID up.
    """
    rng = np.random.default_rng(seed)
    corpus = pq.read_table(documents_path, columns=["doc_id", "text"]).to_pydict()
    order = rng.permutation(len(corpus["doc_id"]))
    texts = [corpus["text"][i] for i in order]
    ids = [int(corpus["doc_id"][i]) for i in order]
    per_batch = int(round(BATCH_DOCS * (1 - NEAR_DUP_SHARE)))
    rows = {"batch": [], "doc_id": [], "ingest_ts": [], "text": []}
    next_id = 1_000_000
    prev = []
    batch = 0
    for lo in range(0, per_batch * BATCHES, per_batch):
        fresh = list(zip(ids[lo:lo + per_batch], texts[lo:lo + per_batch]))
        pool = fresh + prev
        dups = []
        for j in range(BATCH_DOCS - len(fresh)):
            src = pool[int(rng.integers(0, len(pool)))][1]
            dups.append((next_id, src if j % 2 == 0 else _edit(rng, src)))
            next_id += 1
        docs = fresh + dups
        offs = np.sort(rng.integers(0, 3_600_000, len(docs)))
        for (doc_id, text), off in zip(docs, offs):
            rows["batch"].append(batch)
            rows["doc_id"].append(doc_id)
            rows["ingest_ts"].append(START_MS + batch * 3_600_000 + int(off))
            rows["text"].append(text)
        prev = fresh
        batch += 1
    # flush: long clean texts that pass the stateless gates upstream of
    # the watermark; ids above FLUSH_ID are left out of every check
    clean = [t for t in corpus["text"] if len(re.findall(r"[a-z]+", t.lower())) >= 60][:3]
    for j, text in enumerate(clean):
        rows["batch"].append(batch)
        rows["doc_id"].append(FLUSH_ID + j)
        rows["ingest_ts"].append(START_MS + 60 * DAY_MS + j)
        rows["text"].append(text)
    _write(pa.table({
        "batch": pa.array(rows["batch"], type=pa.int32()),
        "doc_id": pa.array(rows["doc_id"], type=pa.int64()),
        "ingest_ts": pa.array(np.array(rows["ingest_ts"], dtype=np.int64) * 1000,
                              type=pa.timestamp("us", tz="UTC")),
        "text": pa.array(rows["text"], type=pa.string()),
    }), out_path)
