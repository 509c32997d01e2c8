"""Seeded input generator for the graft end-to-end benchmark.

Every table is a pure function of (workload, seed, size): the same seed
gives byte-identical parquet files, and another seed gives the same row
counts, file counts, row-group layout and column types with different
values. Shapes follow the engine's documented table contracts:

* ``events``: event_id (monotone, unique), ts (timestamp[us], monotone),
  user_id, event_type (5 kinds), value (2-decimal double), props
  (``{"k": n}`` JSON). ``graft.cdc.ChangeEvents`` derives the changelog
  from it (pk = user_id, commit_ts = event_id).
* ``documents``: doc_id, text (10-100 tokens over a 30-word vocabulary),
  lang, source (``src<doc_id % 20>``; src0 is the benchmark-holdout
  source), n_chars. About 5% of documents are near-duplicates (another
  document's text plus one token) and 0.2% exact copies, so the dedup
  graph has real edges.

Layouts:

* backfill: ``events.parquet/`` holds ``REGIONS`` files (one per
  upstream region of the initial scan), each written as two row
  groups, so the scan splits across cores.
* catch-up: ``events.parquet/`` holds one small file per upstream
  commit batch; a file-stream source replays them one per trigger.
* curation: one ``documents.parquet`` shard, one row group, the way the
  corpus tiers ship it.

Each workload gets a ``full`` input (timed) and a ``warm`` input
(warm-up passes, and the probe input of traced runs) from separate
streams of the seed.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
PROPS = ['{"k": %d}' % k for k in range(100)]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
WORKLOADS = ["changefeed_backfill", "changefeed_catchup", "curation_corpus"]
T0_US = 1704067200 * 1_000_000          # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 1_000_000        # a 30-day upstream history

# Sizes per workload: (timed input, warm-up input). The warm-up input is
# as large as the timed one: the JIT converges over passes of full size.
REGIONS = 8
BACKFILL_EVENTS, BACKFILL_WARM = 160_000, 160_000
CATCHUP_FILES, CATCHUP_FILE_EVENTS, CATCHUP_WARM_FILES = 120, 500, 6
CURATION_DOCS, CURATION_WARM = 400, 400


def _events(rng, first_id, n, total, n_users):
    """`n` events with ids first_id.. out of a `total`-event history."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    step = max(1, SPAN_US // total)
    ts = T0_US + ids * step + rng.integers(0, step, n, dtype=np.int64)
    return pa.table({
        "event_id": pa.array(ids),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES).take(
            pa.array(rng.integers(0, len(EVENT_TYPES), n))),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(PROPS).take(pa.array(rng.integers(0, 100, n))),
    })


def _write(table, path, row_group_size=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy",
                   row_group_size=row_group_size or max(1, table.num_rows))


def backfill(rng, out, n):
    """One region-partitioned initial scan: REGIONS files x 2 row groups."""
    per = n // REGIONS
    for r in range(REGIONS):
        t = _events(rng, r * per, per, n, n_users=max(1, n // 10))
        _write(t, f"{out}/events.parquet/region-{r:02d}.parquet",
               row_group_size=(per + 1) // 2)
    return per * REGIONS


def catchup(rng, out, files, per_file):
    """A backlog of small commit-batch files, in commit order."""
    n = files * per_file
    for f in range(files):
        t = _events(rng, f * per_file, per_file, n, n_users=max(1, n // 4))
        _write(t, f"{out}/events.parquet/batch-{f:05d}.parquet")
    return n


def curation(rng, out, n):
    """One documents shard with near-duplicate and exact-copy edges."""
    texts = []
    kind = rng.random(n)
    src_of = rng.integers(0, max(1, n), n)
    for i in range(n):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[src_of[i] % i] + " dup")
        elif i > 0 and kind[i] < 0.052:
            texts.append(texts[src_of[i] % i])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    t = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(LANGS).take(pa.array(rng.choice(len(LANGS), n, p=LANG_P))),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    _write(t, f"{out}/documents.parquet")
    return n


def generate(workload, seed, out, parts=("full", "warm")):
    """Write each part under out/<part>; returns {part: input rows}."""
    writers = {
        "changefeed_backfill": {
            "full": lambda r, o: backfill(r, o, BACKFILL_EVENTS),
            "warm": lambda r, o: backfill(r, o, BACKFILL_WARM)},
        "changefeed_catchup": {
            "full": lambda r, o: catchup(r, o, CATCHUP_FILES, CATCHUP_FILE_EVENTS),
            "warm": lambda r, o: catchup(r, o, CATCHUP_WARM_FILES, CATCHUP_FILE_EVENTS)},
        "curation_corpus": {
            "full": lambda r, o: curation(r, o, CURATION_DOCS),
            "warm": lambda r, o: curation(r, o, CURATION_WARM)},
    }[workload]
    return {p: writers[p](np.random.default_rng(
                [seed, ["full", "warm"].index(p), WORKLOADS.index(workload)]),
                f"{out}/{p}")
            for p in parts}


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
