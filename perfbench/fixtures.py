"""Seeded benchmark inputs, written under a directory the benchmark owns.

Every table here is a pure function of the seed:

* the transcript fixture is ``generate_transcripts`` output in the sf0.1
  shape (1% hot conversations x100, 2% malformed lines, 1% late turns) at
  half its size, exactly 515,000 turns, generated in four
  disjoint-conversation chunks in parallel processes;
* the replay files are the same table in delivery order (running max
  ``ts`` per conversation, as ``ensure_transcripts_tsorted`` orders it),
  cut into fixed-size files;
* the catalog tables mimic the shape of the gate's ``events``,
  ``documents`` and ``embeddings`` parquet at sf0.01.
"""

from __future__ import annotations

import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHUNKS = 4
TURNS_PER_CHUNK = 128_750          # 515k turns in all (half of sf0.1)
OVERSAMPLE = 1.5
FILES_PER_CHUNK = 2
REPLAY_ROWS_PER_FILE = 5_000


def _transcript_chunk(args) -> int:
    from logstash_spark.sources.transcripts import generate_transcripts

    out_dir, seed, gidx = args
    # the generator's turn count swings by ~20% with the number of hot
    # conversations a seed draws: generate more and keep a fixed-size
    # prefix, so every seed drains the same number of turns (the cut
    # shortens the last conversation)
    tbl = generate_transcripts(int(TURNS_PER_CHUNK * OVERSAMPLE), seed=seed * 1000 + gidx,
                               conv_offset=gidx * 1_000_000)
    if tbl.num_rows < TURNS_PER_CHUNK:
        raise RuntimeError(f"chunk {gidx} of seed {seed}: {tbl.num_rows} turns, "
                           f"need {TURNS_PER_CHUNK}")
    tbl = tbl.slice(0, TURNS_PER_CHUNK)
    step = -(-tbl.num_rows // FILES_PER_CHUNK)
    for i in range(FILES_PER_CHUNK):
        pq.write_table(tbl.slice(i * step, step),
                       os.path.join(out_dir, f"part-{gidx * FILES_PER_CHUNK + i:05d}.parquet"))
    return tbl.num_rows


def transcripts(out_dir: str, seed: int) -> int:
    """Write the seeded transcript fixture to ``out_dir``; return its turns."""
    os.makedirs(out_dir, exist_ok=True)
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=CHUNKS, mp_context=ctx) as ex:
        return sum(ex.map(_transcript_chunk,
                          [(out_dir, seed, g) for g in range(CHUNKS)]))


def read_table(src_dir: str) -> pa.Table:
    files = sorted(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
    return pa.concat_tables([pq.read_table(os.path.join(src_dir, f)) for f in files])


def delivery_order(tbl: pa.Table) -> np.ndarray:
    """Row order a live stream would deliver in: by the running max ``ts``
    within each conversation, so a late turn keeps its place behind its
    predecessors.  Rows are conversation-contiguous with ``turn_idx``
    ascending, which is how ``generate_transcripts`` lays them out."""
    turn_idx = tbl.column("turn_idx").to_numpy()
    ts = tbl.column("ts").cast(pa.int64()).to_numpy()
    seg = np.cumsum(turn_idx == 0) - 1
    lo = ts.min()
    span = np.int64(ts.max() - lo + 1)
    # a per-segment running max as one global running max: each segment is
    # lifted above every earlier one by a multiple of the value span
    lifted = (ts - lo) + seg.astype(np.int64) * span
    delivery = np.maximum.accumulate(lifted) - seg.astype(np.int64) * span
    return np.lexsort((turn_idx, seg, delivery))


def replay_files(tbl: pa.Table, stage_dir: str, n_files: int) -> list[dict]:
    """Write the first ``n_files`` delivery-ordered files to ``stage_dir``.

    Returns one record per file: its path, row count and the largest event
    time it holds (microseconds)."""
    os.makedirs(stage_dir, exist_ok=True)
    order = delivery_order(tbl)
    n_files = min(n_files, -(-len(order) // REPLAY_ROWS_PER_FILE))
    out = []
    for i in range(n_files):
        rows = tbl.take(order[i * REPLAY_ROWS_PER_FILE:(i + 1) * REPLAY_ROWS_PER_FILE])
        path = os.path.join(stage_dir, f"part-{i:05d}.parquet")
        pq.write_table(rows, path)
        out.append({"path": path, "rows": rows.num_rows,
                    "max_ts_us": int(rows.column("ts").cast(pa.int64()).to_numpy().max())})
    return out


# ---------------------------------------------------------------------------
# catalog tables (events / documents / embeddings)
# ---------------------------------------------------------------------------

CATALOG_EVENTS = 10_000
CATALOG_DOCUMENTS = 500
CATALOG_EMBEDDINGS = 500
_WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
          "spark line sort window data query stream filter group order column "
          "join customer small big vector").split()
_LANGS = ["en", "fr", "zh", "de", "es"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def catalog_tables(out_dir: str, seed: int) -> int:
    """Write events/documents/embeddings parquet (the sf0.01 gate shape);
    return the number of events, one transcript turn each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    n = CATALOG_EVENTS
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86_400 * 1_000_000, n))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n * 15 // 1000, 1), n)),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }), os.path.join(out_dir, "events.parquet"))

    n = CATALOG_DOCUMENTS
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup paths' input)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, n, p=[0.41, 0.15, 0.15, 0.14, 0.15])]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out_dir, "documents.parquet"))

    n = CATALOG_EMBEDDINGS
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return CATALOG_EVENTS
