"""Seeded benchmark inputs and their DuckDB oracle answers.

Everything here runs without Spark. One seed and one size always give the
same files, and each (seed, size) set is generated once and kept under
``perfbench/.work/cache``. The program under test only ever reads the parquet
written here:

- ``events.parquet``: the testdata ``events`` schema. ``event_id`` is
  ``0..n-1`` in seed-shuffled row order, so ``synth``'s residue rules give
  the 80% nginx / 10% app-json / 10% csvlog mix exactly.
- ``sequences/source=<s>/part-<i>.parquet``: the source-partitioned
  ``(doc_id, tokens, n_tok, source)`` table. It is built from
  ``synth.sequences_cte``, the DuckDB twin of ``synth.sequences_df``; the
  self-test checks that both give the same rows.
- ``embeddings.parquet``: ``(vec_id, embedding float[64], label)`` unit
  vectors around a few seeded cluster centres.

The oracle answers are computed once per input set with the program's own
DuckDB oracle SQL and stored as JSON next to the inputs.

    python3 perfbench/gen.py --cache DIR --seed N [--events N] [--vectors N]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "error", "purchase", "signup"]
EMBED_DIM = 64
_T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
_MONTH_US = 30 * 86400 * 1_000_000


def events_table(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    event_id = rng.permutation(n).astype(np.int64)
    ts = _T0_US + rng.integers(0, _MONTH_US, n)
    return pa.table(
        {
            "event_id": event_id,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 150, n).astype(np.int64),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def embeddings_table(seed: int, n: int, n_labels: int = 10) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    centres = rng.normal(size=(n_labels, EMBED_DIM))
    label = rng.integers(0, n_labels, n).astype(np.int32)
    vec = centres[label] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": label,
        }
    )


def _duck(inputs: Path):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for name in ("events", "embeddings"):
        path = inputs / f"{name}.parquet"
        if path.exists():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def write_sequences(inputs: Path, parts: int) -> None:
    """Materialize the sequences table, ``parts`` files per source so that
    every source's scan splits across the local cores."""
    from loongcollector_spark.synth import sequences_cte

    con = _duck(inputs)
    try:
        seq = con.execute(
            "SELECT doc_id, CAST(list_transform(string_split(line, ''), "
            "c -> unicode(c)) AS INTEGER[]) AS tokens, n_tok, source "
            f"FROM ({sequences_cte('events')}) ORDER BY doc_id"
        ).fetch_arrow_table()
    finally:
        con.close()
    sources = seq.column("source").to_numpy(zero_copy_only=False)
    body = seq.drop_columns(["source"])
    for src in np.unique(sources):
        rows = body.filter(pa.array(sources == src))
        out = inputs / "sequences" / f"source={src}"
        out.mkdir(parents=True)
        step = -(-rows.num_rows // parts)
        for i in range(parts):
            chunk = rows.slice(i * step, step)
            if chunk.num_rows:
                pq.write_table(chunk, out / f"part-{i}.parquet", row_group_size=16384)


def oracle_answers(inputs: Path) -> dict:
    """The DuckDB oracles the benchmark checks each pass against."""
    from loongcollector_spark.dataops.queries import oracle_semdedup
    from loongcollector_spark.oracles import oracle_pipeline_aggregates, oracle_routed_rows
    from workloads import SEMDEDUP_ITERS, SEMDEDUP_K

    con = _duck(inputs)
    try:
        out = {}
        if (inputs / "events.parquet").exists():
            out["events_rows"] = con.execute("SELECT count(*) FROM events").fetchone()[0]
            out["pipeline_aggregates"] = [
                list(r) for r in con.execute(oracle_pipeline_aggregates()).fetchall()
            ]
            out["routed_per_sink"] = dict(
                con.execute(
                    f"SELECT sink, count(*) FROM ({oracle_routed_rows()}) GROUP BY sink"
                ).fetchall()
            )
        if (inputs / "embeddings.parquet").exists():
            out["vectors"] = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
            sql = oracle_semdedup(k=SEMDEDUP_K, iters=SEMDEDUP_ITERS)
            rows = con.execute(sql).fetchall()
            out["semdedup"] = sorted([list(r) for r in rows])
        return out
    finally:
        con.close()


def input_dir(cache: Path, seed: int, n_events: int, n_vectors: int, parts: int) -> Path:
    return cache / f"seed{seed}-ev{n_events}-vec{n_vectors}-p{parts}"


def ensure_inputs(
    cache: Path, seed: int, n_events: int = 0, n_vectors: int = 0, parts: int = 4
) -> tuple[Path, dict]:
    """Generate (or reuse) one input set; returns its directory and oracle
    answers. Writes into a temporary directory and renames it into place, so
    an interrupted run never leaves a half-written set behind."""
    final = input_dir(cache, seed, n_events, n_vectors, parts)
    oracle_file = final / "oracle.json"
    if oracle_file.exists():
        return final, json.loads(oracle_file.read_text())
    tmp = cache / f".tmp-{final.name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        if n_events:
            pq.write_table(events_table(seed, n_events), tmp / "events.parquet")
            write_sequences(tmp, parts)
        if n_vectors:
            pq.write_table(embeddings_table(seed, n_vectors), tmp / "embeddings.parquet")
        answers = oracle_answers(tmp)
        (tmp / "oracle.json").write_text(json.dumps(answers))
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final, answers


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cache", type=Path, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events", type=int, default=0)
    ap.add_argument("--vectors", type=int, default=0)
    ap.add_argument("--parts", type=int, default=4)
    a = ap.parse_args(argv)
    ensure_inputs(a.cache, a.seed, a.events, a.vectors, a.parts)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    sys.exit(main())
