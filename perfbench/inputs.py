"""Seeded inputs. The seed picks the vehicles, their positions, the
stream's start time (so the lookup keys move with it too) and the events
table; the program only ever sees the generated files."""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

from mobilitydatalakebenchmark_spark.sources.geojson import (
    generate_snapshots,
    write_snapshot_dir,
)

# Snapshot #2 of every generated stream repeats a uuid and #5 is empty
# (generate_snapshots). Lookups and scans use the ordinary snapshots after
# them; the ingest workload still ingests them.
FIRST_ORDINARY = 6


@dataclass
class Batch:
    path: str
    snapshots: list[tuple[str, dict]]
    bytes: int


def stream_start(seed: int) -> str:
    """A start time that differs between seeds by whole hours, always at
    eight minutes to the hour: every seed's stream then crosses its
    hour-bucket boundaries at the same snapshots, so its batches write the
    same number of partitions and cost the same work."""
    base = dt.datetime(2024, 3, 1, 0, 52)
    return (base + dt.timedelta(hours=(seed * 7919) % 720)).isoformat()


def snapshot_stream(seed: int, n_snapshots: int, n_vehicles: int) -> list[tuple[str, dict]]:
    return generate_snapshots(
        n_snapshots=n_snapshots,
        n_vehicles=n_vehicles,
        seed=seed,
        start=stream_start(seed),
    )


def write_batches(
    snapshots: list[tuple[str, dict]], root: str, batch_size: int
) -> list[Batch]:
    """Cut a stream into directories of ``batch_size`` snapshots, in the
    reference's one-file-per-snapshot layout."""
    batches = []
    for i in range(0, len(snapshots), batch_size):
        chunk = snapshots[i : i + batch_size]
        path = os.path.join(root, f"batch-{i // batch_size:03d}")
        write_snapshot_dir(chunk, path)
        size = sum(e.stat().st_size for e in os.scandir(path))
        batches.append(Batch(path, chunk, size))
    return batches


def write_events(path: str, seed: int, n_rows: int = 100_000, n_users: int = 1500) -> None:
    """An events table shaped like the sf0.1 test table the mobility gates
    are written against: Poisson arrivals over a month, uniform users and
    event types, exponential values rounded to cents."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    start_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    gaps_us = rng.exponential(26.0, n_rows) * 1_000_000
    ts = start_us + np.cumsum(gaps_us).astype("int64")
    types = np.array(["click", "error", "purchase", "signup", "view"])
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype="int64")),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_rows, dtype="int64")),
            "event_type": pa.array(types[rng.integers(0, len(types), n_rows)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]),
        }
    )
    pq.write_table(table, path)
