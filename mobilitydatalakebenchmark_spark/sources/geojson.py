"""GeoJSON snapshot stream source (SURVEY.md §2.1 S1/S2).

The reference ingests a directory of ``{iso-timestamp}.json`` files, sorted
by filename, capped at MAX_DOCUMENTS (reference ``benchmark.py:28-39``); the
poller writes one snapshot per 20 s over a 4 h window
(``get_data.py:11-29``). Here:

- ``generate_snapshots``    — deterministic synthetic stream with the same
  shape (FIXTURES.md §A.5): recurring vehicle uuids, hour-bucket crossings,
  an empty snapshot, an intra-snapshot duplicate uuid, bbox-edge coords.
- ``write_snapshot_dir``    — materialize the stream as the reference's
  on-disk layout (one JSON file per snapshot).
- ``snapshot_documents``    — Spark scan of that layout into the canonical
  document DataFrame: explicit schema (no inference), filename-derived
  timestamp key; batch or streaming reader.
- ``read_snapshot_dir``     — the batch scan: one Spark job, no sort.

Scale note: a real deployment reads millions of small JSON files; the Spark
reader parallelizes over files and the explicit schema avoids a schema-
inference pre-pass over 100 TB. ``input_file_name()`` recovers the snapshot
key without touching file contents.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import DOCUMENT_SCHEMA, FEATURE_COLLECTION_SCHEMA

BBOX = (4.25, 50.79, 4.45, 50.91)  # Brussels-ish lon/lat box
CADENCE_S = 20


def _vehicle_pool(rng: random.Random, n: int) -> list[dict]:
    import hashlib

    pool = []
    for i in range(n):
        line = rng.choice(["T1", "T3", "T7", "B9", "M1", "M5", "T4", "B2"])
        # route color is a property of the LINE, not the vehicle (real
        # transit semantics; also what makes the bus dimension of the
        # two-level stores smaller than the vehicle dimension)
        color = "#" + hashlib.md5(f"line-color-{line}".encode()).hexdigest()[:6]
        pool.append(
            {
                "uuid": f"{rng.getrandbits(32):08x}-{i:04x}-4000-8000-{rng.getrandbits(48):012x}",
                "id": i + 1,
                "color": color,
                "lineId": line,
                "direction": rng.choice([1, 2]),
            }
        )
    return pool


def generate_snapshots(
    n_snapshots: int = 48,
    n_vehicles: int = 90,
    seed: int = 7,
    start: str = "2024-03-21T13:52:00",
) -> list[tuple[str, dict]]:
    """Deterministic list of (iso_timestamp, FeatureCollection dict).

    48 snapshots x 20 s from 13:52 run to 14:07:40, crossing the 13->14
    hour-bucket boundary (exercises W1/W2 and multi-partition stores; the
    earlier 13:40 start never actually crossed the hour). Snapshot #5 is
    empty; snapshot #2 contains a duplicated uuid; first snapshot pins
    coords at the bbox corners (fixed-point edge, P11).
    """
    rng = random.Random(seed)
    pool = _vehicle_pool(rng, n_vehicles)
    t0 = dt.datetime.fromisoformat(start)
    snapshots: list[tuple[str, dict]] = []
    for snap_idx in range(n_snapshots):
        ts = (t0 + dt.timedelta(seconds=CADENCE_S * snap_idx)).isoformat()
        if snap_idx == 5:
            snapshots.append((ts, {"type": "FeatureCollection", "features": []}))
            continue
        k = rng.randint(int(n_vehicles * 0.75), n_vehicles)
        visible = rng.sample(pool, k)
        if snap_idx == 2:
            visible.append(visible[0])  # intra-snapshot duplicate uuid
        features = []
        for j, veh in enumerate(visible):
            if snap_idx == 0 and j < 2:
                lon, lat = (BBOX[0], BBOX[1]) if j == 0 else (BBOX[2], BBOX[3])
            else:
                lon = round(rng.uniform(BBOX[0], BBOX[2]), 6)
                lat = round(rng.uniform(BBOX[1], BBOX[3]), 6)
            features.append(
                {
                    "type": "Feature",
                    "id": veh["uuid"],
                    "geometry": {"type": "Point", "coordinates": [lon, lat]},
                    "properties": {
                        "uuid": veh["uuid"],
                        "id": veh["id"],
                        "color": veh["color"],
                        "direction": veh["direction"],
                        "distance": round(rng.uniform(0.0, 30000.0), 2),
                        "distanceFromPoint": rng.randint(0, 65535),
                        "lineId": veh["lineId"],
                        "pointId": rng.randint(1, 4000),
                    },
                }
            )
        snapshots.append((ts, {"type": "FeatureCollection", "features": features}))
    return snapshots


def write_snapshot_dir(snapshots: list[tuple[str, dict]], path: str) -> None:
    """Reference on-disk layout: one ``{ts}.json`` per snapshot.

    Deviation from the reference: Hadoop Path rejects ``:`` in file names
    (URISyntaxException "Relative path in absolute URI"), so the ISO
    timestamp's colons are stored as ``_`` and decoded on read."""
    os.makedirs(path, exist_ok=True)
    for ts, data in snapshots:
        with open(os.path.join(path, f"{ts.replace(':', '_')}.json"), "w") as fh:
            json.dump(data, fh)


def snapshot_documents(reader, path: str, **options: str) -> DataFrame:
    """The snapshot files under ``path`` as the document DataFrame
    (timestamp string, data struct), through a batch (``spark.read``) or
    streaming (``spark.readStream``) reader with extra reader ``options``.

    ``multiLine=true`` because each file is one JSON object; the timestamp
    key is the filename stem (reference ``benchmark.py:38-39``).
    """
    return (
        reader.schema(FEATURE_COLLECTION_SCHEMA)
        .option("multiLine", "true")
        .options(**options)
        .json(path)
        .withColumn(
            "timestamp",
            F.translate(
                F.regexp_extract(F.input_file_name(), r"([^/]+)\.json$", 1), "_", ":"
            ),
        )
        .select("timestamp", F.struct("type", "features").alias("data"))
    )


def read_snapshot_dir(spark: SparkSession, path: str) -> DataFrame:
    """S1: the batch scan of a snapshot directory, in no particular order;
    the stores lay their rows out on write (``flat_store.write_bucketed``)."""
    return snapshot_documents(spark.read, path)


def snapshots_to_df(
    spark: SparkSession, snapshots: list[tuple[str, dict]]
) -> DataFrame:
    """In-memory snapshot list -> document DataFrame (bypasses the file
    layout; used by tests and the streaming replayer)."""
    rows = [{"timestamp": ts, "data": data} for ts, data in snapshots]
    return spark.createDataFrame(rows, schema=DOCUMENT_SCHEMA)
