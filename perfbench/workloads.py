"""The three lake workloads and the harness that runs one of them.

Every workload is a closed loop with a single client on one Spark session
of ``min(nproc, 4)`` cores: the next operation starts when the previous
one has returned. A run is

1. inputs generated from the seed (not timed);
2. set-up: the session (which starts the JVM) and the lake, then warm-up
   rounds whose timings are discarded; ``setup_s`` is both;
3. whole rounds of operations for ``--seconds``; a round is the
   workload's fixed mix (one batch into every store, one lookup in every
   store, one pass over the query set), so every run measures the same
   mix. Each round's wall time and the CPU time the whole machine spent
   on it are recorded;
4. correctness checks, which count against ``failed``.

With tracing on, rounds alternate between traced and untraced, and the
difference of their median latencies is the tracing overhead.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from contextlib import nullcontext

from pyspark.sql import functions as F

from mobilitydatalakebenchmark_spark.operators.document_store import DocumentParquetStore
from mobilitydatalakebenchmark_spark.operators.encoded_store import (
    CantorParquetStore,
    VelocitySplitParquetStore,
)
from mobilitydatalakebenchmark_spark.operators.flat_store import (
    FlatParquetStore,
    renest_documents,
)
from mobilitydatalakebenchmark_spark.operators.temporal_store import TemporalStore
from mobilitydatalakebenchmark_spark.operators.velocity_store import VelocityParquetStore
from mobilitydatalakebenchmark_spark.schemas import TS_BUCKET_COL
from mobilitydatalakebenchmark_spark.session import get_spark
from mobilitydatalakebenchmark_spark.sources.geojson import read_snapshot_dir
from mobilitydatalakebenchmark_spark.streaming.ingest import (
    read_snapshot_stream,
    stream_to_flat_store,
)

from . import inputs, scan_queries
from .checks import document_problems, rows_problems
from .trace import Tracer

N_VEHICLES = 100


class Run:
    """State of one benchmark run: session, tracer, samples, failures."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool, cpus: int):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.cpus = cpus
        self.rng = random.Random(seed)
        self.trace = trace
        self.tracer = Tracer(trace)
        self.spark = None
        self.samples: dict[str, list[float]] = {}  # op kind -> seconds
        self.cpu_samples: dict[str, list[float]] = {}  # op kind -> CPU seconds
        self.traced_samples: dict[str, list[float]] = {}
        self.untraced_samples: dict[str, list[float]] = {}
        self.units = 0  # snapshots ingested / documents read / queries run
        self.attempted = 0
        self.failures: list[str] = []
        self.stores: dict[str, object] = {}
        self.input_bytes = 0

    def start_session(self) -> None:
        local = os.path.join(self.work, "spark-local")
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                cpus=self.cpus,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.memory": "2g",
                    "spark.local.dir": local,
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    # keep the JVM's scratch files (and its perf-data file,
                    # which would go to /tmp) inside the run's directory.
                    # C1 only: in a JVM this short-lived the optimizing
                    # compiler is still busy on other cores while the run
                    # measures, and its CPU time varies run to run by more
                    # than the program's own; C1 is done within a warm-up
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={local} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
                    ),
                },
            )

    def collect(self, df) -> list:
        with self.tracer.span("spark.collect"):
            return df.collect()

    def noop(self, df) -> None:
        with self.tracer.span("spark.noop"):
            df.write.format("noop").mode("overwrite").save()

    def parse(self, path: str):
        """The documents of a snapshot directory, parsed once (into the
        ``noop`` sink) and cached, so that every store fed from them
        measures its own work rather than another parse. The caller
        unpersists them."""
        with self.tracer.span("sources.read_snapshot_dir"):
            docs = read_snapshot_dir(self.spark, path).cache()
            self.noop(docs)
        return docs

    def round(self, index: int):
        """Context for one round of operations: traced on even rounds."""
        return self.tracer.paused() if index % 2 else nullcontext()

    def record(self, kind: str, seconds: float, cpu: float, units: int = 1) -> None:
        self.samples.setdefault(kind, []).append(seconds)
        self.cpu_samples.setdefault(kind, []).append(cpu)
        side = self.traced_samples if self.tracer.enabled else self.untraced_samples
        side.setdefault(kind, []).append(seconds)
        self.units += units

    def check(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failures.append(problems[0])

    def failed_op(self, what: str) -> None:
        self.attempted += 1
        self.failures.append(f"{what}: {traceback.format_exc(limit=3)}")
        print(traceback.format_exc(), file=sys.stderr)


def _rows(rows) -> list[dict]:
    return [r.asDict(recursive=True) for r in rows]


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int, int]:
    """(busy, stolen, total) CPU ticks of the machine so far, from
    /proc/stat. Busy is user, nice, system and interrupt time of every
    process here: the benchmark owns the machine, so that is the JVM, this
    Python process and Spark's Python workers. Stolen is time the hypervisor gave
    this machine's CPUs to someone else; it is not busy time."""
    with open("/proc/stat") as fh:
        t = [int(v) for v in fh.readline().split()[1:]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7], sum(t)


def _timed(fn):
    """(fn's result, wall seconds, busy CPU seconds of the machine)."""
    busy0 = _cpu_ticks()[0]
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    return out, wall, (_cpu_ticks()[0] - busy0) * _TICK_S


def _read_doc(run: Run, name: str, store, ts: str):
    """Point read ``get_document(ts).collect()`` on any store."""
    with run.tracer.span(f"operators.{name}.get_document"):
        if isinstance(store, FlatParquetStore):
            df = store.get_document(ts)
        else:
            df = store.get_document(run.spark, ts)
        return run.collect(df)


class LakeIngest:
    """Batches of snapshots appended in turn into the flat, velocity and
    temporal stores and, by replaying the same files, through the
    streaming ingester into a second flat table; after each batch, one
    just-written timestamp is read back from every store."""

    BATCH = 20
    MAX_BATCHES = 8
    WARMUP_CYCLES = 1
    MIN_CYCLES = 2
    kind = "batch"

    def __init__(self, run: Run):
        self.run = run
        self.stream_batch_ms: list[float] = []

    def prepare(self) -> None:
        snaps = inputs.snapshot_stream(
            self.run.seed, self.BATCH * self.MAX_BATCHES, N_VEHICLES
        )
        self.batches = inputs.write_batches(snaps, os.path.join(self.run.work, "input"), self.BATCH)
        self.next_batch = 0

    def build(self, root: str) -> None:
        run = self.run
        self.root = root
        self.flat = FlatParquetStore(os.path.join(root, "flat"))
        self.velocity = VelocityParquetStore(os.path.join(root, "velocity"))
        self.temporal = TemporalStore(os.path.join(root, "temporal"))
        self.stream_flat = FlatParquetStore(os.path.join(root, "stream_flat"))
        self.landing = os.path.join(root, "landing")
        os.makedirs(self.landing)
        run.stores = {
            "flat_store": self.flat,
            "velocity_store": self.velocity,
            "temporal_store": self.temporal,
            "stream_flat_store": self.stream_flat,
        }
        first = self.batches[0]
        docs = run.parse(first.path)
        with run.tracer.span("operators.flat_store.write"):
            self.flat.write(docs, mode="append")
        with run.tracer.span("operators.velocity_store.write"):
            self.velocity.write(docs, mode="append")
        with run.tracer.span("operators.temporal_store.write"):
            self.temporal.write(docs)
        docs.unpersist()
        self._stream(first)
        self.ingested = [first]
        self.next_batch = 1
        self.stream_batch_ms.clear()

    def _stream(self, batch: inputs.Batch) -> None:
        run = self.run
        for entry in os.scandir(batch.path):
            os.link(entry.path, os.path.join(self.landing, entry.name))
        with run.tracer.span("streaming.ingest.stream_to_flat_store") as span:
            query = stream_to_flat_store(
                read_snapshot_stream(run.spark, self.landing),
                self.stream_flat.path,
                os.path.join(self.root, "stream_checkpoint"),
            )
            query.awaitTermination()
            if span is not None:
                span.extra_groups.append(str(query.runId))
                self.stream_batch_ms.extend(
                    p["durationMs"]["triggerExecution"]
                    for p in query.recentProgress
                    if p["numInputRows"] > 0
                )
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")

    def _append(self, batch: inputs.Batch) -> list:
        """One batch into all four stores, then the read-backs. Returns
        (store, ts, rows) for the checks."""
        run = self.run
        docs = run.parse(batch.path)
        try:
            with run.tracer.span("operators.flat_store.append"):
                self.flat.write(docs, mode="append")
            with run.tracer.span("operators.velocity_store.append"):
                self.velocity.write(docs, mode="append")
            with run.tracer.span("operators.temporal_store.append"):
                self.temporal.append_batch(run.spark, docs)
        finally:
            docs.unpersist()
        self._stream(batch)
        ts, _ = run.rng.choice(batch.snapshots)
        return [(name, ts, _read_doc(run, name, store, ts)) for name, store in run.stores.items()]

    def _cycle(self, timed: bool) -> None:
        run = self.run
        batch = self.batches[self.next_batch]
        self.next_batch += 1
        try:
            reads, seconds, cpu = _timed(lambda: self._append(batch))
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            run.failed_op(f"append {os.path.basename(batch.path)}")
            return
        self.ingested.append(batch)
        if not timed:
            return
        run.record(self.kind, seconds, cpu, units=len(batch.snapshots))
        want = dict(batch.snapshots)
        for name, ts, rows in reads:
            run.check([f"{name}: {p}" for p in document_problems(_rows(rows), ts, want[ts])])

    def warmup(self) -> None:
        # the first cycle after set-up still compiles the append paths and
        # the streaming query; from the second on the CPU per batch is flat
        for _ in range(self.WARMUP_CYCLES):
            self._cycle(timed=False)

    def measure(self) -> None:
        """Cycles for ``--seconds``, at least ``MIN_CYCLES`` of them."""
        deadline = time.perf_counter() + self.run.seconds
        rnd = 0
        while (rnd < self.MIN_CYCLES or time.perf_counter() < deadline) and (
            self.next_batch < len(self.batches)
        ):
            with self.run.round(rnd):
                self._cycle(timed=True)
            rnd += 1

    def verify(self) -> None:
        """Snapshot, row and distinct-uuid counts of every store against
        the batches that went in, read back with DuckDB."""
        import duckdb

        snaps = [s for b in self.ingested for s in b.snapshots]
        n_snaps = len(snaps)
        n_docs = sum(1 for _, d in snaps if d["features"])
        n_rows = sum(len(d["features"]) for _, d in snaps)
        n_uuids = len({f["properties"]["uuid"] for _, d in snaps for f in d["features"]})
        self.run.input_bytes = sum(b.bytes for b in self.ingested)

        def q(sql: str) -> tuple:
            return con.execute(sql).fetchone()

        def files(path: str) -> str:
            return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"

        con = duckdb.connect(config={"threads": self.run.cpus})
        try:
            flat_sql = "SELECT count(DISTINCT timestamp), count(*), count(DISTINCT uuid) FROM {}"
            for name in ("flat_store", "stream_flat_store"):
                got = q(flat_sql.format(files(self.run.stores[name].path)))
                self._expect(name, got, (n_docs, n_rows, n_uuids))
            vel = self.velocity.path
            got = (
                q(f"SELECT count(*) FROM read_parquet('{vel}/main/*.parquet')")[0],
                q(f"SELECT count(*) FROM {files(vel + '/l2')}")[0],
                # one dimension row per vehicle: the append's anti-join held
                q(f"SELECT count(*) FROM read_parquet('{vel}/l1/*.parquet')")[0],
            )
            self._expect("velocity_store", got, (n_snaps, n_rows, n_uuids))
            got = q(
                "SELECT count(DISTINCT p.ts), count(*), count(DISTINCT uuid) FROM ("
                f"SELECT uuid, unnest(positions) AS p FROM read_parquet('{self.temporal.path}/*.parquet'))"
            )
            self._expect("temporal_store", got, (n_docs, n_rows, n_uuids))
        finally:
            con.close()

    def _expect(self, name: str, got: tuple, want: tuple) -> None:
        self.run.check(
            [] if tuple(got) == want else [f"{name}: (snapshots, rows, uuids) {got} != {want}"]
        )


class LakePointRead:
    """Six stores, each built with one batch write; then seeded uniform
    ``get_document(ts).collect()`` calls round-robin over the stores, and a
    batched pass where one flat-store scan resolves many keys at once."""

    N_SNAPSHOTS = 160
    BATCH_KEYS = 40
    BATCH_READS = 3
    WARMUP_ROUNDS = 2
    kind = "round"

    def __init__(self, run: Run):
        self.run = run

    def prepare(self) -> None:
        snaps = inputs.snapshot_stream(self.run.seed, self.N_SNAPSHOTS, N_VEHICLES)
        (self.batch,) = inputs.write_batches(
            snaps, os.path.join(self.run.work, "input"), self.N_SNAPSHOTS
        )
        self.docs = dict(snaps)
        self.keys = [ts for ts, _ in snaps[inputs.FIRST_ORDINARY :]]
        self.run.input_bytes = self.batch.bytes

    def build(self, root: str) -> None:
        run = self.run
        p = lambda name: os.path.join(root, name)  # noqa: E731
        run.stores = {
            "flat_store": FlatParquetStore(p("flat")),
            "velocity_store": VelocityParquetStore(p("velocity")),
            "velocity_split_store": VelocitySplitParquetStore(p("velocity_split")),
            "cantor_store": CantorParquetStore(p("cantor"), packed=True),
            "temporal_store": TemporalStore(p("temporal")),
            "document_store": DocumentParquetStore(p("document")),
        }
        docs = run.parse(self.batch.path)
        for name, store in run.stores.items():
            with run.tracer.span(f"operators.{name}.write"):
                store.write(docs)
        docs.unpersist()

    def _round(self, timed: bool) -> None:
        """One lookup in every store, each with its own random key."""
        run = self.run
        total = total_cpu = 0.0
        for name, store in run.stores.items():
            ts = run.rng.choice(self.keys)
            try:
                rows, seconds, cpu = _timed(lambda: _read_doc(run, name, store, ts))
            except Exception:  # noqa: BLE001
                run.failed_op(f"{name}.get_document({ts})")
                continue
            total += seconds
            total_cpu += cpu
            if timed:
                self.store_samples[name].append(seconds)
                run.check([f"{name}: {p}" for p in document_problems(_rows(rows), ts, self.docs[ts])])
        if timed:
            run.record(self.kind, total, total_cpu, units=len(run.stores))

    def _batch_read(self, timed: bool) -> None:
        run = self.run
        keys = run.rng.sample(self.keys, self.BATCH_KEYS)
        flat = run.stores["flat_store"]

        def read():
            with run.tracer.span("operators.flat_store.batch_read"):
                hits = flat.scan().filter(
                    F.col(TS_BUCKET_COL).isin(sorted({k[:13] for k in keys}))
                    & F.col("timestamp").isin(keys)
                )
                return run.collect(renest_documents(hits))

        try:
            rows, seconds, cpu = _timed(read)
        except Exception:  # noqa: BLE001
            run.failed_op("flat_store.batch_read")
            return
        if timed:
            run.record("batch_read", seconds, cpu, units=0)
            got = {r["timestamp"]: r for r in _rows(rows)}
            run.check([f"batch_read: {len(got)} of {len(keys)} keys"] if set(got) != set(keys) else [])
            for ts in keys:
                if ts in got:
                    run.check(document_problems([got[ts]], ts, self.docs[ts]))

    def warmup(self) -> None:
        # the first round after set-up still compiles the six read paths
        for _ in range(self.WARMUP_ROUNDS):
            self._round(timed=False)
        self._batch_read(timed=False)

    def measure(self) -> None:
        """Rounds of single lookups for ``--seconds``, then a short
        batched pass."""
        run = self.run
        self.store_samples = {name: [] for name in run.stores}
        deadline = time.perf_counter() + run.seconds
        rnd = 0
        while rnd == 0 or time.perf_counter() < deadline:
            with run.round(rnd):
                self._round(timed=True)
            rnd += 1
        for rnd in range(self.BATCH_READS):
            with run.round(rnd):
                self._batch_read(timed=True)

    def verify(self) -> None:
        """Every lookup was checked as it returned."""


class LakeScan:
    """A fixed query set over a flat-store scan and over an events table:
    trajectory and mobility-metric operators, a vehicle-track range read,
    a 10-minute window aggregate and eight mobility ``plans`` gates, each
    materialized into the ``noop`` sink."""

    N_SNAPSHOTS = 120
    N_EVENTS = 20_000
    kind = "pass"

    def __init__(self, run: Run):
        self.run = run

    def prepare(self) -> None:
        # importing a plans module registers its gates
        from mobilitydatalakebenchmark_spark.plans import REGISTRY, mobility, windows  # noqa: F401

        run = self.run
        snaps = inputs.snapshot_stream(run.seed, self.N_SNAPSHOTS + inputs.FIRST_ORDINARY, N_VEHICLES)
        snaps = snaps[inputs.FIRST_ORDINARY :]
        (self.batch,) = inputs.write_batches(snaps, os.path.join(run.work, "input"), len(snaps))
        run.input_bytes = self.batch.bytes
        self.sf_dir = os.path.join(run.work, "events")
        os.makedirs(self.sf_dir)
        inputs.write_events(os.path.join(self.sf_dir, "events.parquet"), run.seed, self.N_EVENTS)
        self.registry = REGISTRY
        uuids = sorted({f["properties"]["uuid"] for _, d in snaps for f in d["features"]})
        self.range_uuid = run.rng.choice(uuids)
        lo = run.rng.randrange(len(snaps) // 2)
        self.range = (snaps[lo][0], snaps[lo + len(snaps) // 4][0])

    def build(self, root: str) -> None:
        run = self.run
        flat = FlatParquetStore(os.path.join(root, "flat"))
        run.stores = {"flat_store": flat}
        docs = run.parse(self.batch.path)
        with run.tracer.span("operators.flat_store.write"):
            flat.write(docs)
        docs.unpersist()
        self.queries = scan_queries.operator_queries(
            flat, self.range_uuid, *self.range
        ) + scan_queries.gate_queries(self.registry, self.sf_dir, run.spark)
        self.query_samples = {q.name: [] for q in self.queries}

    def warmup(self) -> None:
        """One pass that collects every result; the checks compare these
        rows, so correctness costs no second execution."""
        self.results = {}
        for q in self.queries:
            try:
                df = q.build()
                self.results[q.name] = (df.columns, df.collect())
            except Exception:  # noqa: BLE001
                self.run.failed_op(q.name)

    def _pass(self) -> float:
        run = self.run
        total = total_cpu = 0.0
        for q in self.queries:
            def once():
                with run.tracer.span(q.name):
                    run.noop(q.build())
            try:
                _, seconds, cpu = _timed(once)
            except Exception:  # noqa: BLE001
                run.failed_op(q.name)
                continue
            total += seconds
            total_cpu += cpu
            self.query_samples[q.name].append(seconds)
            run.attempted += 1
        run.record(self.kind, total, total_cpu, units=len(self.queries))
        return total

    def measure(self) -> None:
        """Whole passes; another starts only if it should end within
        ``--seconds``. There is always one, and with tracing two, so that
        a traced pass can be compared with an untraced one."""
        elapsed, rnd = 0.0, 0
        while True:
            with self.run.round(rnd):
                last = self._pass()
            elapsed += last
            rnd += 1
            if elapsed + last > self.run.seconds and rnd >= 1 + self.run.trace:
                return

    def verify(self) -> None:
        import duckdb

        run = self.run
        con = duckdb.connect(config={"threads": run.cpus})
        try:
            scan_queries.duckdb_views(
                con, run.stores["flat_store"].path, os.path.join(self.sf_dir, "events.parquet")
            )
            for q in self.queries:
                if q.name not in self.results:
                    continue  # its failure is already counted
                cols, rows = self.results[q.name]
                if q.oracle is None:
                    problems = scan_queries.simplify_problems(con, _rows(rows))
                else:
                    res = con.execute(q.oracle)
                    problems = rows_problems(
                        cols, [tuple(r) for r in rows],
                        [d[0] for d in res.description], res.fetchall(),
                    )
                run.check([f"{q.name}: {p}" for p in problems])
        finally:
            con.close()


WORKLOADS = {
    "lake_ingest": LakeIngest,
    "lake_point_read": LakePointRead,
    "lake_scan": LakeScan,
}


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str, cpus: int):
    """Run one workload; returns the run, the workload and the wall time
    of each stage."""
    run = Run(work, seed, seconds, trace, cpus)
    wl = WORKLOADS[name](run)
    stages: dict[str, float] = {}
    _, stages["prepare_s"], _ = _timed(wl.prepare)

    def setup():
        run.start_session()
        wl.build(os.path.join(work, "lake"))

    run.tracer.phase = "setup"
    _, stages["setup_s"], stages["setup_cpu_s"] = _timed(setup)
    run.tracer.phase = "warmup"
    _, stages["warmup_s"], stages["warmup_cpu_s"] = _timed(wl.warmup)
    run.tracer.phase = "timed"
    _, steal0, total0 = _cpu_ticks()
    _, stages["measure_s"], _ = _timed(wl.measure)
    _, steal1, total1 = _cpu_ticks()
    # a noisy neighbour shows here, not in the program's numbers
    stages["measure_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    run.tracer.phase = "check"
    _, stages["verify_s"], _ = _timed(wl.verify)
    return run, wl, stages
