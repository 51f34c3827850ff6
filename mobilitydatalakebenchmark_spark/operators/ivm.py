"""Incremental view maintenance for materialized equi-joins.

The rollup layer (operators/rollup.py, streaming/rollup_stream.py) keeps
AGGREGATES current without rescanning history; this module does the same
for a materialized inner equi-join — the other half of the classic IVM
pair. The delta rule for M = L ⋈ R under inserts is

    ΔM = ΔL ⋈ R  ∪  L ⋈ ΔR  ∪  ΔL ⋈ ΔR

so maintaining the view after a batch costs O(|Δ| · match rate) joins
against the CURRENT bases — never a recompute of L ⋈ R. At 100 TB that
is the difference between touching the arrivals and touching the world:
the base-side probes are keyed equi-joins that prune to the delta's key
set, and the view append is a dynamic-partition write into the key
buckets the delta touches.

Layout (plain parquet — reopenable by any session):

    <path>/left.parquet    current left base (owned copies, appended)
    <path>/right.parquet   current right base
    <path>/view.parquet    the materialized join, partitioned by a
                           bucket of the join key for downstream pruning

Deletes and updates (round 7) ride on TOMBSTONES — plain parquet is
immutable, so a delete appends the victim's row id to
``<path>/<side>_tombstones.parquet`` and every reader (view, recompute,
the delta-rule probes) applies an anti-join mask. An update is a delete
of the old row id plus an insert under a NEW row id (``apply_cdc``
composes this with operators/cdc.py's latest-wins reduction). The one
invariant this requires: row ids are never reused — a re-inserted id
would be masked by its own tombstone. CDC feeds satisfy this naturally
(change/event ids are unique); ``compact()`` folds tombstones into the
data when they accumulate. Equality with a from-scratch recompute after
any interleaving of appends and deletes is pinned by test.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .maintenance import count_data_files, exists, recover_dir, replace_dir

_BUCKETS = 32
_BUCKET_COL = "_key_bucket"


class MaterializedJoin:
    """A persisted inner equi-join maintained incrementally under
    append-only bases, with tombstone-masked deletes.

    ``left_row_id`` / ``right_row_id`` name the columns that uniquely
    identify rows of each side FOREVER (never reused — see module
    docstring); a side without one is insert-only."""

    def __init__(
        self,
        path: str,
        on: str,
        left_row_id: str | None = None,
        right_row_id: str | None = None,
    ):
        if left_row_id is not None and left_row_id == right_row_id:
            raise ValueError(
                "left_row_id and right_row_id must name DISTINCT columns: "
                "view()/delete() anti-join on each independently, and a "
                "shared name makes the second anti-join ambiguous "
                f"(both sides: {left_row_id!r})"
            )
        self.path = path
        self.on = on
        self.left_row_id = left_row_id
        self.right_row_id = right_row_id

    # -- internals -----------------------------------------------------

    def _bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            _BUCKET_COL, F.pmod(F.xxhash64(F.col(self.on)), _BUCKETS)
        )

    def _read(self, spark: SparkSession, table: str) -> DataFrame:
        path = f"{self.path}/{table}.parquet"
        recover_dir(spark, path)
        if count_data_files(path):
            return spark.read.parquet(path)
        # an EMPTY base/view write leaves no part files to infer a schema
        # from (zero write tasks): declare the schema persisted at build
        # time, so the store stays readable on degenerate input
        row = spark.read.parquet(f"{self.path}/schemas.parquet").first()
        schema = StructType.fromJson(json.loads(row[f"{table}_schema"]))
        return spark.read.schema(schema).parquet(path)

    def _row_id(self, side: str) -> str | None:
        return self.left_row_id if side == "left" else self.right_row_id

    def _tombstones(self, spark: SparkSession, side: str) -> DataFrame | None:
        """The side's tombstone ids, or None before its first delete."""
        path = f"{self.path}/{side}_tombstones.parquet"
        return spark.read.parquet(path) if exists(spark, path) else None

    def _live(self, spark: SparkSession, side: str) -> DataFrame:
        """The side's base minus its tombstoned rows — what every join
        (delta-rule probes included) must see."""
        base = self._read(spark, side)
        rid = self._row_id(side)
        tombs = self._tombstones(spark, side) if rid else None
        if tombs is None:
            return base
        # reselect: a USING-column join moves rid to the front
        return base.join(tombs, rid, "left_anti").select(*base.columns)

    def _write_view(self, delta_view: DataFrame) -> None:
        # repartition on the bucket key first: each write task then owns
        # whole buckets, so a delta lands as ~1 file per touched bucket
        # instead of |input partitions| x |buckets| small files
        (
            self._bucket(delta_view)
            .repartition(F.col(_BUCKET_COL))
            .write.mode("append")
            .partitionBy(_BUCKET_COL)
            .parquet(f"{self.path}/view.parquet")
        )

    def _append_base(self, delta: DataFrame, table: str) -> None:
        delta.write.mode("append").parquet(f"{self.path}/{table}.parquet")

    # -- API -----------------------------------------------------------

    def build(self, left: DataFrame, right: DataFrame) -> None:
        """Materialize L ⋈ R and snapshot both bases."""
        spark = left.sparkSession
        view_schema = self._bucket(left.join(right, self.on)).schema
        # REBUILD over an existing store: invalidate the old commit point
        # FIRST — without this, a crash after the data overwrites but
        # before the schema overwrite would pair fresh data dirs with the
        # PREVIOUS build's schemas.parquet, and the empty-dir _read
        # fallback would silently trust the stale schemas (r12 ADVICE).
        # Deleting it makes a mid-rebuild crash fail loudly instead.
        jvm = spark.sparkContext._jvm
        old = jvm.org.apache.hadoop.fs.Path(f"{self.path}/schemas.parquet")
        old.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        ).delete(old, True)
        left.write.mode("overwrite").parquet(f"{self.path}/left.parquet")
        right.write.mode("overwrite").parquet(f"{self.path}/right.parquet")
        # read the snapshots back with the schemas just written (no
        # inference — an empty base has no part files; no _read fallback
        # — schemas.parquet does not exist yet, see below)
        view = (
            spark.read.schema(left.schema)
            .parquet(f"{self.path}/left.parquet")
            .join(
                spark.read.schema(right.schema).parquet(
                    f"{self.path}/right.parquet"
                ),
                self.on,
            )
        )
        (
            self._bucket(view)
            .write.mode("overwrite")
            .partitionBy(_BUCKET_COL)
            .parquet(f"{self.path}/view.parquet")
        )
        # self-describing store: base/view schemas persisted LAST, as the
        # build's commit point — a crash mid-build can never leave fresh
        # schemas paired with stale data dirs for a later _read fallback
        # to trust (r11 ADVICE); _read needs them only for empty dirs
        from ..session import local_df

        local_df(
            spark,
            [
                (
                    left.schema.json(),
                    right.schema.json(),
                    view_schema.json(),
                )
            ],
            "left_schema string, right_schema string, view_schema string",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{self.path}/schemas.parquet"
        )

    def append(
        self,
        left_delta: DataFrame | None = None,
        right_delta: DataFrame | None = None,
    ) -> None:
        """Apply one batch of inserts to either or both sides and bring
        the view current via the delta rule. The base probes join each
        delta against the PRE-APPEND persisted bases, plus the ΔL ⋈ ΔR
        cross-term, so a single call with both sides is equivalent to
        appending them "simultaneously" (and the sum of the three terms
        equals the recompute — pinned by test)."""
        spark = (left_delta or right_delta).sparkSession
        parts = []
        if left_delta is not None:
            parts.append(left_delta.join(self._live(spark, "right"), self.on))
        if right_delta is not None:
            parts.append(self._live(spark, "left").join(right_delta, self.on))
        if left_delta is not None and right_delta is not None:
            parts.append(left_delta.join(right_delta, self.on))
        delta_view = parts[0]
        for p in parts[1:]:
            delta_view = delta_view.unionByName(p)
        # materialize ΔM BEFORE touching the bases it was derived from —
        # appending a base first would double-count ΔL ⋈ ΔR through the
        # re-read, and the lazy plan would otherwise read post-append files
        delta_rows = delta_view.localCheckpoint(eager=True)
        self._write_view(delta_rows)
        if left_delta is not None:
            self._append_base(left_delta, "left")
        if right_delta is not None:
            self._append_base(right_delta, "right")

    def append_idempotent(self, left_delta: DataFrame, row_id_col: str) -> None:
        """Replay-safe left-side insert for at-least-once delivery
        (the streaming sink's path). ``append`` has a crash window: it
        writes the view delta, THEN the base — so a replay that dedups
        only against the base re-inserts view rows for a batch that
        crashed between the two writes. Here each persisted artifact is
        deduped INDEPENDENTLY against the batch by ``row_id_col``:

        - view delta is computed only for batch rows whose row id is not
          yet in the view (re-deriving an applied-but-unmatched row is a
          no-op: it joins to nothing);
        - the base append takes only batch rows not yet in the base.

        Whatever prefix of a previous attempt survived a crash, the
        replay completes exactly the missing remainder — each artifact
        receives each row at most once. Assumes a single writer per
        store and a right base that does not change between an attempt
        and its replay (the streaming sink owns both conditions).
        Everything is executor-side anti-joins; the driver never holds
        an id list. With a transactional format (Delta MERGE) the two
        dedups collapse into one atomic commit."""
        spark = left_delta.sparkSession
        view_fresh = left_delta.join(
            self._read(spark, "view").select(row_id_col),
            row_id_col,
            "left_anti",
        )
        # pin both fresh sets BEFORE any write: their plans read the
        # artifacts being appended to
        delta_view = view_fresh.join(
            self._live(spark, "right"), self.on
        ).localCheckpoint(eager=True)
        base_fresh = left_delta.join(
            self._read(spark, "left").select(row_id_col),
            row_id_col,
            "left_anti",
        ).localCheckpoint(eager=True)
        if not delta_view.isEmpty():
            self._write_view(delta_view)
        if not base_fresh.isEmpty():
            self._append_base(base_fresh, "left")

    def delete(self, ids: DataFrame, side: str = "left") -> None:
        """Tombstone the given row ids on one side. O(|ids|) — appends
        one id column to the side's tombstone table; every reader masks
        via anti-join, so the view needs no rewrite (``compact`` folds
        the mask into the files when tombstones accumulate)."""
        rid = self._row_id(side)
        if rid is None:
            raise ValueError(
                f"{side} side has no row_id column configured — insert-only"
            )
        ids.select(F.col(rid)).distinct().write.mode("append").parquet(
            f"{self.path}/{side}_tombstones.parquet"
        )

    def apply_cdc(
        self,
        changes: DataFrame,
        seq_cols: tuple[str, ...],
        delete_col: str,
        side: str = "left",
    ) -> None:
        """Maintain the join under a CDC changelog batch: reduce the
        batch latest-wins per JOIN KEY (operators/cdc.apply_changes
        semantics — ``seq_cols`` order versions, ``delete_col`` marks
        tombstone ops), retire every live row of the touched keys, then
        insert the surviving upserts. An update is thereby delete+insert
        under the new row id; the row-id-never-reused invariant holds as
        long as ``seq_cols``' last element is unique per change (an
        event/change id). One keyed shuffle over the batch + two
        key-pruned probes of the live base — O(|batch| · match rate)."""
        from .cdc import apply_changes

        spark = changes.sparkSession
        rid = self._row_id(side)
        if rid is None:
            raise ValueError(f"{side} side has no row_id column configured")
        winners = apply_changes(
            changes.limit(0), changes, keys=[self.on], seq_cols=list(seq_cols)
        ).localCheckpoint(eager=True)  # reduce BEFORE any store mutation
        live = self._live(spark, side)
        old_ids = live.join(
            winners.select(self.on).distinct(), self.on, "left_semi"
        ).select(rid).localCheckpoint(eager=True)
        # keep the full changelog schema (delete_col included, False on
        # survivors): the base and view were built with it, and dropping
        # a column here would append schema-drifted files
        inserts = winners.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).localCheckpoint(eager=True)
        if not old_ids.isEmpty():
            self.delete(old_ids, side)
        if not inserts.isEmpty():
            if side == "left":
                self.append(left_delta=inserts)
            else:
                self.append(right_delta=inserts)

    def compact(self, spark: SparkSession) -> None:
        """Fold tombstones into the data: rewrite each base and the view
        with masks applied, then drop the tombstone tables. Run when the
        mask's anti-join cost approaches a rewrite (the Delta OPTIMIZE
        analogue). Each table is swapped in by ``replace_dir``; masks are
        idempotent, so every state between two swaps reads the same view."""
        import shutil

        for side in ("left", "right"):
            replace_dir(
                spark,
                f"{self.path}/{side}.parquet",
                self._live(spark, side).write.mode("overwrite").parquet,
            )
        replace_dir(
            spark,
            f"{self.path}/view.parquet",
            self._bucket(self.view(spark))
            .write.mode("overwrite")
            .partitionBy(_BUCKET_COL)
            .parquet,
        )
        for side in ("left", "right"):
            shutil.rmtree(
                f"{self.path}/{side}_tombstones.parquet", ignore_errors=True
            )

    def view(self, spark: SparkSession) -> DataFrame:
        """The materialized join with tombstone masks applied: a view
        row dies with EITHER of its source rows."""
        out = self._read(spark, "view").drop(_BUCKET_COL)
        cols = out.columns
        for side in ("left", "right"):
            rid = self._row_id(side)
            tombs = self._tombstones(spark, side) if rid else None
            if tombs is not None:
                out = out.join(tombs, rid, "left_anti")
        return out.select(*cols)

    def recompute(self, spark: SparkSession) -> DataFrame:
        """From-scratch join of the current live bases (the test oracle)."""
        return self._live(spark, "left").join(self._live(spark, "right"), self.on)
