"""Parquet-backed keyed tables with MERGE-upsert semantics.

The reference's DynamoDB tables do conditional puts for idempotency
(store_notion_blocks.py:128-150) and delete-on-consume
(upload_notion_blocks.py:304-309).  Here each table is a hash-bucketed
parquet layout with a tiny atomic commit log:

    <path>/b<K>/c<N>/*.parquet     bucket K's segment written by commit N
    <path>/_commits/<N>.json       {"buckets": {K: [segment commit ids]}}

Every mutation is one Spark job over only the buckets it touches:
an upsert MERGEs source rows into the segments of the buckets their
keys hash to and leaves every other bucket's files untouched — at
100 TB the rewrite cost tracks the working set, not the table.  Appends
just add a segment to their buckets (folded back into one segment the
next time an upsert touches the bucket).  A commit is a single
atomically-replaced JSON file, so readers always see one consistent
cross-bucket view.  Consume-delete becomes an `uploaded_at` status flip +
anti-join, avoiding the delete-heavy pattern (SURVEY §1.1 row 7).

The last two commits are retained, and every segment neither of them
references is deleted.  One would not be enough: a drain round caches
results computed from the segments live when the round started, and
its blocks and pages upserts each add a commit to their table.  A lost
cached partition is recomputed from those starting segments, so they
must outlive the round's own commit.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mediawiki_to_notion_spark.plans.pipeline import local_frame

# hash buckets per table: the unit a MERGE reads and rewrites
_N_BUCKETS = 8


class ParquetTable:
    """A keyed table stored as bucketed parquet with copy-on-write
    MERGE upserts scoped to the touched buckets."""

    def __init__(self, spark: SparkSession, path: str, key_cols: list[str],
                 schema: StructType | str) -> None:
        self.spark = spark
        self.path = path
        self.key_cols = key_cols
        self.schema = (
            StructType.fromDDL(schema) if isinstance(schema, str) else schema
        )
        os.makedirs(path, exist_ok=True)

    # -- commit log -----------------------------------------------------------

    def _commits_dir(self) -> str:
        return os.path.join(self.path, "_commits")

    def _versions(self) -> list[int]:
        """Live commit ids (last two retained)."""
        d = self._commits_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            int(name[:-5]) for name in os.listdir(d) if name.endswith(".json")
        )

    def _read_commit(self, n: int) -> dict[int, list[int]]:
        with open(os.path.join(self._commits_dir(), f"{n}.json")) as f:
            return {int(k): v for k, v in json.load(f)["buckets"].items()}

    def _latest(self) -> tuple[int, dict[int, list[int]]]:
        vs = self._versions()
        if not vs:
            return 0, {}
        return vs[-1], self._read_commit(vs[-1])

    def _commit(self, n: int, mapping: dict[int, list[int]]) -> None:
        """Atomically publish commit n, then GC segments/commits no
        live commit references."""
        os.makedirs(self._commits_dir(), exist_ok=True)
        tmp = os.path.join(self._commits_dir(), f".{n}.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"buckets": {str(k): v for k, v in mapping.items() if v}}, f)
        os.replace(tmp, os.path.join(self._commits_dir(), f"{n}.json"))
        # retain the last two commits; drop everything they don't reference
        vs = self._versions()
        live, dead = vs[-2:], vs[:-2]
        referenced: set[tuple[int, int]] = set()
        for v in live:
            for k, segs in self._read_commit(v).items():
                referenced.update((k, c) for c in segs)
        for v in dead:
            os.remove(os.path.join(self._commits_dir(), f"{v}.json"))
        for name in os.listdir(self.path):
            if not name.startswith("b") or not name[1:].isdigit():
                continue
            k = int(name[1:])
            bdir = os.path.join(self.path, name)
            for seg in os.listdir(bdir):
                if seg.startswith("c") and seg[1:].isdigit() \
                        and (k, int(seg[1:])) not in referenced:
                    shutil.rmtree(os.path.join(bdir, seg), ignore_errors=True)

    def _seg_dir(self, bucket: int, commit: int) -> str:
        return os.path.join(self.path, f"b{bucket}", f"c{commit}")

    # -- layout ---------------------------------------------------------------

    def bucket_expr(self) -> F.Column:
        """Each row's bucket id, from its key columns.  A caller that
        passes ``buckets=`` to ``upsert`` computes them with this."""
        # xxhash64 is total (nulls hash to the seed), so null keys land
        # deterministically; pmod keeps the id in [0, _N_BUCKETS)
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(_N_BUCKETS))

    def _write_segments(self, df: DataFrame, n: int) -> list[int]:
        """One Spark job: write df partitioned by bucket under commit n.
        Returns the bucket ids that received rows."""
        staging = os.path.join(self.path, "_staging", f"c{n}")
        df.withColumn("_b", self.bucket_expr()) \
            .write.mode("overwrite").partitionBy("_b").parquet(staging)
        written: list[int] = []
        for name in os.listdir(staging):
            if name.startswith("_b="):
                k = int(name.split("=", 1)[1])
                dst = self._seg_dir(k, n)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                # a crash after moving segments but before _commit leaves
                # orphaned (never-referenced) dirs at this same n; replace
                # them, or move would nest the staged dir inside dst and
                # resurrect the _b partition column on read
                if os.path.exists(dst):
                    shutil.rmtree(dst)
                shutil.move(os.path.join(staging, name), dst)
                written.append(k)
        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)
        return written

    def exists(self) -> bool:
        return bool(self._versions())

    def _segments(self, mapping: dict[int, list[int]],
                  buckets: list[int] | None = None) -> list[str]:
        return [
            self._seg_dir(k, c)
            for k, segs in mapping.items()
            if buckets is None or k in buckets
            for c in segs
        ]

    def _scan(self, paths: list[str]) -> DataFrame:
        """Read segment files with the declared schema, so no footer-
        inference job runs; no segments read as an empty frame."""
        if not paths:
            return local_frame(self.spark, [], self.schema)
        return self.spark.read.schema(self.schema).parquet(*paths)

    def num_rows(self) -> int:
        """Row count of the current state, summed from the parquet
        footers of the live segments: no Spark job runs."""
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for seg in self._segments(self._latest()[1])
            for f in glob.glob(os.path.join(seg, "*.parquet"))
        )

    def read(self) -> DataFrame:
        """Current table state."""
        return self._scan(self._segments(self._latest()[1]))

    # -- mutations ------------------------------------------------------------

    def _write_first(self, df: DataFrame, n: int) -> None:
        """Commit n holds only df's rows: the write into a table with
        no segments.  Columns df lacks are written as NULL."""
        for f in self.schema.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        written = self._write_segments(df.select(self.schema.fieldNames()), n)
        self._commit(n, {k: [n] for k in written})

    def append(self, df: DataFrame) -> None:
        """Add rows as new segments of their buckets — no existing file
        is read or rewritten (the append-only DLQ shape).  Buckets are
        folded back to one segment when an upsert next touches them."""
        n, mapping = self._latest()
        if not mapping:
            self._write_first(df, n + 1)
            return
        written = self._write_segments(
            df.select(self.schema.fieldNames()), n + 1)
        for k in written:
            mapping[k] = mapping.get(k, []) + [n + 1]
        self._commit(n + 1, mapping)

    def upsert(self, source: DataFrame,
               update_cols: list[str] | None = None,
               buckets: list[int] | None = None) -> None:
        """MERGE on the key columns: a matched row takes the source's
        value for each column in ``update_cols`` (by default every
        column the source carries) and keeps its own value for every
        other column; an unmatched source row is inserted.
        ``update_cols=[]`` is the conditional put of
        store_notion_blocks.py:136: a replay never clobbers a stored
        row.  One Spark job over ONLY the buckets the source's keys
        hash to.

        ``buckets`` is for a caller that already knows those bucket ids
        (``bucket_expr`` over the source, e.g. observed while an earlier
        action forced it): the merge then skips the pass over the source
        that finds them.  They must cover every source key; an empty
        list means an empty source, and nothing is committed."""
        if buckets is not None and not buckets:
            return
        n_prev, mapping = self._latest()
        if not mapping:
            self._write_first(source, n_prev + 1)
            return
        # which buckets does this merge touch?  (bounded driver fetch:
        # at most _N_BUCKETS small ints)
        touched = sorted(
            buckets if buckets is not None else
            (r[0] for r in
             source.select(self.bucket_expr().alias("_b")).distinct().collect())
        )
        # touched buckets without segments merge against an empty frame
        target = self._scan(self._segments(mapping, touched))
        updated = set(source.columns if update_cols is None else update_cols)
        cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in self.key_cols]
        joined = target.alias("t").join(source.alias("s"), cond, "full_outer")
        out_cols = []
        for f in self.schema.fields:
            c = f.name
            tc = F.col(f"t.{c}")
            sc = (
                F.col(f"s.{c}") if c in source.columns
                else F.lit(None).cast(f.dataType)
            )
            if c in self.key_cols:
                out_cols.append(F.coalesce(tc, sc).alias(c))
            elif c in updated and c in source.columns:
                # source wins when present (matched-update + insert)
                out_cols.append(
                    F.when(F.col(f"s.{self.key_cols[0]}").isNotNull(), sc)
                    .otherwise(tc).alias(c)
                )
            else:
                # keep target when the key already exists
                out_cols.append(
                    F.when(F.col(f"t.{self.key_cols[0]}").isNotNull(), tc)
                    .otherwise(sc).alias(c)
                )
        n = n_prev + 1
        written = self._write_segments(joined.select(out_cols), n)
        for k in touched:
            mapping[k] = [n] if k in written else []
        self._commit(n, mapping)
