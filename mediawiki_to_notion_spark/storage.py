"""Parquet-backed keyed tables with MERGE-upsert semantics.

The reference's DynamoDB tables do conditional puts for idempotency
(store_notion_blocks.py:128-150) and delete-on-consume
(upload_notion_blocks.py:304-309).  Here each table is a hash-bucketed
parquet layout with a tiny atomic commit log — the same copy-on-write
MERGE shape Delta Lake plans, minus the dependency (swap `ParquetTable`
for `DeltaTable.merge` on a cluster with Delta available and nothing
above this module changes):

    <path>/b<K>/c<N>/*.parquet     bucket K's segment written by commit N
    <path>/_commits/<N>.json       {bucket: [segment commit ids]}

Every mutation is one Spark job over only the buckets it touches:
an upsert MERGEs source rows into the segments of the buckets their
keys hash to and leaves every other bucket's files untouched — at
100 TB the rewrite cost tracks the working set, not the table.  Appends
just add a segment to their buckets (compacted into one segment the
next time an upsert touches the bucket).  A commit is a single
atomically-replaced JSON file, so readers always see one consistent
cross-bucket view; the last two commits are retained (cheap time
travel + GC).  Consume-delete becomes an `uploaded_at` status flip +
anti-join, avoiding the delete-heavy pattern (SURVEY §1.1 row 7).
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


class ParquetTable:
    """A keyed table stored as bucketed parquet with copy-on-write
    MERGE upserts scoped to the touched buckets."""

    def __init__(self, spark: SparkSession, path: str, key_cols: list[str],
                 schema=None, n_buckets: int = 8) -> None:
        self.spark = spark
        self.path = path
        self.key_cols = key_cols
        self.schema = (
            StructType.fromDDL(schema) if isinstance(schema, str) else schema
        )
        self.n_buckets = n_buckets
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

    def _read_commit(self, n: int) -> tuple[str, dict[int, list[int]]]:
        with open(os.path.join(self._commits_dir(), f"{n}.json")) as f:
            doc = json.load(f)
        return doc.get("op", "merge"), {
            int(k): v for k, v in doc["buckets"].items()
        }

    def _latest(self) -> tuple[int, dict[int, list[int]]]:
        vs = self._versions()
        if not vs:
            return 0, {}
        return vs[-1], self._read_commit(vs[-1])[1]

    def _commit(self, n: int, mapping: dict[int, list[int]],
                op: str = "merge") -> None:
        """Atomically publish commit n (tagged with the mutation kind so
        the change feed can refuse delete-capable ranges), then GC
        segments/commits no live commit references."""
        os.makedirs(self._commits_dir(), exist_ok=True)
        tmp = os.path.join(self._commits_dir(), f".{n}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(
                {"op": op,
                 "buckets": {str(k): v for k, v in mapping.items() if v}},
                f,
            )
        os.replace(tmp, os.path.join(self._commits_dir(), f"{n}.json"))
        # retain the last two commits; drop everything they don't reference
        vs = self._versions()
        live, dead = vs[-2:], vs[:-2]
        referenced: set[tuple[int, int]] = set()
        for v in live:
            for k, segs in self._read_commit(v)[1].items():
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
        # deterministically; pmod keeps the id in [0, n_buckets)
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_buckets))

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

    def _scan(self, *paths: str) -> DataFrame:
        """Read segment files with the declared schema, so no footer-
        inference job runs; only a table built without one infers."""
        reader = self.spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.parquet(*paths)

    def _empty(self) -> DataFrame:
        if self.schema is None:
            raise FileNotFoundError(f"empty table {self.path} and no schema")
        return local_frame(self.spark, [], self.schema)

    def num_rows(self) -> int:
        """Row count of the current state, summed from the parquet
        footers of the live segments: no Spark job runs."""
        _, mapping = self._latest()
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for seg in self._segments(mapping)
            for f in glob.glob(os.path.join(seg, "*.parquet"))
        )

    def read(self, at: int | None = None) -> DataFrame:
        """Current table state, or — Delta-style time travel — the state
        as of retained commit ``at`` (the log keeps the last two
        commits, so ``at`` supports one-version rollback/audit reads;
        older versions raise, matching the vacuum horizon)."""
        if at is None:
            _, mapping = self._latest()
            paths = self._segments(mapping)
            if not paths:
                return self._empty()
            return self._scan(*paths)
        vs = self._versions()
        if at not in vs:
            # commit ids are sequential from 1, so ids below 1 (or past
            # the head) never existed — only ids inside [1, head] that
            # fell off the retention window were vacuumed (r2 ADVICE:
            # at=0 must not claim "no longer retained")
            if not vs or at > vs[-1] or at < 1:
                raise ValueError(f"commit {at} does not exist")
            raise ValueError(
                f"commit {at} is no longer retained (last two only)"
            )
        _, mapping = self._read_commit(at)
        paths = self._segments(mapping)
        if not paths:
            return self._empty()
        # pin the historical rows NOW: a later commit's GC may delete
        # the segment files this mapping references before the caller
        # runs an action (changes_since guards the same hazard)
        return self._scan(*paths).localCheckpoint(eager=True)

    def _read_buckets(self, mapping: dict[int, list[int]],
                      buckets: list[int]) -> DataFrame | None:
        paths = self._segments(mapping, buckets)
        if not paths:
            return None
        return self._scan(*paths)

    # -- mutations ------------------------------------------------------------

    def _align_to_schema(self, source: DataFrame) -> DataFrame:
        if self.schema is None:
            return source
        for f in self.schema.fields:
            if f.name not in source.columns:
                source = source.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        return source.select(self.schema.fieldNames())

    def overwrite(self, df: DataFrame) -> None:
        n = self._latest()[0] + 1
        written = self._write_segments(df, n)
        # "overwrite" can drop rows — tagged so changes_since refuses it
        self._commit(n, {k: [n] for k in written}, op="overwrite")

    def append(self, df: DataFrame) -> None:
        """Add rows as new segments of their buckets — no existing file
        is read or rewritten (the append-only DLQ shape).  Buckets are
        compacted back to one segment when an upsert next touches them."""
        n, mapping = self._latest()
        if not mapping:
            self.overwrite(self._align_to_schema(df))
            return
        table_cols = self.read().columns
        written = self._write_segments(df.select(table_cols), n + 1)
        for k in written:
            mapping[k] = mapping.get(k, []) + [n + 1]
        self._commit(n + 1, mapping)

    def upsert(self, source: DataFrame,
               insert_only: bool = False,
               update_cols: list[str] | None = None,
               buckets: list[int] | None = None) -> None:
        """MERGE: matched rows take source values (or are kept untouched
        when ``insert_only`` — the conditional-put idempotency of
        store_notion_blocks.py:136), unmatched source rows insert.  One
        Spark job over ONLY the buckets the source's keys hash to.

        ``buckets`` is for a caller that already knows those bucket ids
        (``bucket_expr`` over the source, e.g. observed while an earlier
        action forced it): the merge then skips the pass over the source
        that finds them.  They must cover every source key; an empty
        list means an empty source, and nothing is committed."""
        if buckets is not None and not buckets:
            return
        n_prev, mapping = self._latest()
        if not mapping:
            self.overwrite(self._align_to_schema(source))
            return
        # which buckets does this merge touch?  (bounded driver fetch:
        # at most n_buckets small ints)
        touched = sorted(
            buckets if buckets is not None else
            (r[0] for r in
             source.select(self.bucket_expr().alias("_b")).distinct().collect())
        )
        target = self._read_buckets(mapping, touched)
        if target is None:
            # touched buckets hold no segments yet: merge against an
            # empty frame carrying the TABLE's schema (limit(0) over the
            # live segments — schema inference only, no scan), never by
            # overwriting the whole table with just the source
            target = (
                self._empty() if self.schema is not None
                else self.read().limit(0)
            )
        cols = target.columns
        t = target.alias("t")
        s = source.alias("s")
        cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in self.key_cols]
        joined = t.join(s, cond, "full_outer")
        out_cols = []
        for c in cols:
            tc = F.col(f"t.{c}")
            # a source missing non-key columns only updates what it carries
            sc = (
                F.col(f"s.{c}") if c in source.columns
                else F.lit(None).cast(target.schema[c].dataType)
            )
            if c in self.key_cols:
                out_cols.append(F.coalesce(tc, sc).alias(c))
            elif insert_only or c not in source.columns:
                # keep target when the key already exists
                out_cols.append(
                    F.when(F.col(f"t.{self.key_cols[0]}").isNotNull(), tc)
                    .otherwise(sc).alias(c)
                )
            elif update_cols is not None and c not in update_cols:
                out_cols.append(F.coalesce(tc, sc).alias(c))
            else:
                # source wins when present (matched-update + insert)
                out_cols.append(
                    F.when(F.col(f"s.{self.key_cols[0]}").isNotNull(), sc)
                    .otherwise(tc).alias(c)
                )
        n = n_prev + 1
        written = self._write_segments(joined.select(out_cols), n)
        for k in touched:
            mapping[k] = [n] if k in written else []
        self._commit(n, mapping)

    def delete_where(self, condition) -> None:
        self.overwrite(self.read().filter(~condition))

    def changes_since(self, commit_n: int) -> DataFrame:
        """Row-level change feed: rows inserted or updated after
        ``commit_n`` (the mini change-data-feed for incremental
        downstream stages).  Cost is scoped to the buckets whose
        mapping changed — untouched buckets are never read.

        Guardrails: only retained commits (the last two) can be diffed;
        a range containing an ``overwrite``/``delete_where`` commit
        raises — those can DROP rows, which an insert/update feed
        cannot represent, and silence would feed stale rows downstream.
        The result is materialized (localCheckpoint) before returning:
        the lazy plan would reference old segments the NEXT commit's GC
        deletes, so a feed consumed after further mutations would
        otherwise crash mid-job."""
        cpath = os.path.join(self._commits_dir(), f"{commit_n}.json")
        if not os.path.exists(cpath):
            raise ValueError(
                f"commit {commit_n} is no longer retained (last two only)"
            )
        _, old_mapping = self._read_commit(commit_n)
        latest_n, cur_mapping = self._latest()
        for v in self._versions():
            if commit_n < v <= latest_n and self._read_commit(v)[0] == "overwrite":
                raise ValueError(
                    "change feed cannot represent an overwrite/delete commit"
                )
        changed = [
            k for k in cur_mapping
            if cur_mapping.get(k) != old_mapping.get(k)
        ]
        if not changed:
            return self.read().limit(0)
        cur = self._scan(*self._segments(cur_mapping, changed))
        old_paths = self._segments(old_mapping, changed)
        if old_paths:
            old = self._scan(*old_paths)
            cur = cur.exceptAll(old.select(cur.columns))
        return cur.localCheckpoint(eager=True)

    def compact(self, min_segments: int = 2) -> int:
        """Merge every bucket holding >= min_segments append segments
        into one (the OPTIMIZE maintenance op for append-heavy tables —
        the DLQ shape).  Buckets already at one segment are untouched,
        so compaction IO also tracks the fragmented working set.
        Returns the number of buckets compacted."""
        n_prev, mapping = self._latest()
        frag = [k for k, segs in mapping.items() if len(segs) >= min_segments]
        if not frag:
            return 0
        data = self._scan(*self._segments(mapping, frag))
        n = n_prev + 1
        written = self._write_segments(data, n)
        for k in frag:
            mapping[k] = [n] if k in written else []
        self._commit(n, mapping)
        return len(frag)
