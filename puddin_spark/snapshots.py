"""Snapshot-committed table store: Iceberg-style atomicity over parquet.

The reference's resume machinery is a filesystem state machine (stage dirs +
mtime ordering + write-after-conllu ordering, parse_pile.py:260-453,476,
1302-1306). The Spark-native replacement is snapshot commits: a table is the
union of data directories named by an append-only commit log; a crash
mid-write leaves an orphan directory that no commit references, so readers
never see partial output (SURVEY.md section 3.4).

This module implements that contract directly over parquet because the
Iceberg runtime jars are not available in this sandbox. The API is shaped so
an Iceberg catalog can replace the store without touching pipeline code:
``commit`` = snapshot append, ``read`` = table scan of the current snapshot
set, ``resume_filter`` = the anti-join resume (parse_pile.py:999 isin ->
left_anti; run_resumable_pipeline calls it by url and by text digest on a
narrow (url, text_sha) frame of the batch, before any UDF plan).

Commit protocol (single-writer, crash-safe):
 1. write data files to  base/_staging/<token>/data        (invisible)
 2. write lineage files to base/_staging/<token>/lineage   (invisible)
 3. atomically rename base/_staging/<token> -> base/snap-<n>
 4. atomically link(2) a commit record tmpfile -> base/_commits/<n>.json
    (link fails with EEXIST if another writer landed the same id — the
    single-writer assumption fails loudly, never by silent clobber)

A snapshot is committed iff its record exists in _commits/; step 3 without
step 4 is invisible, steps 1-2 without 3 are invisible. Lineage rides the
same commit, so no phantom lineage rows can exist (SURVEY.md section 7.3).
Long-lived stores (one commit per streaming micro-batch) are reset to O(1)
read/commit cost by compact() + gc() — a base snapshot supersedes all
earlier ones, Iceberg's rewrite_data_files analog.
"""
from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable, Sequence
from functools import partial, reduce
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from puddin_spark.operators.dedup import band_prefix, local_minhash_pairs, union_find_min_roots
from puddin_spark.operators.similarity import first_hits, local_srp_pairs


class ConcurrentWriteError(RuntimeError):
    """Two writers raced on the same snapshot id — the store is
    single-writer by contract; the loser fails loudly instead of silently
    clobbering the winner's commit record."""


def _stat_value(v):
    """JSON-encodable file-stat value. Numeric and string columns only —
    the loud failure beats silently recording un-comparable stats."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, str)):
        return v
    raise TypeError(
        f"file-skipping stats support numeric/string/bool columns, got "
        f"{type(v).__name__}; cast (e.g. timestamps to epoch seconds) first"
    )


def _parquet_rows(data_dir: Path) -> int:
    """Rows in the parquet files under `data_dir`, from their footers (the
    writer just produced them; no data pages are read)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in data_dir.rglob("*.parquet"))


def _collect_file_stats(data_dir: Path, cols: list[str]) -> dict:
    """Per-file min/max for `cols` from the just-written parquet footers —
    the Iceberg manifest column-stats analog. Driver-side footer reads of
    files this writer just produced (no data pages touched); on a shared
    filesystem this is the same O(files) metadata pass Iceberg's commit
    performs. Returns {relpath: {col: [min, max]}} with nulls for files
    where the footer carries no stats (those files never prune)."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for f in sorted(data_dir.rglob("*.parquet")):
        rel = str(f.relative_to(data_dir))
        meta = pq.ParquetFile(f).metadata
        names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        stats: dict[str, list] = {}
        for col in cols:
            i = names.get(col)
            if i is None:  # e.g. a partition column: lives in the path
                continue
            lo = hi = None
            ok = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            stats[col] = (
                [_stat_value(lo), _stat_value(hi)] if ok else [None, None]
            )
        out[rel] = stats
    return out


def _fingerprint_aggs(of: str) -> list:
    """(fp_n, fp_xor): how many rows have a non-null `of` id, and the
    order-independent xor of those ids' xxhash64 — two column aggregates
    that detect MEMBERSHIP differences, not just size drift."""
    return [
        F.expr(f"count({of})").alias("fp_n"),
        F.expr(f"bit_xor(if(({of}) is null, null, xxhash64({of})))").alias("fp_xor"),
    ]


def _planned_partitions(df: DataFrame) -> int:
    """Partition count the frame's physical plan declares, 0 when unknown
    (file scans, checkpoints of unclustered frames). Planning only, no job."""
    return df._jdf.queryExecution().sparkPlan().outputPartitioning().numPartitions()


def _record_schema(spark, rec: dict, kind: str, path: str) -> StructType:
    """A snapshot directory's schema: recorded at commit, or — for a record
    that predates recorded schemas — inferred (one job)."""
    recorded = rec.get("schema" if kind == "data" else "lineage_schema")
    schema = json.loads(recorded) if recorded else spark.read.parquet(path).schema.jsonValue()
    return StructType.fromJson(_as_nullable(schema))


def _as_nullable(schema_json):
    """A schema's JSON with every field, array element and map value
    nullable — what a parquet scan yields, so snapshots that differ only in
    nullability read as one schema."""
    if isinstance(schema_json, list):
        return [_as_nullable(v) for v in schema_json]
    if not isinstance(schema_json, dict):
        return schema_json
    return {
        k: True if k in ("nullable", "containsNull", "valueContainsNull") else _as_nullable(v)
        for k, v in schema_json.items()
    }


def _merge_schemas(schemas: list[StructType], partition_by) -> StructType | None:
    """Every column of `schemas` in first-seen order, partition columns
    last (where partition discovery puts them); None when one column name
    carries two types."""
    fields: dict[str, StructField] = {}
    for schema in schemas:
        for f in schema.fields:
            if fields.setdefault(f.name, f).dataType != f.dataType:
                return None
    order = [n for n in fields if n not in partition_by] + [
        n for n in partition_by if n in fields
    ]
    return StructType([fields[n] for n in order])


class SnapshotStore:
    def __init__(self, base_dir: str | os.PathLike):
        self.base = Path(base_dir)
        (self.base / "_commits").mkdir(parents=True, exist_ok=True)
        (self.base / "_staging").mkdir(parents=True, exist_ok=True)

    # --- commit log ---

    def commits(self) -> list[dict]:
        recs = []
        for p in sorted((self.base / "_commits").glob("*.json")):
            recs.append(json.loads(p.read_text()))
        return recs

    def _active_commits(self, as_of: int | None = None) -> list[dict]:
        """Commits that contribute to the table state AS OF the given
        snapshot id (default: latest): everything from the most recent base
        (compaction) snapshot at-or-before `as_of` onward, up to `as_of` —
        the Iceberg time-travel read (`VERSION AS OF`). Commits are
        immutable, so any historical state remains readable until gc()
        drops pre-base snapshots."""
        recs = self.commits()
        if as_of is not None:
            recs = [r for r in recs if r["snapshot_id"] <= as_of]
            if not recs or recs[-1]["snapshot_id"] != as_of:
                raise ValueError(f"no committed snapshot {as_of}")
        for i in range(len(recs) - 1, -1, -1):
            if recs[i].get("base"):
                return recs[i:]
        return recs

    def current_snapshot_id(self) -> int:
        recs = self.commits()
        return recs[-1]["snapshot_id"] if recs else -1

    # --- write path ---

    def commit(
        self,
        data: DataFrame,
        lineage: DataFrame | None = None,
        *,
        base: bool = False,
        partition_by: list[str] | None = None,
        stats_cols: list[str] | None = None,
        lineage_stats_cols: list[str] | None = None,
        fingerprint: str | None = None,
    ) -> int:
        """Atomically append one snapshot (data + optional lineage).
        base=True marks a compaction snapshot that supersedes all earlier
        ones (readers start from the latest base). partition_by writes the
        data directory-partitioned on those columns (Iceberg partition-spec
        analog) so readers filtering on them prune files; compact()
        preserves the latest commit's spec. stats_cols records per-FILE
        min/max for those columns in the commit record (the Iceberg
        manifest column-stats analog, read from the just-written parquet
        footers); read_where() uses them to open only the files whose
        range can satisfy a predicate — cluster the data on the column
        first (repartitionByRange + sortWithinPartitions) or the ranges
        all overlap and nothing prunes. lineage_stats_cols is the same for
        the LINEAGE files (read_lineage_where) — lineage accumulates one
        snapshot per batch, so per-batch metric reads on a long-lived
        store should open one snapshot's files, not every batch's since
        the last compact. Raises ConcurrentWriteError if
        another writer landed the same snapshot id first — link(2) is the
        O_EXCL of the commit protocol.

        The record also carries what readers and gates would otherwise run
        jobs for: the data and lineage schemas (read() passes them instead
        of inferring per directory), the data row count (from the written
        footers), and — with `fingerprint`, a SQL id expression that is
        null for rows outside the set — the (count, xor of xxhash64)
        fingerprint of that id set (_fingerprint_aggs), observed on the
        write itself: zero extra jobs. compact() and rollback() keep the
        latest commit's fingerprint expression; row_count() and
        fingerprint() combine the active records."""
        token = uuid.uuid4().hex
        staging = self.base / "_staging" / token
        schema = data.schema.json()
        if fingerprint:
            obs = Observation(f"commit-{token}")
            data = data.observe(obs, *_fingerprint_aggs(fingerprint))
        if partition_by and not stats_cols and _planned_partitions(data) != 1:
            # Iceberg write.distribution-mode=hash analog (optimization
            # guide section 6): cluster rows by the partition columns before
            # a partitionBy write, or every input task writes one file into
            # every partition directory (observed: a 32-partition band frame
            # x 16 prefix dirs = ~500 tiny files per commit, and the commit
            # wall was file-creation overhead). One shuffle, one file per
            # populated directory. SKIPPED when stats_cols is set: that
            # contract requires the CALLER's range clustering
            # (repartitionByRange + sortWithinPartitions, see docstring) to
            # reach the files unchanged, or every file's min/max overlaps
            # and read_where prunes nothing. Skipped too for a frame whose
            # plan is one partition (a driver-side batch's band rows): its
            # one write task already writes one file per directory, so the
            # shuffle would only add a job.
            data = data.repartition(*[F.col(c) for c in partition_by])
        writer = data.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(staging / "data"))
        rows = _parquet_rows(staging / "data")
        fp = None
        if fingerprint:
            # not waited for on an empty write: Spark may prove the data
            # empty and skip the observed operator altogether
            got = obs.get if rows else {"fp_n": 0, "fp_xor": 0}
            fp = {"of": fingerprint, "n": got["fp_n"], "xor": got["fp_xor"] or 0}
        file_stats = (
            _collect_file_stats(staging / "data", stats_cols) if stats_cols else None
        )
        lineage_file_stats = None
        if lineage is not None:
            lineage.write.mode("overwrite").parquet(str(staging / "lineage"))
            if lineage_stats_cols:
                lineage_file_stats = _collect_file_stats(
                    staging / "lineage", lineage_stats_cols
                )

        snap_id = self.current_snapshot_id() + 1
        final = self.base / "_commits" / f"{snap_id:06d}.json"
        if final.exists():
            # cheap early exit: another writer fully landed this id since we
            # read the log (the authoritative arbitration is the link below)
            raise ConcurrentWriteError(
                f"snapshot {snap_id} was committed by another writer; "
                f"this store is single-writer"
            )
        # the data directory name carries the writer token, so concurrent
        # writers NEVER collide on a directory — no reclaim-rmtree exists to
        # misfire on a competitor's just-renamed data. The commit-record
        # link(2) below is the single arbitration point; a loser's renamed
        # directory is simply an unreferenced orphan that gc() collects.
        snap_dir = self.base / f"snap-{snap_id:06d}-{token[:8]}"
        os.rename(staging, snap_dir)  # atomic on POSIX

        rec = {
            "snapshot_id": snap_id,
            "data_dir": snap_dir.name + "/data",
            "lineage_dir": (snap_dir.name + "/lineage") if lineage is not None else None,
            "base": base,
            "partition_by": partition_by or None,
            "stats_cols": stats_cols or None,
            "file_stats": file_stats,
            "lineage_stats_cols": lineage_stats_cols or None,
            "lineage_file_stats": lineage_file_stats,
            "schema": schema,
            "lineage_schema": lineage.schema.json() if lineage is not None else None,
            "rows": rows,
            "fingerprint": fp,
        }
        # per-writer tmp record: a shared name would let the loser unlink
        # the winner's tmp mid-protocol
        tmp = self.base / "_commits" / f".{snap_id:06d}.{token[:8]}.json.tmp"
        tmp.write_text(json.dumps(rec))
        try:
            os.link(tmp, final)  # fails with EEXIST instead of clobbering
        except FileExistsError:
            tmp.unlink()
            raise ConcurrentWriteError(
                f"snapshot {snap_id} was committed by another writer; "
                f"this store is single-writer"
            ) from None
        tmp.unlink()
        return snap_id

    # --- maintenance ---

    def compact(self, spark: SparkSession) -> int:
        """Merge every active snapshot into one base snapshot. Long-lived
        (e.g. streaming foreachBatch) stores accumulate one snapshot per
        micro-batch; read() unions every directory and commits() re-parses
        every record, both O(commit count) — compaction resets that to O(1).
        Returns the new snapshot id, or -1 for an empty store."""
        data = self.read(spark)
        if data is None:
            return -1
        return self._rebase(data, self.read_lineage(spark), self._active_commits())

    def rollback(self, spark: SparkSession, to_snapshot: int) -> int:
        """Restore the table to a historical state by committing it as a new
        BASE snapshot (Iceberg's rollback: history moves forward, data moves
        back). Earlier states stay readable via read(as_of=...) until gc().
        Returns the new snapshot id."""
        return self._rebase(
            self.read(spark, as_of=to_snapshot),
            self.read_lineage(spark, as_of=to_snapshot),
            self._active_commits(to_snapshot),
        )

    def _rebase(self, data, lineage, recs: list[dict]) -> int:
        """Commit `data` as a base snapshot under the latest of `recs`'
        partition, file-stats and fingerprint specs."""
        last = recs[-1] if recs else {}
        return self.commit(
            data, lineage, base=True,
            partition_by=last.get("partition_by"),
            stats_cols=last.get("stats_cols"),
            lineage_stats_cols=last.get("lineage_stats_cols"),
            fingerprint=(last.get("fingerprint") or {}).get("of"),
        )

    def gc(self, *, staging_max_age_s: float = 3600.0) -> int:
        """Drop commit records and snapshot directories superseded by the
        latest base snapshot, plus unreferenced orphan directories (crashed
        or commit-race-losing writers) and STALE staging / record-tmp
        files. Returns the number of snapshot directories removed. Run
        after compact(); not concurrency-safe with in-flight readers of
        pre-base snapshots.

        staging_max_age_s guards in-flight writers everywhere a live commit
        could be holding an artifact: staging trees (aged by their NEWEST
        file — a parquet write in progress updates leaf files, not the top
        dir), never-referenced snap dirs (a writer sits between rename and
        record-link there), and leftover record tmp files. Superseded dirs
        — referenced by the records being dropped — are deleted regardless
        of age; they are committed history, not an in-flight write. Pass 0
        only when no writer can be running."""
        import shutil
        import time

        def tree_mtime(path) -> float:
            newest = path.stat().st_mtime
            for root, _, files in os.walk(path):
                for f in files:
                    newest = max(newest, os.stat(os.path.join(root, f)).st_mtime)
            return newest

        now = time.time()
        all_records = self.commits()
        active_ids = {rec["snapshot_id"] for rec in self._active_commits()}
        # keep-set by directory NAME from the records (orphans from losing
        # writers share a snapshot id with the winner but not a directory)
        active_dirs, superseded_dirs = set(), set()
        for rec in all_records:
            dirs = (
                active_dirs if rec["snapshot_id"] in active_ids else superseded_dirs
            )
            for kind in ("data_dir", "lineage_dir"):
                d = rec.get(kind)
                if d:
                    dirs.add(d.split("/")[0])
        removed = 0
        # records first: new readers stop referencing the old dirs
        for p in sorted((self.base / "_commits").glob("*.json")):
            if json.loads(p.read_text())["snapshot_id"] not in active_ids:
                p.unlink()
        for p in (self.base / "_commits").glob(".*.json.tmp"):
            # crashed writers leak their per-writer tmp record
            if now - p.stat().st_mtime >= staging_max_age_s:
                p.unlink()
        for d in sorted(self.base.glob("snap-*")):
            if d.name in active_dirs:
                continue
            if d.name in superseded_dirs or (
                now - tree_mtime(d) >= staging_max_age_s
            ):
                shutil.rmtree(d)
                removed += 1
        for d in (self.base / "_staging").iterdir():
            if now - tree_mtime(d) >= staging_max_age_s:
                shutil.rmtree(d)
        return removed

    # --- read path ---

    def _read_kind(
        self, spark: SparkSession, kind: str, as_of: int | None
    ) -> DataFrame | None:
        recs = [r for r in self._active_commits(as_of) if r.get(f"{kind}_dir")]
        # an EMPTY partitioned write leaves a snapshot dir with no data
        # files at all (Spark emits only _SUCCESS — no partition dirs, so
        # no schema-bearing 0-row part file like the unpartitioned case);
        # such dirs contribute nothing and would fail schema inference
        recs = [r for r in recs if any((self.base / r[f"{kind}_dir"]).rglob("*.parquet"))]
        if not recs:
            return None
        dirs = [str(self.base / r[f"{kind}_dir"]) for r in recs]
        schemas = [_record_schema(spark, r, kind, d) for r, d in zip(recs, dirs)]
        parts = {tuple(r.get("partition_by") or ()) for r in recs}
        merged = _merge_schemas(schemas, next(iter(parts)) if len(parts) == 1 else ())
        if merged is not None and len(parts) == 1:
            # ONE scan under the recorded schemas (no inference job), even
            # across schema evolution (Iceberg add-column analog): the
            # merged schema null-fills a column in files written before it
            # existed. Partitioned snapshots are one scan too: every
            # snapshot's data dir is its own partition-discovery root, which
            # Spark only accepts with ignoreInvalidPartitionPaths (every
            # data file of a partitioned commit sits under col=value dirs,
            # so nothing is ignored). A union of per-commit scans would be
            # one plan branch per commit, and every filter or semi-join
            # above the read is copied into each branch.
            reader = spark.read.schema(merged)
            if parts != {()}:
                reader = reader.option("ignoreInvalidPartitionPaths", "true")
            return reader.parquet(*dirs)
        # a column whose type changed, or commits under different partition
        # specs: one scan per snapshot, unioned by name (missing columns
        # null-fill, types widen as unionByName allows)
        out = None
        for d, schema in zip(dirs, schemas):
            df = spark.read.schema(schema).parquet(d)
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        return out

    def row_count(self) -> int | None:
        """Rows in the current table state, from the commit records (no
        job); None when an active record predates row counts."""
        rows = self._recorded("rows")
        return None if rows is None else sum(rows)

    def fingerprint(self, of: str) -> tuple[int, int] | None:
        """(count, xor) fingerprint of the current table's `of` id set
        (commit(fingerprint=of)), combined from the commit records: counts
        add and xor is its own inverse, so appends fold in and base
        commits restart the fold. No job; None when an active record
        carries no fingerprint of `of`."""
        fps = self._recorded("fingerprint")
        if fps is None or any(fp["of"] != of for fp in fps):
            return None
        return sum(fp["n"] for fp in fps), reduce(int.__xor__, (fp["xor"] for fp in fps), 0)

    def _recorded(self, key: str) -> list | None:
        vals = [r.get(key) for r in self._active_commits()]
        return None if any(v is None for v in vals) else vals

    def read(self, spark: SparkSession, as_of: int | None = None) -> DataFrame | None:
        """Current table state, or — with as_of — the state as of that
        snapshot id (time travel; raises on an unknown/gc'd id)."""
        return self._read_kind(spark, "data", as_of)

    def read_lineage(
        self, spark: SparkSession, as_of: int | None = None
    ) -> DataFrame | None:
        return self._read_kind(spark, "lineage", as_of)

    def read_where(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        as_of: int | None = None,
    ) -> DataFrame | None:
        """Rows with `lo <= col <= hi` (either bound may be None), opening
        ONLY the files whose recorded [min, max] range can overlap — the
        manifest-level file skipping Iceberg performs before the scan,
        driven by the stats recorded at commit(stats_cols=[...]). Results
        are identical to read().filter(...): snapshots committed without
        stats for `col` fall back to all their files, a file whose footer
        had no stats ([None, None]) is never skipped, and an all-null file
        is safely skippable because a range predicate never matches null.
        Returns None when nothing is committed (or every file was pruned
        and no schema source remains)."""
        return self._read_where_kind(spark, "data", col, lo, hi, as_of)

    def read_lineage_where(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        as_of: int | None = None,
    ) -> DataFrame | None:
        """read_where over the LINEAGE files, driven by the stats recorded
        at commit(lineage_stats_cols=[...]). The pipeline commits lineage
        with per-file snapshot_id stats, so a per-batch metrics read
        (snapshot_id == s) opens exactly that batch's lineage files — on a
        long-lived incremental store the alternative is scanning one
        lineage snapshot per batch since the last compact."""
        return self._read_where_kind(spark, "lineage", col, lo, hi, as_of)

    def _read_where_kind(
        self, spark, kind: str, col: str, lo, hi, as_of: int | None
    ) -> DataFrame | None:
        dir_key, cols_key, stats_key = (
            ("data_dir", "stats_cols", "file_stats")
            if kind == "data"
            else ("lineage_dir", "lineage_stats_cols", "lineage_file_stats")
        )
        frames = []
        for r in self._active_commits(as_of):
            d = r.get(dir_key)
            if not d:
                continue
            ddir = self.base / d
            fs = r.get(stats_key) if col in (r.get(cols_key) or []) else None
            if fs is None:
                files = [str(p) for p in sorted(ddir.rglob("*.parquet"))]
            else:
                files = []
                for rel, stats in sorted(fs.items()):
                    mn, mx = stats.get(col, [None, None])
                    if mn is None or mx is None:
                        # no footer stats — cannot prune. (An all-null
                        # file records [None, None] too; keeping it is
                        # correct, merely unpruned, and the row filter
                        # below still excludes its rows.)
                        files.append(str(ddir / rel))
                    elif (lo is None or mx >= lo) and (hi is None or mn <= hi):
                        files.append(str(ddir / rel))
            if not files:
                continue
            # basePath keeps directory-partition columns visible when the
            # snapshot is partitioned
            schema = _merge_schemas(
                [_record_schema(spark, r, kind, str(ddir))], r.get("partition_by") or ()
            )
            frames.append(
                spark.read.schema(schema).option("basePath", str(ddir)).parquet(*files)
            )
        if not frames:
            return None
        out = frames[0]
        for df in frames[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        c = F.col(col)
        if lo is not None:
            out = out.filter(c >= F.lit(lo))
        if hi is not None:
            out = out.filter(c <= F.lit(hi))
        return out

    # --- resume ---

    def resume_filter(
        self, spark: SparkSession, incoming: DataFrame, key: str = "url"
    ) -> DataFrame:
        """incoming ∖ already-committed, by `key`: a left-anti join against
        the committed `key` column as stored, with no distinct (an anti-join
        needs none, and a distinct adds an aggregate over the whole
        committed column). Spark/AQE picks broadcast vs shuffled anti-join
        from runtime stats. Rows with a null `key` never match and pass
        through. run_resumable_pipeline calls it once per key (url, then
        text_sha) on its narrow (url, text_sha) frame of the batch."""
        committed = self.read(spark)
        if committed is None:
            return incoming
        return incoming.join(committed.select(key), key, "left_anti")


def record_failures(
    spark: SparkSession,
    store: SnapshotStore,
    failed: DataFrame,
    *,
    excl_type: str = "fail",
    num_partitions: int = 32,
) -> int:
    """Post-hoc doc-level failure recording (F9): the reference appended
    parse-failure rows to its exclusions table AFTER the parse loop
    (parse_pile.py:1374-1390). Here the verdict flip (keep -> false,
    excl_type -> 'fail', clean_text nulled) lands as a new BASE snapshot —
    the overwrite-snapshot shape of table formats like Iceberg — so readers
    see exactly one row per doc and resume semantics are unchanged. Lineage
    is recomputed from the updated verdicts so rule-hit counts include the
    failures. Returns the new snapshot id, or -1 if `failed` is empty.

    The near-dedup sidecar indexes are left as they are: the base commit
    changes the kept-id fingerprint, so the next ingest's reconciliation
    gate (_reconciled_index) prunes the flipped docs' index entries before
    any newcomer is paired against them, as it does after rollback. Only
    ingest pairs documents against a sidecar index.
    """
    from puddin_spark.pipeline import flip_verdicts, lineage_table

    verdicts = store.read(spark)
    if verdicts is None:
        raise ValueError("record_failures on an empty store")
    flagged = failed.select("doc_id").distinct()
    if flagged.isEmpty():
        return -1
    # no forced broadcast: failures are normally tiny (AQE will broadcast
    # them), but a mass-failure event must not OOM the driver
    updated = flip_verdicts(verdicts, flagged, excl_type)
    lineage = lineage_table(updated, num_partitions=num_partitions).withColumn(
        "snapshot_id", F.lit(store.current_snapshot_id() + 1)
    )
    return store.commit(
        updated, lineage, base=True, lineage_stats_cols=["snapshot_id"],
        fingerprint=_KEPT_IDS,
    )


def run_resumable_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    store: SnapshotStore,
    *,
    num_partitions: int = 32,
    near_dedup: bool = False,
    embedding_near_dedup: bool = False,
    srp_planes: int | None = None,
    srp_bands: int | None = None,
    html_fallback: bool = False,
    fix_mojibake: bool = False,
    blocked_domains=None,
    gates: Sequence[Callable[[DataFrame], DataFrame]] = (),
    partition_by: list[str] | None = None,
) -> tuple[int, int]:
    """One resumable pipeline run: process only not-yet-committed urls,
    commit verdicts + per-partition lineage atomically.

    Resume is a narrow pre-pass. Against a store with commits, the batch's
    English rows are projected to (url, sha2(text) AS text_sha) and
    anti-joined against the committed url and text_sha columns
    (resume_filter, once per key); only these narrow rows and the
    committed key columns can cross an exchange. The pre-pass is persisted,
    and its count is the one materializing job: when it is 0 the run
    returns (-1, 0) before any UDF plan is built. Otherwise the body pass
    reads pages ⋉ broadcast(new urls), null-safe on url so a null-url row
    reaches the verdict count and fails the batch. The new-url set is
    bounded by the batch and is broadcast whole, under the same memory
    contract as the keep-first loser set (pipeline module docstring): a
    batch whose new urls cannot fit in a broadcast must be split by the
    caller. A store with no commit runs quality_pipeline on the batch
    directly.

    near_dedup=True and embedding_near_dedup=True each fuzzy-dedup every
    batch against every PRIOR batch through a sidecar beside the verdict
    store (_Sidecar): a signature index of the surviving kept docs plus its
    exploded band table, a pure derived cache directory-partitioned by band
    prefix so each batch's committed-side scan reads only the batch's own
    prefix partitions. New docs near-duplicating an indexed doc — or losing
    keep-first within the batch's own near-dup clusters — flip to
    keep=false with clean_text nulled BEFORE the verdict commit; the
    index and band cache then commit only the batch's finally kept docs.
    Per-batch cost scales with the batch: the committed corpus is never
    re-encoded or re-paired. Consistency is self-healing without a 2-phase
    commit: a (count, xor-of-ids) gate reconciles each index against the
    committed kept set in BOTH directions (crash-lag re-index from
    committed clean_text AND stale-entry prune after record_failures/
    rollback), landed as a base commit so the repair runs once, and a
    row-count gate rebuilds the band cache from the index by projection.
    The sidecars share the verdict store's compact()/gc() lifecycle (CLI
    `compact` runs the verdict store plus every sidecar store), and they
    compose: minhash flips land first, the embedding pass sees only
    survivors. They differ in signature and label. near_dedup indexes word
    3-shingle minhash signatures at <base>/minhash_index (bands at
    <base>/minhash_bands, partitioned by band_pfx) and flips Jaccard >= 0.5
    twins to excl_type='near_dup' (dedup.local_minhash_pairs new-vs-new,
    _jaccard_hits vs-committed). embedding_near_dedup indexes document
    embeddings (models.doc_embedding_udf, the sentence-transformer seam's
    deterministic stand-in) at <base>/srp_index (SRP band keys at
    <base>/srp_bands, partitioned by bucket_pfx) and flips cosine >= 0.99
    twins to excl_type='emb_near_dup' (similarity.local_srp_pairs
    new-vs-new, similarity.first_hits vs-committed; the vs-committed half
    of both runs in _committed_pass). Its index is BANDED — srp_bands keys
    per doc, each from a disjoint srp_planes-plane family; candidates share
    ANY band key — so near-twin recall stays high while random collisions
    per band scale as N/2^planes. srp_planes/srp_bands apply on FIRST use
    (defaults 16/8; raise planes at larger corpus scales), persist in the
    sidecar's _meta.json, and later runs must match or omit them — band
    keys from different configs are incomparable, so a mismatch raises
    instead of silently generating no candidates. Both are off by default: their
    labels are graft-axis labels the reference doesn't emit.

    The sidecars run on the driver (_near_dedup): ONE collect encodes the
    batch for both sidecars (signatures, shingles, embeddings, band keys
    and prefixes), new-vs-new pairs and clusters resolve on the driver
    (union-find over the pair set), and each sidecar runs one Spark pass
    against its committed side (_committed_pass) that returns the drop set
    and the committed band-key counts the occupancy lineage needs: a batch
    of 200 docs runs 29 Spark jobs, the same count every batch. The verdict count also observes the
    batch's kept count, which bounds that collect: with sidecars on, a
    batch above _LOCAL_ROWS kept docs commits as k = ceil(kept /
    _LOCAL_ROWS) sub-batches, split by pmod(xxhash64(doc_id), k) AFTER
    exact keep-first was decided over the whole batch. Each sub-batch, in
    order, runs the sidecars against a fresh read of the store (so the
    reconciliation gates see the earlier sub-batches) and commits its own
    verdicts, lineage and sidecar rows: a crash between sub-batches is the
    per-commit resume contract. A near-dup family that straddles two
    sub-batches resolves as vs-committed, exactly as ingesting the
    sub-batches one after another would: one member is still kept, but
    which one may differ from an unsplit batch.

    fix_mojibake=True repairs double-encoded UTF-8 in the incoming text
    (operators/encoding.py replace chain — pure codegen) BEFORE anything
    else: before the resume sha2 digest (so a re-crawl delivering the
    repaired bytes of an already-processed corrupted page still
    anti-joins consistently within a flagged pipeline) and before the
    scrub/translit chain (translit would mangle 'Ã©' into 'A(c)' instead
    of 'e'). Off by default: the reference corpus is already repaired
    upstream, and byte-parity with its fixtures is the default contract.

    gates are the rule gates after the puddin rules, applied in list
    order to the batch's verdicts before the near-dedup passes. Each is a
    verdicts -> verdicts callable, typically an operators `apply_*_gate`
    with its parameters bound (partial(apply_gopher_gate, min_words=10));
    see those docstrings for each gate's rules and label. Order matters:
    a gate sees only the previous gates' survivors.

    Returns (snapshot_id, n_new_docs): the last snapshot committed, -1
    when there was nothing new (no empty commits — rerun after success is
    a no-op, the kill/rerun contract from BASELINE.md).
    """
    from puddin_spark.pipeline import lineage_table, quality_pipeline

    sidecars = [_MINHASH] if near_dedup else []
    if embedding_near_dedup:
        # resolve/validate the sidecar band config UP FRONT: a conflicting
        # srp_planes/srp_bands must fail even when this run turns out to be
        # a no-op (the config error is real regardless of batch content)
        srp_planes, srp_bands = _srp_meta(
            store.base / _SRP.index_name, srp_planes, srp_bands
        )
        sidecars.append(_SRP._replace(
            bands=partial(_srp_bands_table, num_planes=srp_planes, num_bands=srp_bands),
            band_rows=srp_bands,
            keys=partial(_srp_keys, srp_planes, srp_bands),
        ))
    # the digest anti-join is the global keep-first dedup across runs: a
    # url whose text body was already processed under another url in a
    # PRIOR commit never reprocesses (quality_pipeline's keep-first only
    # sees the current todo set) — without it, urls shadowed by an in-run
    # duplicate would be rediscovered on every rerun and resume would not
    # be idempotent.
    if html_fallback:
        # substitute extracted text BEFORE the digest anti-join below:
        # WET-missing rows all share the empty-string digest, so hashing
        # the raw column would anti-join every later html-only row against
        # the first committed one (operators/html.py note)
        from puddin_spark.operators.html import with_html_fallback

        pages = with_html_fallback(pages)
    if fix_mojibake:
        # also before the digest anti-join: within a flagged pipeline the
        # committed digests are of REPAIRED text, so the incoming side
        # must hash the same form or resume would reprocess every
        # corrupted page on every run
        from puddin_spark.operators.encoding import fix_mojibake_expr

        pages = pages.withColumn("text", F.expr(fix_mojibake_expr("text")))
    committed = store.read(spark)
    todo = pages
    persisted = []
    try:
        if committed is not None:
            new = pages.filter(F.col("lang") == "en").select(
                "url", F.sha2("text", 256).alias("text_sha")
            )
            for key in ("url", "text_sha"):
                if key in committed.columns:
                    new = store.resume_filter(spark, new, key)
            new = new.persist()
            persisted.append(new)
            if new.count() == 0:
                return -1, 0
            # null-safe: a null-url row reaches the verdict count below and
            # fails the batch
            todo = pages.join(
                F.broadcast(new.select(F.col("url").alias("_new_url"))),
                F.col("url").eqNullSafe(F.col("_new_url")),
                "left_semi",
            )
        # with_timing: Arrow-batch stamps ride the UDF pass so the committed
        # lineage carries real per-partition started_at/finished_at/duration_s
        verdicts = quality_pipeline(
            todo, with_timing=True, blocked_domains=blocked_domains
        )
        for gate in gates:
            verdicts = gate(verdicts)
        # the one cache of the batch's verdicts: sidecar flips are IN-list
        # projections over it
        verdicts = cached = verdicts.persist()
        persisted.append(cached)
        # url is the document key (doc_id = sha2(url)): a null one is never
        # removed as a keep-first loser and drops out of the kept-id
        # fingerprint. Observed on the count with the kept count the
        # sidecars branch on, no extra job
        seen = Observation(f"verdict-count-{uuid.uuid4().hex}")
        n_new = cached.observe(
            seen,
            F.count_if(F.col("url").isNull()).alias("nulls"),
            F.count_if("keep").alias("kept"),
        ).count()
        if n_new == 0:
            return -1, 0
        # an Observation skips provably empty data, so it is read only here
        n_null = seen.get["nulls"]
        if n_null:
            raise ValueError(f"{n_null} of {n_new} new documents have a null url")
        parts = [cached]
        if sidecars:
            k = max(1, -(-seen.get["kept"] // max(_LOCAL_ROWS, 1)))
            if k > 1:
                part = F.pmod(F.xxhash64("doc_id"), F.lit(k))
                parts = [cached.filter(part == i) for i in range(k)]
        for i, verdicts in enumerate(parts):
            if i:
                committed = store.read(spark)
            if sidecars:
                verdicts, pending, dropped = _near_dedup(
                    spark, store, sidecars, verdicts, committed
                )
            lineage = lineage_table(verdicts, num_partitions=num_partitions).withColumn(
                "snapshot_id", F.lit(store.current_snapshot_id() + 1)
            )
            # proc_ts is lineage-only instrumentation — the published verdict
            # schema (OUTPUT_COLS) is what lands in the store
            # lineage carries snapshot_id on every row and is committed with
            # per-file snapshot_id stats: per-batch metric reads
            # (read_lineage_where) open exactly this batch's lineage files
            # instead of one snapshot per batch since the last compact
            snap_id = store.commit(
                verdicts.drop("proc_ts"), lineage, partition_by=partition_by,
                lineage_stats_cols=["snapshot_id"], fingerprint=_KEPT_IDS,
            )
            if sidecars:
                _commit_near_dedup(store, pending, dropped)
        return snap_id, n_new
    finally:
        for frame in persisted:
            frame.unpersist()


# the verdict store's kept-id set, as a commit fingerprint: every sidecar
# index is reconciled against it (_reconciled_index)
_KEPT_IDS = "if(keep, doc_id, null)"
# the most kept docs one sidecar pass brings to the driver (_sidecars_local):
# one collect holds every kept doc's signature, shingles, embedding and band
# keys, ~20 KB each in the driver's Python RSS (40 MB at 2048). A sidecar
# batch with more kept docs commits as ceil(kept / _LOCAL_ROWS) sub-batches
# (run_resumable_pipeline), so each pass's drop set (an IN list) and the
# docs on its new-vs-new edges (a driver-side set, clustered by union-find)
# are bounded too. Set from a measured sweep (perfbench corpus, seed
# 11, a seed batch then one batch of N docs, both sidecars, local[3] on 4
# vCPUs; batch wall of an all-Spark checkpointed pairing -> the driver pass):
# N=1024 19-20 s -> 14 s, 2048 25 s -> 16-19 s, 3072 25 s -> 21 s, 4096
# 27-31 s -> 29-30 s. Past ~3k docs the per-key vs-committed scan in pandas
# (_committed_pass) eats the gain.
_LOCAL_ROWS = 2048

# near-dedup sidecar parameters — ONE definition; the index, its band
# table, and the incremental pair generation must agree bit-for-bit
_ND_IDX_KW = dict(num_hashes=16, shingle_k=3, shingle_mode="word")
_ND_BAND_KW = dict(num_hashes=16, band_size=2, hash_impl="md5")
_ND_NUM_BANDS = _ND_BAND_KW["num_hashes"] // _ND_BAND_KW["band_size"]
_ND_MIN_JACCARD = 0.5

# embedding near-dedup sidecar parameters. Banded SRP: num_bands bucket
# keys per doc, each from a disjoint hyperplane family of num_planes
# planes (similarity.srp_band_table — the minhash band table's shape).
# Candidates share ANY band key, so near-twin recall stays high while
# random collisions per band scale as N/2^planes: a single wide bucket
# key has low recall for near (not exact) twins, a single narrow one
# collides linearly with a steep slope (both measured — BASELINE.md
# "Incremental embedding near-dedup"). Both knobs are configurable per
# store (srp_planes/srp_bands) and persisted in the sidecar's _meta.json:
# band-key equality across batches requires identical values, so the
# persisted config always wins and a conflicting explicit request fails
# loudly (re-bucketing requires wiping the sidecar — reconciliation then
# re-encodes from committed clean_text).
_SRP_ND_PLANES_DEFAULT = 16
_SRP_ND_BANDS_DEFAULT = 8
_SRP_ND_MIN_COS = 0.99


def _srp_pfx(bucket):
    """bucket -> 16 'pX' directory partitions, FIXED cardinality regardless
    of num_planes (mod, not div: div 16 explodes to 2^(planes-4) dirs at
    high planes). Letter prefix: a bare hex digit would partition-type-infer
    as numeric."""
    return F.concat(F.lit("p"), F.lower(F.hex(F.pmod(bucket, F.lit(16)))))


def _srp_meta(
    store_base: Path, planes: int | None, bands: int | None = None
) -> tuple[int, int]:
    """Resolve the sidecar's (num_planes, num_bands): persisted _meta.json
    wins; first use writes it. Explicit values conflicting with the
    persisted config raise (band keys are only comparable at one
    configuration)."""
    meta_path = store_base / "_meta.json"

    def _validate(meta: dict) -> tuple[int, int]:
        p = meta["num_planes"]
        b = meta.get("num_bands", _SRP_ND_BANDS_DEFAULT)
        for name, got, want in (("num_planes", planes, p), ("num_bands", bands, b)):
            if got is not None and got != want:
                raise ValueError(
                    f"srp sidecar at {store_base} was built with {name}="
                    f"{want}; requested {got}. Wipe the sidecar to re-bucket "
                    "(reconciliation re-encodes committed docs)."
                )
        return p, b

    if meta_path.exists():
        return _validate(json.loads(meta_path.read_text()))
    p = planes if planes is not None else _SRP_ND_PLANES_DEFAULT
    b = bands if bands is not None else _SRP_ND_BANDS_DEFAULT
    store_base.mkdir(parents=True, exist_ok=True)
    # link(2) first-writer-wins, mirroring the commit protocol: two
    # concurrent first runs with different configs must not each proceed
    # under their own — the loser re-reads and validates against the winner
    tmp = store_base / f"._meta.{uuid.uuid4().hex[:8]}.json.tmp"
    tmp.write_text(json.dumps({"num_planes": p, "num_bands": b}))
    try:
        os.link(tmp, meta_path)
    except FileExistsError:
        tmp.unlink()
        return _validate(json.loads(meta_path.read_text()))
    tmp.unlink()
    return p, b


def _srp_index_table(kept: DataFrame) -> DataFrame:
    """(id, v) for a set of kept docs: ONE encoder pass
    (models.doc_embedding_udf — Arrow-batched, executor-singleton model).
    Band keys are NOT stored here: they are a pure function of v
    (_srp_bands_table), cached in the srp_bands sidecar and rebuilt by
    projection, never by re-encoding — the minhash band table's contract."""
    from puddin_spark.models import doc_embedding_udf

    return kept.select(
        F.col("doc_id").alias("id"),
        doc_embedding_udf("clean_text").alias("v"),
    )


def _srp_bands_table(idx: DataFrame, num_planes: int, num_bands: int) -> DataFrame:
    """(id, band, bucket, bucket_pfx) derived from an (id, v) index — one
    Arrow-batched numpy matmul per batch (srp_band_buckets_udf; the SQL
    formulation evaluates ~bands*planes*dim interpreted lambda steps per
    row and was the measured dominant ingest cost). Still a pure
    projection of the index: rebuildable without re-encoding. bucket_pfx
    is the directory-partition column of the committed layout."""
    from puddin_spark.operators.similarity import srp_band_buckets_udf

    buckets = srp_band_buckets_udf(num_planes, num_bands)
    return (
        idx.select("id", F.posexplode(buckets("v")).alias("band", "bucket"))
        .withColumn("bucket_pfx", _srp_pfx(F.col("bucket")))
    )


class _Sidecar(NamedTuple):
    """One incremental near-dedup sidecar (run_resumable_pipeline): a
    signature index of the committed kept docs in the `<kind>_index` store
    beside the verdicts, and its exploded band table — a pure derived cache,
    directory-partitioned on `pfx_col` — in `<kind>_bands`, whose lineage
    is each batch's hottest (band, bucket) keys
    (similarity.band_occupancy over `occupancy_cols`). A batch's rows are
    paired on the driver (_sidecars_local: `keys`, `pfx`, `payload`,
    `local_pairs`, `local_hits`), from the index and band expressions."""

    kind: str
    label: str  # excl_type of the docs it flips
    index: Callable[[DataFrame], DataFrame]  # (doc_id, clean_text) -> (id, ...)
    bands: Callable[[DataFrame], DataFrame]  # index -> band rows
    band_rows: int  # band rows per indexed doc
    pfx_col: str
    occupancy_cols: tuple[str, str]
    # () -> the index's band-key array Column, in band order: the band
    # table's key expression before its explode
    keys: Callable[[], object]
    # band-key Column -> its pfx_col value (the band table's expression)
    pfx: Callable[[object], object]
    payload: str  # the index column a candidate pair is verified on
    # (ids, payloads, band-key lists) -> new-vs-new edges {(id_a, id_b)}
    local_pairs: Callable[..., set]
    # (new payloads, committed payloads) -> one bool per new payload: has
    # a near-twin among the committed ones
    local_hits: Callable[..., object]

    @property
    def index_name(self) -> str:
        return f"{self.kind}_index"

    @property
    def bands_name(self) -> str:
        return f"{self.kind}_bands"

    def stores(self, base: Path) -> tuple[SnapshotStore, SnapshotStore]:
        return SnapshotStore(base / self.index_name), SnapshotStore(base / self.bands_name)


def _minhash_index_table(kept: DataFrame) -> DataFrame:
    """(id, sh, mh): word-shingle set + minhash signature per kept doc."""
    from puddin_spark.operators.dedup import minhash_index

    return minhash_index(kept, "doc_id", "clean_text", **_ND_IDX_KW)


def _minhash_bands_table(idx: DataFrame) -> DataFrame:
    """(id, band_ix, band_key, band_pfx) projected from a minhash index."""
    from puddin_spark.operators.dedup import band_table

    return band_table(idx, **_ND_BAND_KW)


def _minhash_keys():
    """band_table's key array over a minhash index's `mh`."""
    from puddin_spark.operators.dedup import _band_key_cols

    return F.array(*_band_key_cols(
        _ND_NUM_BANDS, _ND_BAND_KW["band_size"], _ND_BAND_KW["hash_impl"]
    ))


def _srp_keys(num_planes: int, num_bands: int):
    """_srp_bands_table's bucket array over an SRP index's `v`."""
    from puddin_spark.operators.similarity import srp_band_buckets_udf

    return srp_band_buckets_udf(num_planes, num_bands)("v")


def _jaccard_hits(new, committed, threshold: float) -> list[bool]:
    """For each new shingle list: does a committed one share Jaccard >=
    threshold with it, decided as _verify_jaccard decides it."""
    from puddin_spark.operators.dedup import jaccard_at_least

    csets = [set(c) for c in committed]
    return [any(jaccard_at_least(set(a), c, threshold) for c in csets) for a in new]


_MINHASH = _Sidecar(
    "minhash", "near_dup", _minhash_index_table, _minhash_bands_table,
    _ND_NUM_BANDS, "band_pfx", ("band_ix", "band_key"), _minhash_keys,
    partial(band_prefix, hash_impl=_ND_BAND_KW["hash_impl"]), "sh",
    partial(local_minhash_pairs, jaccard_threshold=_ND_MIN_JACCARD),
    partial(_jaccard_hits, threshold=_ND_MIN_JACCARD),
)
# bands/band_rows/keys are bound per store to the persisted config (_srp_meta)
_SRP = _Sidecar(
    "srp", "emb_near_dup", _srp_index_table, None, None,
    "bucket_pfx", ("band", "bucket"), None, _srp_pfx, "v",
    partial(local_srp_pairs, min_cos=_SRP_ND_MIN_COS),
    partial(first_hits, min_cos=_SRP_ND_MIN_COS),
)
# pipeline order: minhash flips land first, the embedding pass sees only
# survivors
_SIDECARS = (_MINHASH, _SRP)
SIDECAR_STORES = tuple(n for s in _SIDECARS for n in (s.index_name, s.bands_name))


def _id_set_stats(df, of: str) -> tuple[int, int]:
    """(count, xor) fingerprint of an id expression over `df` by one job —
    the path for stores whose commit records carry no fingerprint
    (SnapshotStore.fingerprint). A count-only gate would miss membership
    drift: a rollback can restore an equal-sized but different kept set,
    and stale index entries would keep dropping newcomers."""
    row = df.select(*_fingerprint_aggs(of)).first()
    return row.fp_n, row.fp_xor or 0


def _reconciled_index(spark, spec: _Sidecar, idx_store, kept_committed, kept_stats):
    """The committed index, reconciled against the committed kept set, and
    its row count; (None, 0) when empty. The (count, xor-of-ids) gate
    compares fingerprints from the commit records (no job) and repairs
    both directions, each only if the fingerprints still differ:
    - stale entries (docs flipped keep=false by record_failures / rollback,
      which leave the indexes as they are) are pruned by an id-only
      semi-join, as a BASE commit — left in place they would drop future
      newcomers as near-dups of excluded docs (both copies lost). This
      gate is the only prune, and it runs before any newcomer is paired;
    - missing entries (a crash between the verdict and index commits) are
      re-indexed from committed clean_text and appended, so the text is
      read only when the pruned index still lacks kept docs.
    A crash between the two commits leaves a fingerprint mismatch, and the
    next ingest finishes the repair. An index whose records carry no
    fingerprint takes the repair once; its base commit records one. With
    no committed verdicts at all (kept_committed None) a surviving index
    outlived a wiped store: it is pruned to empty, so a first batch is
    never deduped against documents that are not in the corpus."""
    committed_idx = idx_store.read(spark)
    if kept_committed is None:
        if committed_idx is not None:
            idx_store.commit(committed_idx.limit(0), base=True, fingerprint="id")
        return None, 0
    if idx_store.fingerprint("id") != kept_stats:
        if committed_idx is not None:
            kept_ids = kept_committed.select(F.col("doc_id").alias("id"))
            idx_store.commit(
                committed_idx.join(kept_ids, "id", "left_semi"), base=True, fingerprint="id"
            )
            committed_idx = idx_store.read(spark)
        if idx_store.fingerprint("id") != kept_stats:
            lag = kept_committed.select("doc_id", "clean_text")
            if committed_idx is not None:
                lag = lag.join(
                    committed_idx.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
                )
            idx_store.commit(spec.index(lag), base=committed_idx is None, fingerprint="id")
            committed_idx = idx_store.read(spark)
        # the index now equals the kept set by construction
    n_idx = kept_stats[0]
    return (committed_idx if n_idx else None), n_idx


def _near_dedup(spark, store, sidecars, verdicts, committed):
    """Run the sidecars over the batch's verdicts in order — minhash flips
    land first, the embedding pass sees only survivors — and return
    (flipped verdicts, [(sidecar, new index, new bands, occupancy)], the
    batch's drop set) for _commit_near_dedup. The drop set is the union of
    the sidecars' driver-side drop sets: the batch's one record of which
    new docs the sidecars removed.

    Each sidecar's committed side is reconciled and band-gated first (no
    job on a consistent store: the gates read commit records); then
    _sidecars_local pairs the batch's own docs on the driver
    (run_resumable_pipeline splits a batch above _LOCAL_ROWS kept docs)
    and runs one Spark pass per sidecar against the committed side. Spark
    jobs per batch do not grow with the commit count."""
    kept_committed = kept_stats = None
    if committed is not None:
        # one (count, xor) fingerprint of the kept set serves every sidecar
        kept_committed = committed.filter("keep")
        kept_stats = store.fingerprint(_KEPT_IDS) or _id_set_stats(committed, _KEPT_IDS)
    sides = []
    for spec in sidecars:
        idx_store, bands_store = spec.stores(store.base)
        committed_idx, n_idx = _reconciled_index(
            spark, spec, idx_store, kept_committed, kept_stats
        )
        committed_bands = None
        if committed_idx is not None:
            # the band table is a pure DERIVED cache of the index, rebuilt
            # by projection (never by re-shingling or re-encoding); a
            # row-count gate detects lag from a crash between the index and
            # bands commits, or an index prune above. Records without a
            # row count rebuild once.
            if bands_store.row_count() != n_idx * spec.band_rows:
                bands_store.commit(
                    spec.bands(committed_idx), base=True, partition_by=[spec.pfx_col]
                )
            committed_bands = bands_store.read(spark)
        sides.append((spec, committed_idx, committed_bands))
    return _sidecars_local(spark, sides, verdicts)


def _sidecars_local(spark, sides, verdicts):
    """The sidecars' batch-sized half on the driver. ONE collect brings
    every kept doc's index row, band keys and band prefixes for every
    sidecar (the index and band tables' own expressions). Then,
    per sidecar over the docs the earlier sidecars kept:
    - new-vs-new pairs on the driver (spec.local_pairs: candidates are the
      pairs sharing a band key, verified by the same threshold decision as
      the Spark pair generators); every non-root member of a cluster they
      form is dropped (union_find_min_roots: the root is the minimum id);
    - vs-committed in one Spark pass (_committed_pass), which also counts
      the committed members of the batch's band keys;
    - the index and band rows to commit, and the band occupancy, become
      local relations, and the occupancy lineage write is its only job.
      The band prefixes to prune the committed side come from the
      collected rows."""
    from puddin_spark.pipeline import flip_verdicts

    kept = verdicts.filter("keep").select("doc_id", "clean_text")
    indexes, proj = {}, None
    for spec, _, _ in sides:
        idx = indexes[spec.kind] = spec.index(kept)
        frame = (
            idx.withColumn(f"_{spec.kind}_keys", spec.keys())
            .withColumn("_pfx", F.transform(f"_{spec.kind}_keys", lambda k: spec.pfx(k)))
            .withColumn("_kind", F.lit(spec.kind))
        )
        proj = frame if proj is None else proj.unionByName(frame, allowMissingColumns=True)
    rows = proj.collect()
    pending, dropped = [], set()
    for spec, committed_idx, committed_bands in sides:
        idx, keys_col = indexes[spec.kind], f"_{spec.kind}_keys"
        mine = [r for r in rows if r._kind == spec.kind and r.id not in dropped]
        drop, n_committed = set(), {}
        if committed_bands is not None and mine:
            drop, n_committed = _committed_pass(
                spec, committed_idx, committed_bands, mine, keys_col
            )
        edges = spec.local_pairs(
            [r.id for r in mine], [r[spec.payload] for r in mine], [r[keys_col] for r in mine]
        )
        drop |= {i for i, root in union_find_min_roots(edges).items() if i != root}
        if drop:
            verdicts = flip_verdicts(verdicts, _sql_in("doc_id", sorted(drop)), spec.label)
        dropped |= drop
        bands = spec.bands(idx)
        new_idx = _local_frame(
            spark, [tuple(r[c] for c in idx.columns) for r in mine], idx.schema
        )
        new_bands = _local_frame(
            spark,
            [
                (r.id, band, key, pfx)
                for r in mine
                for band, (key, pfx) in enumerate(zip(r[keys_col], r._pfx))
            ],
            bands.schema,
        )
        pending.append((
            spec, new_idx, new_bands,
            _occupancy(
                spark, spec, bands, committed_bands, [r[keys_col] for r in mine], n_committed
            ),
        ))
    return verdicts, pending, dropped


def _committed_pass(spec, committed_idx, committed_bands, rows, keys_col):
    """The vs-committed half for a batch whose kept docs are on the driver,
    in ONE Spark pass: (ids of `rows` with a committed near-twin,
    {(band, key): committed members}) for every band key of `rows` and for
    the committed keys that could rank in band_occupancy's top-K.

    The committed band rows are pruned to the batch's prefixes. Those on
    the batch's keys (an IN list) join their index payloads, the filtered
    side broadcast, and are scanned where they land, in pandas: per key, a
    partition's committed payloads are verified against the batch docs
    sharing it (spec.local_hits: the first hit decides, as in
    committed_srp_flip_ids) and counted; the driver sums the counts. The
    rest aggregate to one count per key, map-side first, and each
    partition of the counts reports its top OCCUPANCY_TOP_K by (count desc,
    band, key): a superset of the committed-only keys band_occupancy can
    rank. Pair rows are never materialized, and the batch's payloads reach
    the scan in the kernel's closure."""
    import pandas as pd

    from puddin_spark.operators.similarity import OCCUPANCY_TOP_K

    band_col, bucket_col = spec.occupancy_cols
    members, prefixes = {}, set()
    for i, r in enumerate(rows):
        prefixes.update(r._pfx)
        for band, key in enumerate(r[keys_col]):
            members.setdefault(f"{band}:{key}", []).append(i)
    ids = [r.id for r in rows]
    payload, hits = spec.payload, spec.local_hits
    payloads = [r[payload] for r in rows]
    cols = [band_col, bucket_col, "new_id", "n"]
    out_schema = (
        f"{band_col} int, {bucket_col} "
        f"{committed_bands.schema[bucket_col].dataType.simpleString()}, "
        "new_id string, n long"
    )

    def scan(batches):
        for pdf in batches:
            out = []
            for key, grp in pdf.groupby("_k", sort=False):
                band, bucket = grp[band_col].iloc[0], grp[bucket_col].iloc[0]
                new = members[key]
                out.append((band, bucket, None, len(grp)))
                mask = hits([payloads[i] for i in new], grp[payload].tolist())
                out.extend((band, bucket, ids[i], None) for i, hit in zip(new, mask) if hit)
            if out:
                yield pd.DataFrame(out, columns=cols)

    def top(batches):
        batches = [b for b in batches if len(b)]
        if batches:
            pdf = pd.concat(batches, ignore_index=True).sort_values(
                ["n", band_col, bucket_col], ascending=[False, True, True]
            )
            yield pdf.head(OCCUPANCY_TOP_K).assign(new_id=None)[cols]

    found = committed_bands.filter(_sql_in(spec.pfx_col, sorted(prefixes))).select(
        "id", band_col, bucket_col, F.concat_ws(":", band_col, bucket_col).alias("_k")
    )
    on_batch = _sql_in("_k", sorted(members))
    shared = committed_idx.select("id", payload).join(F.broadcast(found.filter(on_batch)), "id")
    others = found.filter(~on_batch).groupBy(band_col, bucket_col).agg(F.count("*").alias("n"))
    out = (
        shared.mapInPandas(scan, out_schema)
        .unionByName(others.mapInPandas(top, out_schema))
        .collect()
    )
    n_committed = {}
    for r in out:
        if r.new_id is None:
            n_committed[r[0], r[1]] = n_committed.get((r[0], r[1]), 0) + r.n
    return {r.new_id for r in out if r.new_id is not None}, n_committed


def _occupancy(spark, spec, bands, committed_bands, keys, n_committed):
    """band_occupancy of a driver-side batch as a local relation: every
    band key the batch touches and every committed key _committed_pass
    reported, with new and committed member counts, the top
    OCCUPANCY_TOP_K by (n_total desc, band, bucket). Same schema as
    band_occupancy over the same frames (_occupancy_schema)."""
    from collections import Counter

    from puddin_spark.operators.similarity import OCCUPANCY_TOP_K

    n_new = Counter((band, key) for row in keys for band, key in enumerate(row))
    top = sorted(
        (
            (band, key, n_new.get((band, key), 0), c, n_new.get((band, key), 0) + c)
            for (band, key), c in {**dict.fromkeys(n_new, 0), **n_committed}.items()
        ),
        key=lambda r: (-r[4], r[0], r[1]),
    )[:OCCUPANCY_TOP_K]
    return _local_frame(spark, top, _occupancy_schema(spec, bands, committed_bands))


def _occupancy_schema(spec, bands, committed_bands) -> StructType:
    """band_occupancy(bands, committed_bands).schema over spec's occupancy
    columns, without planning the aggregate: band and bucket keep the band
    table's types and are nullable when either side of band_occupancy's
    union is (committed bands read back from parquet are), the three counts
    are sums, nullable longs."""
    keys = []
    for name, col in zip(("band", "bucket"), spec.occupancy_cols):
        field = bands.schema[col]
        nullable = field.nullable or (
            committed_bands is not None and committed_bands.schema[col].nullable
        )
        keys.append(StructField(name, field.dataType, nullable))
    return StructType(
        keys + [StructField(c, LongType()) for c in ("n_new", "n_committed", "n_total")]
    )


def _sql_in(col: str, values):
    """`col IN (values)` for str/int values as ONE SQL expression: one JVM
    call however many values there are (Column.isin makes one per literal,
    which costs seconds at a batch's thousands of band keys)."""
    if not values:
        return F.lit(False)
    lits = (
        str(v) if isinstance(v, int)
        else "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        for v in values
    )
    return F.expr(f"{col} IN ({', '.join(lits)})")


def _local_frame(spark, rows: list, schema: StructType) -> DataFrame:
    """Driver rows as a one-partition DataFrame of `schema`, through pandas
    and Arrow (from a plain list, Spark unpickles every row in the JVM on
    every read: ~2x slower writes at a batch's size). Arrow slices the rows
    into one partition per maxRecordsPerBatch rows; coalescing them keeps a
    commit of these rows to one file."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame.from_records(rows, columns=schema.fieldNames()), schema
    ).coalesce(1)


def _commit_near_dedup(store, pending, dropped: set) -> None:
    """After the verdict commit: each sidecar's index, then its band cache
    (a crash between the two is caught by the row-count gate next batch),
    each holding exactly the batch's finally kept docs — its new rows minus
    the batch's drop set (an IN-list filter), so a doc a later sidecar
    flipped does not linger in an earlier one's index, or the next batch's
    reconciliation gate re-fires — and the band occupancy as the band
    commit's lineage. The new rows are local relations of driver rows
    (_sidecars_local)."""
    survives = ~_sql_in("id", sorted(dropped))
    for spec, new_idx, new_bands, occupancy in pending:
        idx_store, bands_store = spec.stores(store.base)
        idx_store.commit(new_idx.filter(survives), fingerprint="id")
        bands_store.commit(
            new_bands.filter(survives), lineage=occupancy, partition_by=[spec.pfx_col]
        )
