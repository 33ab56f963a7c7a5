"""Per-stage checkpoint tables + run metrics/lineage.

Reference analog: every stage persists to CSV and downstream stages
re-read (/root/reference/src/io/file_handler.py:62-102,
/root/reference/src/pipeline/orchestrator.py:184-275), with an
append-only run log (/root/reference/src/logging/run_logger.py:15-46)
and an iteration counter (/root/reference/src/tracking/iteration_tracker.py:11-30).

Here each stage is a table under `<base>/<stage>` and the run log is a
`metrics` table of rows
  (run_id, stage, ts_start, ts_end, rows, duration_s, n_partitions, stats)
— per-stage lineage including partition counts. On clusters with an
Iceberg catalog on the classpath, pass a dotted namespace
(`catalog.db`) as `base` and the same store commits Iceberg tables
(`df.writeTo(...).createOrReplace()` / `.append()`) with
snapshot-based time travel; this container has no Iceberg jars, so a
path-shaped `base` selects the parquet directory layout with identical
resume semantics (both gated behind the runtime probe + base shape).

Resume contract: a stage whose table exists (parquet `_SUCCESS`) is
read back instead of recomputed — kill/relaunch reproduces identical
final output (SURVEY.md §5 item 4).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.localrel import local_rows_df

METRICS_SCHEMA = T.StructType([
    T.StructField("run_id", T.LongType()),
    T.StructField("stage", T.StringType()),
    T.StructField("ts_start", T.DoubleType()),
    T.StructField("ts_end", T.DoubleType()),
    T.StructField("rows", T.LongType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("n_partitions", T.IntegerType()),
    T.StructField("stats", T.StringType()),  # free-form JSON
])

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.LongType()),
    T.StructField("stage", T.StringType()),
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("rows", T.LongType()),
])


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _looks_like_namespace(base: str) -> bool:
    """`catalog.db` (dotted, no path separator) = Iceberg namespace;
    anything path-shaped = parquet directory store."""
    return os.sep not in base and "/" not in base and "." in base


class CheckpointStore:
    def __init__(self, spark: SparkSession, base: str,
                 use_iceberg: bool | None = None):
        """`use_iceberg=None` (default) auto-detects: Iceberg classes on
        the classpath AND a dotted, slash-free `base`. The heuristic can
        misread a dotted local dirname (e.g. 'run.2026-08-19') as a
        catalog namespace when Iceberg jars are present — pass
        use_iceberg=False (or True) explicitly to pin the mode in any
        deployment where both are plausible."""
        self.spark = spark
        self.base = base
        if use_iceberg is None:
            use_iceberg = (_iceberg_available(spark)
                           and _looks_like_namespace(base))
        self.use_iceberg = use_iceberg
        if not self.use_iceberg:
            if "://" in base:
                # The parquet-mode store reads commit metadata via
                # os.path/os.listdir/pyarrow — local filesystem ONLY.
                # On a remote workdir those silently see nothing:
                # exists() would always be False (resume never
                # detects checkpoints) and partition_rows would crash
                # on the first commit. Fail fast with the remedy.
                raise ValueError(
                    f"CheckpointStore parquet mode requires a local "
                    f"filesystem path, got {base!r}. For remote "
                    f"storage (s3://, hdfs://, ...) configure an "
                    f"Iceberg catalog and pass a dotted namespace "
                    f"('catalog.db') as the workdir instead.")
            os.makedirs(base, exist_ok=True)
        self._pending: list[tuple] = []
        self._pending_lineage: list[tuple] = []

    # ---- stage tables ----
    def path(self, stage: str) -> str:
        if self.use_iceberg:
            return f"{self.base}.{stage}"
        return os.path.join(self.base, stage)

    def exists(self, stage: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self.path(stage))
        self._repair_txns()  # before per-stage repairs (see docstring)
        self._repair_interrupted_rewrite(stage)
        self._repair_unmanifested_appends(stage)
        return os.path.exists(os.path.join(self.path(stage), "_SUCCESS"))

    def write(self, stage: str, df: DataFrame) -> DataFrame:
        if self.use_iceberg:
            # snapshot-commit: atomic replace, time travel via snapshots
            df.writeTo(self.path(stage)).using("iceberg").createOrReplace()
        else:
            df.write.mode("overwrite").parquet(self.path(stage))
        return self.read(stage)

    def rewrite(self, stage: str, df: DataFrame) -> DataFrame:
        """Replace a stage table with a transformation OF ITSELF: `df`
        may read from the current table (schema migration, compaction).
        `write()` cannot do this in parquet mode — mode('overwrite')
        deletes the source files the plan is still reading. Iceberg's
        snapshot isolation makes the direct replace safe; parquet mode
        writes the new files to a sibling temp dir first, then swaps
        directories (two renames on one filesystem).

        Failure contract: if the swap's second rename raises, the
        original directory is renamed back (the table is never lost to
        an exception); a process KILL between the two renames leaves
        the committed data in `<stage>__old_<tag>`, which exists()
        repairs on the next run (_repair_interrupted_rewrite) — so the
        resume contract survives a crash at any point."""
        if self.use_iceberg:
            return self.write(stage, df)
        import shutil
        import uuid
        tag = uuid.uuid4().hex[:12]
        tmp = os.path.join(self.base, f".{stage}__rewrite_{tag}")
        final = self.path(stage)
        old = f"{final}__old_{tag}"
        try:
            df.write.mode("overwrite").parquet(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        os.rename(final, old)
        try:
            os.rename(tmp, final)
        except BaseException:
            os.rename(old, final)  # roll back; the table is intact
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        shutil.rmtree(old, ignore_errors=True)
        return self.read(stage)

    def _repair_interrupted_rewrite(self, stage: str) -> None:
        """A kill between rewrite()'s two renames leaves the committed
        table under `<stage>__old_<tag>` and no stage dir; restore it
        so resume sees the pre-rewrite state instead of re-paying the
        stage (or, for `signed` on run_incremental, hard-failing)."""
        final = self.path(stage)
        if os.path.exists(os.path.join(final, "_SUCCESS")):
            return
        import glob
        olds = [d for d in sorted(glob.glob(f"{final}__old_*"))
                if os.path.exists(os.path.join(d, "_SUCCESS"))]
        if len(olds) == 1 and not os.path.exists(final):
            os.rename(olds[0], final)

    def append(self, stage: str, df: DataFrame) -> DataFrame:
        """Fold new rows into an existing stage table WITHOUT rewriting
        it — the incremental-ingest primitive (O(|new|) IO; a full
        rewrite of the signed/edge tables would be O(|corpus|) per
        batch). Iceberg mode is a snapshot append (atomic commit).

        Parquet mode is ATOMIC via a commit marker (VERDICT r4 #6): the
        new part files are staged in a sibling directory, MOVED into
        the stage dir under batch-tagged names, and the batch tag is
        recorded in the stage's `_appends.json` manifest LAST (tmp
        write + one rename — atomic on POSIX). A crash anywhere before
        the manifest rename leaves batch files whose tag is not in the
        manifest; `_repair_unmanifested_appends` (run by exists() /
        partition_rows() / the next append) deletes them, so a torn
        batch is all-or-nothing: either the manifest commit happened
        and every file of the batch is live, or the whole batch
        vanishes and the caller re-folds it. Columns are aligned to the
        existing table's order first, since the parquet reader merges
        files by name only when schemas agree."""
        existing = self.read(stage)
        df = df.select(*existing.columns)
        if self.use_iceberg:
            df.writeTo(self.path(stage)).append()
            return self.read(stage)
        import glob
        import shutil
        import uuid
        self._repair_unmanifested_appends(stage)
        tag = uuid.uuid4().hex[:12]
        staging = os.path.join(self.base, f".{stage}__append_{tag}")
        try:
            df.write.mode("overwrite").parquet(staging)
            names = []
            for i, p in enumerate(sorted(
                    glob.glob(os.path.join(staging, "part-*.parquet")))):
                nm = f"part-app-{tag}-{i:05d}.parquet"
                os.rename(p, os.path.join(self.path(stage), nm))
                names.append(nm)
            self._commit_append(stage, tag, names)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return self.read(stage)

    def commit_txn(self, appends: dict[str, DataFrame] | None = None,
                   rewrites: dict[str, DataFrame] | None = None,
                   ) -> dict[str, DataFrame]:
        """Commit appends and/or rewrites of SEVERAL stage tables as ONE
        all-or-nothing transaction. This is the incremental fold's
        commit primitive: a daily batch touches signed+candidates+edges
        together, and per-stage atomicity alone leaves crash windows
        where some tables contain the batch and others don't — a state
        from which neither "re-fold the batch" (duplicate rows in the
        stages that committed) nor "carry on" (missing rows in the
        stages that didn't) is correct.

        Parquet protocol (single-writer, local filesystem):
          1. prepare: append part files are MOVED into their stage dirs
             under the txn tag but NOT manifested; rewrite DataFrames
             are written to sibling `.{stage}__txnrw_{tag}` dirs.
             CALLER CONTRACT: any DataFrame whose plan READS a table
             this txn touches must be eagerly materialized first
             (localCheckpoint) — stage preparation runs in dict order
             and moves files into live table dirs, so a lazy plan
             executed during a later stage's prepare could observe
             uncommitted rows of an earlier one;
          2. commit point: `<base>/_txn_{tag}.json` is written
             (tmp + one rename — atomic on POSIX);
          3. apply: each append's names fold into its stage manifest;
             each rewrite swaps directories; the txn file is removed.
        A crash before 2 leaves unmanifested part files and orphan
        txnrw dirs, which _repair_unmanifested_appends deletes — the
        whole txn vanishes and the caller re-runs it. A crash after 2
        is completed by _repair_txns (idempotent re-apply, run before
        any per-stage repair) — the whole txn becomes durable. There
        is no state in which only part of the txn is visible to a
        reader that performed repair (exists/read-through-exists/
        partition_rows/append all repair first).

        Iceberg mode: each table commit is snapshot-atomic but there is
        NO cross-table transaction without catalog-level transactions
        (or a WAP/branch workflow) — out of scope in this container;
        operations are applied sequentially in dict order, appends
        first. Callers relying on cross-stage atomicity should treat
        Iceberg mode as per-table atomic only.

        A stage may be named in `appends` or in `rewrites`, not both
        (ValueError). Returns {stage: re-read DataFrame} for every
        touched stage.
        """
        appends = appends or {}
        rewrites = rewrites or {}
        both = sorted(set(appends) & set(rewrites))
        if both:  # the rewrite's swap would silently drop the appends
            raise ValueError(
                f"commit_txn: stage(s) {both} named in both appends and "
                f"rewrites; fold the appended rows into the rewrite df")
        if self.use_iceberg:
            for stage, df in appends.items():
                self.append(stage, df)
            for stage, df in rewrites.items():
                self.rewrite(stage, df)
            return {s: self.read(s) for s in (*appends, *rewrites)}
        import glob
        import shutil
        import uuid
        self._repair_txns()
        tag = uuid.uuid4().hex[:12]
        # prepare appends: files in place, NOT manifested
        app_names: dict[str, list[str]] = {}
        try:
            for stage, df in appends.items():
                self._repair_unmanifested_appends(stage)
                df = df.select(*self.read(stage).columns)
                staging = os.path.join(self.base, f".{stage}__append_{tag}")
                try:
                    df.write.mode("overwrite").parquet(staging)
                    names = []
                    for i, p in enumerate(sorted(
                            glob.glob(os.path.join(staging,
                                                   "part-*.parquet")))):
                        nm = f"part-app-{tag}-{i:05d}.parquet"
                        os.rename(p, os.path.join(self.path(stage), nm))
                        names.append(nm)
                    app_names[stage] = names
                finally:
                    shutil.rmtree(staging, ignore_errors=True)
            # prepare rewrites: full new table in a sibling dir
            for stage, df in rewrites.items():
                tmp = os.path.join(self.base, f".{stage}__txnrw_{tag}")
                df.write.mode("overwrite").parquet(tmp)
        except BaseException:
            # pre-commit failure: undo the prepared pieces now (a crash
            # instead of an exception is undone by repair on next use)
            for stage, names in app_names.items():
                for nm in names:
                    try:
                        os.remove(os.path.join(self.path(stage), nm))
                    except OSError:
                        pass
            for stage in rewrites:
                shutil.rmtree(
                    os.path.join(self.base, f".{stage}__txnrw_{tag}"),
                    ignore_errors=True)
            raise
        # commit point
        txn = {"tag": tag, "appends": app_names,
               "rewrites": sorted(rewrites)}
        tmp = self._txn_path(tag) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(txn, f)
        os.rename(tmp, self._txn_path(tag))
        # apply
        self._apply_txn(txn)
        os.remove(self._txn_path(tag))
        return {s: self.read(s) for s in (*appends, *rewrites)}

    def _txn_path(self, tag: str) -> str:
        return os.path.join(self.base, f"_txn_{tag}.json")

    def _apply_txn(self, txn: dict) -> None:
        """Post-commit apply; every step is idempotent so _repair_txns
        can re-run it from any crash point."""
        import shutil
        tag = txn["tag"]
        for stage, names in txn["appends"].items():
            man = self._append_manifest(stage)
            if man.get(tag) != names:
                man[tag] = names
                tmp = self._manifest_path(stage) + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(man, f)
                os.rename(tmp, self._manifest_path(stage))
        for stage in txn["rewrites"]:
            final = self.path(stage)
            tmpdir = os.path.join(self.base, f".{stage}__txnrw_{tag}")
            old = f"{final}__txnold_{tag}"
            if os.path.exists(tmpdir):
                if os.path.exists(final) and not os.path.exists(old):
                    os.rename(final, old)
                if not os.path.exists(final):
                    os.rename(tmpdir, final)
            # tmpdir gone => this stage's swap already completed
            shutil.rmtree(old, ignore_errors=True)

    def _repair_txns(self) -> None:
        """Complete any committed-but-unapplied transactions (crash
        between the _txn file rename and the end of _apply_txn). MUST
        run before per-stage append repair: a committed txn's part
        files are not yet in the stage manifests, and per-stage repair
        would otherwise delete them as torn."""
        import glob
        for p in sorted(glob.glob(os.path.join(self.base, "_txn_*.json"))):
            with open(p) as f:
                txn = json.load(f)
            self._apply_txn(txn)
            os.remove(p)
        # a crash mid-commit-write leaves a .tmp (never applied: the
        # rename that makes it live never happened) — just an orphan
        for p in glob.glob(os.path.join(self.base, "_txn_*.json.tmp")):
            os.remove(p)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.path(stage), "_appends.json")

    def _append_manifest(self, stage: str) -> dict:
        p = self._manifest_path(stage)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {}

    def _commit_append(self, stage: str, tag: str, names: list[str]) -> None:
        """The commit point: one rename makes the batch durable."""
        man = self._append_manifest(stage)
        man[tag] = names
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.rename(tmp, self._manifest_path(stage))

    def _repair_unmanifested_appends(self, stage: str) -> None:
        """Delete append-batch part files whose tag never reached the
        manifest (a crash between the move loop and _commit_append),
        plus stale staging dirs: the resume contract reads only
        committed batches. Underscore-prefixed manifest files are
        invisible to Spark's parquet reader, so live reads are never
        affected by the manifest's existence."""
        import glob
        import re
        import shutil
        self._repair_txns()  # committed txns fold their manifests first
        d = self.path(stage)
        if not os.path.isdir(d):
            return
        man = self._append_manifest(stage)
        pat = re.compile(r"^part-app-([0-9a-f]{12})-\d{5}\.parquet$")
        for f in os.listdir(d):
            m = pat.match(f)
            if m and m.group(1) not in man:
                os.remove(os.path.join(d, f))
        for s in glob.glob(os.path.join(self.base, f".{stage}__append_*")):
            shutil.rmtree(s, ignore_errors=True)
        # txn rewrite dirs surviving _repair_txns belong to transactions
        # that never reached their commit point — orphans
        for s in glob.glob(os.path.join(self.base, f".{stage}__txnrw_*")):
            shutil.rmtree(s, ignore_errors=True)
        # ditto plain-rewrite staging dirs: a SIGKILL during rewrite()'s
        # df.write skips its exception cleanup, and nothing else ever
        # reclaims a corpus-sized half-written .{stage}__rewrite_* copy
        # (single-writer contract: no rewrite is in flight during repair)
        for s in glob.glob(os.path.join(self.base, f".{stage}__rewrite_*")):
            shutil.rmtree(s, ignore_errors=True)

    def read(self, stage: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(self.path(stage))
        return self.spark.read.parquet(self.path(stage))

    def drop(self, stage: str) -> None:
        if self.use_iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.path(stage)}")
            return
        import shutil
        shutil.rmtree(self.path(stage), ignore_errors=True)

    # ---- run ids (S8-analog: monotonically increasing) ----
    def next_run_id(self) -> int:
        if self.use_iceberg:
            if self.exists("metrics"):
                prev = self.metrics().agg(F.max("run_id")).collect()[0][0]
                return int(prev or 0) + 1
            return 1
        m = self.path("metrics")
        import glob
        # require committed part files, not just a non-empty dir: a
        # crash during the FIRST flush leaves metrics/ holding only
        # _temporary, and read.parquet on that raises
        # UNABLE_TO_INFER_SCHEMA — bricking every later resume
        if glob.glob(os.path.join(m, "*.parquet")):
            prev = self.spark.read.parquet(m).agg(F.max("run_id")).collect()[0][0]
            return int(prev or 0) + 1
        return 1

    # ---- metrics / lineage (S7-analog) ----
    # Rows are buffered in the driver and flushed as ONE table write:
    # a per-stage single-row parquet append costs a full Spark
    # write job (measured 6-7 s each under load) — 4 stages of lineage
    # must not cost more than a pipeline stage. flush() is called by
    # the pipeline when the run completes; an aborted run loses only
    # its own in-flight metric rows, never committed ones.
    def log(self, run_id: int, stage: str, ts_start: float, rows: int,
            n_partitions: int, **stats) -> None:
        ts_end = time.time()
        self._pending.append((run_id, stage, float(ts_start), float(ts_end),
                              int(rows), float(ts_end - ts_start),
                              int(n_partitions), json.dumps(stats, sort_keys=True)))

    def partition_rows(self, stage: str) -> list[tuple[int, int]]:
        """(partition_id, rows) of a committed stage table, read from
        metadata only — NO Spark job over the data:

        * parquet mode: part-file footers via pyarrow (one committed
          file = one partition);
        * Iceberg mode: the table's `.files` metadata table, which
          records record_count per data file in the manifests.
        """
        if self.use_iceberg:
            rows = (self.spark.read.table(f"{self.path(stage)}.files")
                    .select("file_path", "record_count")
                    .orderBy("file_path").collect())
            return [(i, int(r.record_count)) for i, r in enumerate(rows)]
        import pyarrow.parquet as pq
        self._repair_unmanifested_appends(stage)
        d = self.path(stage)
        files = sorted(f for f in os.listdir(d)
                       if f.startswith("part-") and f.endswith(".parquet"))
        return [(i, pq.ParquetFile(os.path.join(d, f)).metadata.num_rows)
                for i, f in enumerate(files)]

    def log_partitions(self, run_id: int, stage: str,
                       part_rows: list[tuple[int, int]]) -> None:
        """Per-partition lineage rows -> the `lineage` table."""
        self._pending_lineage.extend(
            (run_id, stage, int(pid), int(n)) for pid, n in part_rows)

    def _flush_table(self, name: str, df) -> None:
        if self.use_iceberg:
            if self.exists(name):
                df.writeTo(self.path(name)).append()
            else:
                df.writeTo(self.path(name)).using("iceberg").create()
        else:
            df.write.mode("append").parquet(self.path(name))

    def flush(self) -> None:
        # local_rows_df, NOT createDataFrame(list).coalesce(1): the
        # pickled-RDD route made each flush write pay ~32 sequential
        # Python-worker handshakes (measured 4.5-9 s per table on
        # local[32] — more than a whole pipeline stage at bench scale)
        if self._pending:
            rows, self._pending = self._pending, []
            self._flush_table(
                "metrics", local_rows_df(self.spark, rows, METRICS_SCHEMA))
        if self._pending_lineage:
            rows, self._pending_lineage = self._pending_lineage, []
            self._flush_table(
                "lineage", local_rows_df(self.spark, rows, LINEAGE_SCHEMA))

    def metrics(self) -> DataFrame:
        return self.read("metrics")

    def lineage(self) -> DataFrame:
        return self.read("lineage")
