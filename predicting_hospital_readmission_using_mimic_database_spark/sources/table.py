"""ACID snapshot table format over parquet — the engine's answer to the
reference's mutable-store writes (reference nb:2101 ``to_sql(..., if_exists=
'replace')`` and the incremental re-loads around nb:2140) re-expressed for
immutable distributed storage.

Design (the public Delta/Iceberg commit-protocol shape, reimplemented
minimally and Spark-first):

* A table is a directory. Data lives in immutable parquet files written by
  normal Spark jobs; the TABLE STATE is the set of live files, defined
  solely by an append-only JSON commit log under ``_log/``.
* A commit is ONE atomically-created file ``_log/<version 20d>.json`` holding
  ``add`` / ``remove`` file actions, claimed put-if-absent through the
  commit seam every format shares (:func:`.commit.claim`, see
  ``sources/commit.py``). Readers never see partial state: either the
  commit file exists (all its files are live) or it doesn't.
* Optimistic concurrency (:func:`.commit.optimistic_commit`): writers
  prepare data files, then race to claim version N. A loser re-reads the
  log and either REBASES (pure appends commute with anything; bounded by
  the seam's attempt limit) or raises :class:`ConcurrentWriteError` (any
  op that removed files it had read — merge/overwrite/delete/compact — is
  serialized per table, Delta's WriteSerializable level).
* Copy-on-write MERGE with bucket pruning: a table created with
  ``bucket_key`` hash-partitions rows into ``num_buckets`` buckets
  (``pmod(xxhash64(key), n)``). MERGE rewrites ONLY the buckets the update
  delta touches — write amplification is (touched buckets / total), not the
  whole table. At 100 TB with 4096 buckets, a 0.1% delta touching 40 buckets
  rewrites ~1% of the table instead of 100%.
* File-level min/max stats (``stats_cols``) are harvested from parquet
  FOOTERS at commit time (metadata-only reads, O(KB) per file — the same
  work Delta's writer does) and stored in the add action, enabling
  data-skipping reads: :meth:`read` with a ``prune`` range consults stats
  and hands Spark only the files that can match. Files without stats are
  conservatively kept.
* Every commit records the number of log entries since the last checkpoint;
  every ``checkpoint_interval`` commits the full live-file set is rolled up
  into ``_log/_checkpoint.<version>.json`` so state reconstruction replays
  O(interval) JSON files, not O(history). ``_last_checkpoint`` is updated
  via ``os.replace`` (atomic overwrite; stale values only cost extra replay).

Scale notes: the log is driver-side metadata (KBs per commit — identical
posture to Delta); every data movement is a Spark job over DataFrames. The
only ``collect`` is the touched-bucket id list in MERGE, bounded by
``num_buckets``.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .commit import COMMIT_ATTEMPTS, Retry, claim, optimistic_commit

LOG_DIR = "_log"
LAST_CHECKPOINT = "_last_checkpoint"
_BUCKET_COL = "__bucket"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed a conflicting change; re-run the operation
    on the refreshed table state."""


class VacuumedVersionError(RuntimeError):
    """Time travel to a version whose files were removed by vacuum()."""


@dataclass
class _AddAction:
    path: str  # relative to table root
    rows: int
    bucket: int | None = None
    stats: dict[str, list] = field(default_factory=dict)  # col -> [min, max]

    def to_json(self) -> dict:
        return {
            "path": self.path,
            "rows": self.rows,
            "bucket": self.bucket,
            "stats": self.stats,
        }

    @staticmethod
    def from_json(d: dict) -> "_AddAction":
        return _AddAction(d["path"], d["rows"], d.get("bucket"), d.get("stats", {}))


def _harvest_stats(abs_path: str, stats_cols: Sequence[str]) -> tuple[int, dict]:
    """(num_rows, {col: [min, max]}) from the parquet footer only.

    Footer stats are per row group; the file-level range is the union.
    Columns whose stats are absent are omitted — readers treat missing
    stats as "file may match" (conservative, never wrong). Kept types:
    numerics as-is; date/timestamp as ISO-8601 strings (JSON-storable AND
    ordered identically, so ``prune`` ranges are passed as ISO strings).
    Raw string/binary stats are DISCARDED: parquet writers may truncate
    them, and a truncated max can sort below the true max — pruning on it
    would silently drop matching files.
    """
    import datetime

    import pyarrow.parquet as pq

    def _norm(v):
        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, (int, float)):
            return v
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        return None  # strings/bytes/decimal: truncation-unsafe, skip

    md = pq.ParquetFile(abs_path).metadata
    out: dict[str, list] = {}
    if stats_cols:
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for col in stats_cols:
            ci = idx.get(col)
            if ci is None:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = _norm(st.min), _norm(st.max)
                if mn is None or mx is None:
                    ok = False
                    break
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            if ok and lo is not None:
                out[col] = [lo, hi]
    return md.num_rows, out


class SnapshotTable:
    """Versioned ACID parquet table (see module docstring).

    Create with :meth:`create`; open an existing one with the constructor.
    All mutating methods go through the single optimistic-commit path
    :meth:`_commit`; all reads go through :meth:`read`.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._log = os.path.join(root, LOG_DIR)
        if not os.path.isdir(self._log):
            raise FileNotFoundError(f"not a SnapshotTable (no {LOG_DIR}): {root}")
        self.version = -1
        self._live: dict[str, _AddAction] = {}
        self._meta: dict = {}
        self._txns: dict[str, int] = {}  # app_id -> highest committed txn
        self._refresh()

    # ------------------------------------------------------------------
    # construction
    # ------------------------------------------------------------------
    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: StructType | str,
        bucket_key: Sequence[str] | None = None,
        num_buckets: int | None = None,
        stats_cols: Sequence[str] = (),
        checkpoint_interval: int = 10,
    ) -> "SnapshotTable":
        """Initialise an empty table: commit 0 carries the table metadata
        (schema, bucket spec, stats columns) and no files."""
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        if (bucket_key is None) != (num_buckets is None):
            raise ValueError("bucket_key and num_buckets must be set together")
        if num_buckets is not None and num_buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
        os.makedirs(os.path.join(root, LOG_DIR), exist_ok=True)
        meta = {
            "schema": schema.json(),
            "bucket_key": list(bucket_key) if bucket_key else None,
            "num_buckets": num_buckets,
            "stats_cols": list(stats_cols),
            "checkpoint_interval": checkpoint_interval,
        }
        record = {"version": 0, "op": "create", "meta": meta, "add": [], "remove": []}
        path = os.path.join(root, LOG_DIR, f"{0:020d}.json")
        if not claim(path, lambda f: json.dump(record, f)):
            raise FileExistsError(f"SnapshotTable already exists at {root}")
        return SnapshotTable(spark, root)

    # ------------------------------------------------------------------
    # log replay
    # ------------------------------------------------------------------
    def _commit_path(self, v: int) -> str:
        return os.path.join(self._log, f"{v:020d}.json")

    def _apply(self, record: dict) -> None:
        for p in record.get("remove", []):
            self._live.pop(p, None)
        for a in record.get("add", []):
            act = _AddAction.from_json(a)
            self._live[act.path] = act
        if "meta" in record:
            self._meta = record["meta"]
        txn = record.get("txn")
        if txn:
            self._txns[txn["app"]] = max(
                self._txns.get(txn["app"], -1), txn["version"]
            )
        self.version = record["version"]

    def _refresh(self) -> int:
        """Replay commits past the current in-memory version; returns the
        number of NEW commits seen (0 = already current)."""
        if self.version < 0:
            cp = self._read_last_checkpoint()
            if cp is not None:
                self._live = {
                    a.path: a for a in (_AddAction.from_json(d) for d in cp["files"])
                }
                self._meta = cp["meta"]
                self._txns = dict(cp.get("txns", {}))
                self.version = cp["version"]
        seen = 0
        while True:
            path = self._commit_path(self.version + 1)
            if not os.path.exists(path):
                return seen
            with open(path) as f:
                self._apply(json.load(f))
            seen += 1

    def _read_last_checkpoint(self) -> dict | None:
        try:
            with open(os.path.join(self._log, LAST_CHECKPOINT)) as f:
                v = int(f.read().strip())
            with open(os.path.join(self._log, f"_checkpoint.{v:020d}.json")) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return None

    def _state_at(self, version: int) -> dict[str, _AddAction]:
        """Live-file set as of ``version`` (time travel): replay from the
        newest checkpoint <= version, else from 0. Commit JSONs are never
        deleted (KBs), only data files are vacuumed."""
        if version < 0 or version > self.version:
            raise ValueError(
                f"version {version} out of range [0, {self.version}]"
            )
        live: dict[str, _AddAction] = {}
        start = 0
        cp = self._read_last_checkpoint()
        if cp is not None and cp["version"] <= version:
            live = {
                a.path: a for a in (_AddAction.from_json(d) for d in cp["files"])
            }
            start = cp["version"] + 1
        for v in range(start, version + 1):
            with open(self._commit_path(v)) as f:
                record = json.load(f)
            for p in record.get("remove", []):
                live.pop(p, None)
            for a in record.get("add", []):
                act = _AddAction.from_json(a)
                live[act.path] = act
        return live

    # ------------------------------------------------------------------
    # schema / bucketing helpers
    # ------------------------------------------------------------------
    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self._meta["schema"]))

    @property
    def bucket_key(self) -> list[str] | None:
        return self._meta.get("bucket_key")

    @property
    def num_buckets(self) -> int | None:
        return self._meta.get("num_buckets")

    def _bucket_expr(self) -> Column:
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.bucket_key]),
            F.lit(self.num_buckets),
        ).cast("int")

    def _check_schema(
        self, df: DataFrame, schema: StructType | None = None
    ) -> DataFrame:
        schema = schema or self.schema
        want = [f.name for f in schema.fields]
        missing = [c for c in want if c not in df.columns]
        extra = [c for c in df.columns if c not in want]
        if missing or extra:
            raise ValueError(
                f"schema mismatch: missing {missing}, unexpected {extra} "
                f"(table columns: {want}; append with merge_schema=True "
                "to add columns)"
            )
        # column order + declared types; cast is a no-op when already aligned
        return df.select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields]
        )

    # ------------------------------------------------------------------
    # data-file staging
    # ------------------------------------------------------------------
    def _stage(
        self, df: DataFrame, est_bytes: int | None = None
    ) -> list[_AddAction]:
        """Write df's rows as new parquet files under a fresh commit dir and
        return their add actions (rows + stats harvested from footers).

        Bucketed tables write ``partitionBy(__bucket)`` so each file belongs
        to exactly one bucket (recorded in the action — MERGE's pruning
        unit). Stats harvesting is footer-only, parallelized on driver
        threads; per-commit file counts are bounded (one Spark write job).

        ``est_bytes`` (when the caller can bound the plan's bytes from
        its own log — MERGE knows the touched files' sizes and the
        update row count) routes the write through
        :func:`~..session.small_plan_session`: a provably-small
        fixed-shape plan runs AQE-off with an input-derived partition
        pin (one job instead of one per exchange); big plans keep the
        caller's session and AQE untouched.
        """
        from ..session import small_plan_session

        rel_dir = f"data-{uuid.uuid4().hex[:12]}"
        abs_dir = os.path.join(self.root, rel_dir)
        if self.bucket_key:
            out = df.withColumn(_BUCKET_COL, self._bucket_expr())
            with small_plan_session(out, est_bytes=est_bytes) as (_s, (o2,)):
                o2.write.partitionBy(_BUCKET_COL).parquet(
                    abs_dir, mode="errorifexists"
                )
        else:
            with small_plan_session(df, est_bytes=est_bytes) as (_s, (d2,)):
                d2.write.parquet(abs_dir, mode="errorifexists")
        actions = []
        paths = []
        for dirpath, _dirs, files in os.walk(abs_dir):
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                absp = os.path.join(dirpath, name)
                rel = os.path.relpath(absp, self.root)
                bucket = None
                if f"{_BUCKET_COL}=" in dirpath:
                    bucket = int(dirpath.rsplit(f"{_BUCKET_COL}=", 1)[1].split(os.sep)[0])
                paths.append((rel, absp, bucket))
        stats_cols = self._meta.get("stats_cols", [])
        with ThreadPoolExecutor(max_workers=8) as ex:
            harvested = list(
                ex.map(lambda t: _harvest_stats(t[1], stats_cols), paths)
            )
        for (rel, _absp, bucket), (rows, stats) in zip(paths, harvested):
            actions.append(_AddAction(rel, rows, bucket, stats))
        return actions

    # ------------------------------------------------------------------
    # the single optimistic-commit path
    # ------------------------------------------------------------------
    def _commit(
        self,
        op: str,
        adds: list[_AddAction],
        removes: list[str],
        txn: tuple[str, int] | None = None,
        meta: dict | None = None,
    ) -> int:
        """Atomically claim the next version. Appends rebase past any
        concurrent commit; removing ops conflict with ANY concurrent commit
        (WriteSerializable: the files they read may no longer be live).

        ``txn=(app_id, txn_version)`` makes the commit IDEMPOTENT per app:
        if an equal-or-higher txn_version for app_id is already in the log
        (checked again after every lost race), the commit is skipped and
        the current table version returned — the exactly-once primitive
        a streaming foreachBatch sink needs to survive batch replays.
        Skipped attempts may leave already-staged files unreferenced;
        vacuum() collects them.
        """
        record_base = {
            "op": op,
            "add": [a.to_json() for a in adds],
            "remove": list(removes),
        }
        if txn is not None:
            record_base["txn"] = {"app": txn[0], "version": txn[1]}
        if meta is not None:
            record_base["meta"] = meta

        def attempt():
            if txn is not None and self._txns.get(txn[0], -1) >= txn[1]:
                return self.version  # already committed (possibly by a peer)
            v = self.version + 1
            record = {"version": v, **record_base}
            if claim(self._commit_path(v), lambda f: json.dump(record, f)):
                self._apply(record)
                self._maybe_checkpoint()
                return v
            self._refresh()
            if op != "append" or meta is not None:
                # roll back this attempt: it read state (live files /
                # current schema) that a concurrent commit replaced —
                # a schema-evolving append does NOT commute. Keyed on
                # the OP INTENT, not on a non-empty remove list: an
                # overwrite of an empty table, or a merge whose
                # touched buckets held no files, still read a
                # snapshot and must not silently rebase past a
                # concurrent writer (it would leave both row sets
                # live / duplicate merged keys)
                raise ConcurrentWriteError(
                    f"{op} at version {v} lost the race to a concurrent "
                    f"writer (now at {self.version}); re-run on the "
                    "refreshed table"
                )
            # pure append: commutes, rebase and retry
            return Retry(ConcurrentWriteError(
                f"{op} lost the race {COMMIT_ATTEMPTS} times in a row "
                f"(now at {self.version}); concurrent writers are "
                "committing faster than it can rebase"
            ))

        return optimistic_commit(attempt)

    def _maybe_checkpoint(self) -> None:
        interval = self._meta.get("checkpoint_interval", 10)
        if interval and self.version > 0 and self.version % interval == 0:
            cp = {
                "version": self.version,
                "meta": self._meta,
                "txns": self._txns,
                "files": [a.to_json() for a in self._live.values()],
            }
            cpp = os.path.join(self._log, f"_checkpoint.{self.version:020d}.json")
            tmp = os.path.join(self._log, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(cp, f)
            os.replace(tmp, cpp)  # atomic; losing a concurrent race is harmless
            tmp2 = os.path.join(self._log, f".tmp-{uuid.uuid4().hex}")
            with open(tmp2, "w") as f:
                f.write(str(self.version))
            os.replace(tmp2, os.path.join(self._log, LAST_CHECKPOINT))

    # ------------------------------------------------------------------
    # public operations
    # ------------------------------------------------------------------
    def append(
        self,
        df: DataFrame,
        txn: tuple[str, int] | None = None,
        merge_schema: bool = False,
    ) -> int:
        """Blind append: stages files then commits, auto-rebasing past any
        concurrent writer (appends always commute). Returns the version.

        ``txn=(app_id, txn_version)`` deduplicates replays: if that txn
        (or a later one for the same app) is already committed, nothing is
        staged or written — see :meth:`_commit`. Pass the streaming batch
        id here for an exactly-once foreachBatch sink.

        ``merge_schema=True`` permits SCHEMA EVOLUTION: columns of ``df``
        not yet in the table are APPENDED to the table schema by this
        commit (additive only — existing columns keep their declared
        types; dropping/retyping is not evolution, rewrite instead).
        Earlier files simply lack the new columns and read as NULL (the
        explicit read schema projects them). A schema-changing append does
        NOT commute, so losing a commit race raises instead of rebasing.
        """
        self._refresh()
        if txn is not None and self._txns.get(txn[0], -1) >= txn[1]:
            return self.version  # replayed batch: skip staging entirely
        target = self.schema
        new_meta = None
        extra = [c for c in df.columns if c not in {f.name for f in target.fields}]
        if merge_schema and extra:
            evolved = StructType(list(target.fields))
            for fname in extra:
                evolved = evolved.add(df.schema[fname])
            target = evolved
            new_meta = dict(self._meta, schema=target.json())
        return self._commit(
            "append",
            self._stage(self._check_schema(df, target)),
            [],
            txn=txn,
            meta=new_meta,
        )

    def overwrite(self, df: DataFrame, txn: tuple[str, int] | None = None) -> int:
        """Replace the whole table contents in one atomic commit.
        ``txn`` dedupes replays exactly as in :meth:`append`."""
        self._refresh()
        if txn is not None and self._txns.get(txn[0], -1) >= txn[1]:
            return self.version
        removes = list(self._live)
        return self._commit(
            "overwrite", self._stage(self._check_schema(df)), removes, txn=txn
        )

    def merge(
        self,
        updates: DataFrame,
        update_cols: Sequence[str] | None = None,
        key: Sequence[str] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """MERGE (upsert) keyed on the table's ``bucket_key`` (or an
        explicit ``key`` for unbucketed tables): matched rows' ``update_cols``
        are overwritten, unmatched update rows inserted.

        Copy-on-write at BUCKET granularity: only buckets containing update
        keys are read, merged (operators.relational.merge_upsert — one
        full-outer join per touched subset), and rewritten; every other
        bucket's files remain live untouched. The only driver materialization
        is the touched-bucket id list (<= num_buckets rows).

        Unbucketed tables fall back to a full-table rewrite (documented
        write amplification — create with bucket_key for mutable workloads).

        ``txn`` dedupes replays exactly as in :meth:`append` — a
        foreachBatch MERGE sink passes the batch id so re-delivered
        batches don't re-apply (a re-applied non-idempotent merge, e.g.
        one adding deltas, would double-count).
        """
        from ..operators.relational import merge_upsert

        self._refresh()
        if txn is not None and self._txns.get(txn[0], -1) >= txn[1]:
            return self.version
        if not self.bucket_key:
            if not key:
                raise ValueError(
                    "merge on an unbucketed table requires an explicit key"
                )
            base = self.read()
            merged = merge_upsert(base, updates, key=list(key), update_cols=update_cols)
            return self._commit(
                "merge", self._stage(self._check_schema(merged)), list(self._live),
                txn=txn,
            )
        if key is not None and list(key) != list(self.bucket_key):
            raise ValueError(
                f"merge key {list(key)} must equal bucket_key {self.bucket_key} "
                "(bucket pruning is keyed on it)"
            )
        key = list(self.bucket_key)
        # Cast the bucket-key columns to the table's DECLARED types before
        # hashing: files were bucketed by hashing the schema-cast output
        # (_stage runs after _check_schema), and xxhash64 is type-sensitive
        # (int32 vs int64 hash differently) — an updates frame with a
        # narrower/wider key dtype would otherwise compute the wrong
        # touched-bucket set and land merged rows beside stale base files.
        upd = updates
        for c in key:
            upd = upd.withColumn(c, F.col(c).cast(self.schema[c].dataType))
        # one probe job: touched bucket ids AND the update row count
        # (the count feeds the byte estimate below at no extra job).
        # The probe runs AQE-off regardless of scale: it is a fixed
        # partial-aggregated groupBy with <= num_buckets output groups
        # (no join, no skewable key, nothing to coalesce), so AQE's
        # per-exchange stage materialization buys nothing; the pin is
        # the table's own bucket count
        from ..session import loop_session

        with loop_session(
            upd, shuffle_partitions=self.num_buckets or 1
        ) as (_s, (u2,)):
            probe = (
                u2.groupBy(self._bucket_expr().alias("__b"))
                .count()
                .collect()
            )
        touched = sorted(r["__b"] for r in probe)
        n_upd = sum(int(r["count"]) for r in probe)
        touched_set = set(touched)
        old_files = [
            p for p, a in self._live.items() if a.bucket in touched_set
        ]
        base = self._read_files(old_files)
        merged = merge_upsert(base, upd, key=key, update_cols=update_cols)
        # plan bytes, bounded driver-side: touched files' DISK sizes
        # (inflated 4x for their in-memory width) + update rows at the
        # schema's static width — both inputs and the merged output are
        # within a small factor of this sum
        from .io import BROADCAST_INFLATION, schema_row_bytes

        est = BROADCAST_INFLATION * sum(
            os.path.getsize(ap)
            for p in old_files
            for ap in (os.path.join(self.root, p),)
            if os.path.exists(ap)
        ) + n_upd * schema_row_bytes(self.schema)
        return self._commit(
            "merge",
            self._stage(self._check_schema(merged), est_bytes=est),
            old_files,
            txn=txn,
        )

    def delete(self, cond: Column, prune: Sequence[tuple] | None = None) -> int:
        """Delete rows matching ``cond``: candidate files (optionally
        stats-pruned via ``prune`` = [(col, lo, hi), ...]) are rewritten
        without the matching rows; non-candidate files stay live as-is."""
        self._refresh()
        candidates = self._prune_files(self._live, prune)
        if not candidates:
            return self._commit("delete", [], [])
        kept = self._read_files(candidates).filter(~F.coalesce(cond, F.lit(False)))
        return self._commit("delete", self._stage(self._check_schema(kept)), candidates)

    def compact(self, files_per_bucket: int = 1) -> int:
        """OPTIMIZE: coalesce each bucket's (or the whole unbucketed
        table's) live files into ``files_per_bucket`` files. Pure
        re-layout — row set unchanged; conflicts with concurrent writers
        like every removing op."""
        self._refresh()
        removes = list(self._live)
        if not removes:
            return self._commit("compact", [], [])
        df = self._read_files(removes).coalesce(
            max(1, files_per_bucket * (self.num_buckets or 1))
        )
        return self._commit("compact", self._stage(self._check_schema(df)), removes)

    def optimize_zorder(
        self, cols: Sequence[str], n_files: int = 16, bits: int = 12
    ) -> int:
        """OPTIMIZE ZORDER BY: rewrite the table clustered along a Morton
        (Z-order) curve over ``cols`` so that file-level min/max stats become
        selective on EVERY listed column at once — linear sort helps only
        its leading column; the interleaved curve keeps each file a small
        hyper-rectangle in all dimensions.

        Mechanics (all JVM-side, one pass + one range shuffle): each column
        is quantized to ``bits`` uniform buckets over its [min, max] (one
        agg job for the bounds); the z-value interleaves the bucket bits
        (shiftleft/or expression tree, whole-stage codegen); rows are
        ``repartitionByRange`` on z (sampled range boundaries — no global
        sort, no 1-task stage) and written ``sortWithinPartitions(z)``.
        Uniform buckets trade skew-optimality for a fixed two-job plan;
        skew only dilutes skipping, never correctness (stats pruning stays
        conservative). Commits like compact: row set unchanged, conflicts
        with concurrent writers.
        """
        self._refresh()
        if not cols or not (1 <= bits <= 20):
            raise ValueError("optimize_zorder: need >=1 column and 1<=bits<=20")
        for c in cols:
            if c not in [f.name for f in self.schema.fields]:
                raise ValueError(f"optimize_zorder: unknown column {c!r}")
        removes = list(self._live)
        if not removes:
            return self._commit("zorder", [], [])
        from .io import zorder_value

        df = self._read_files(removes)
        z = zorder_value(df, cols, bits)
        clustered = (
            df.withColumn("__z", z)
            .repartitionByRange(max(1, n_files), "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        return self._commit("zorder", self._stage(clustered), removes)

    def restore(self, version: int) -> int:
        """RESTORE the table to a historical ``version`` as a NEW commit
        (the audit trail keeps both timelines — nothing is rewritten,
        the old version's file set simply becomes live again). Fails
        like any removing op if a concurrent writer commits first, and
        raises VacuumedVersionError if vacuum() already dropped the
        target's files."""
        self._refresh()
        target = self._state_at(version)
        for p in target:
            if not os.path.exists(os.path.join(self.root, p)):
                raise VacuumedVersionError(
                    f"restore: file {p} of version {version} was vacuumed"
                )
        removes = [p for p in self._live if p not in target]
        adds = [a for p, a in target.items() if p not in self._live]
        return self._commit("restore", adds, removes)

    def vacuum(
        self, retain_versions: int = 2, min_age_seconds: float = 3600.0
    ) -> int:
        """Physically delete data files referenced by NO snapshot in the
        last ``retain_versions`` versions (nor the current one). Time travel
        older than the retained window raises VacuumedVersionError on read.
        Returns the number of files deleted. Commit JSONs are retained
        (metadata is KBs; history() stays complete).

        ``min_age_seconds`` (default 1h) protects files a CONCURRENT
        writer has staged but not yet committed — they are unreferenced by
        any snapshot, yet deleting them would corrupt that writer's commit
        the moment it wins the log race. Only files older than the grace
        window are eligible (the same reasoning as Delta's vacuum
        retention). Lower it only when no other writer can be active."""
        import time as _time

        self._refresh()
        keep: set[str] = set()
        lo = max(0, self.version - max(0, retain_versions - 1))
        for v in range(lo, self.version + 1):
            keep.update(self._state_at(v))
        deleted = 0
        cutoff = _time.time() - max(0.0, min_age_seconds)
        for dirpath, _dirs, files in os.walk(self.root):
            # skip the log subtree by PATH COMPONENT relative to the table
            # root — a substring test on the absolute path would also match
            # a table rooted under e.g. /data/my_log/tbl and silently
            # vacuum nothing
            rel_dir = os.path.relpath(dirpath, self.root)
            if rel_dir == LOG_DIR or rel_dir.startswith(LOG_DIR + os.sep):
                continue
            for name in files:
                absp = os.path.join(dirpath, name)
                rel = os.path.relpath(absp, self.root)
                if (
                    rel.endswith(".parquet")
                    and rel not in keep
                    and os.path.getmtime(absp) <= cutoff
                ):
                    os.unlink(absp)
                    deleted += 1
        return deleted

    def last_txn_version(self, app_id: str) -> int:
        """Highest committed txn_version for ``app_id`` (-1 if none) —
        what a resuming streaming writer consults to know where replays
        end and new batches begin."""
        self._refresh()
        return self._txns.get(app_id, -1)

    def history(self) -> list[dict]:
        """All commit records (version asc): op, files added/removed, rows
        added — the audit trail a warehouse DESCRIBE HISTORY shows."""
        out = []
        for v in range(0, self.version + 1):
            with open(self._commit_path(v)) as f:
                r = json.load(f)
            out.append(
                {
                    "version": r["version"],
                    "op": r["op"],
                    "n_added": len(r.get("add", [])),
                    "n_removed": len(r.get("remove", [])),
                    "rows_added": sum(a["rows"] for a in r.get("add", [])),
                }
            )
        return out

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    def _prune_files(
        self, live: dict[str, _AddAction], prune: Sequence[tuple] | None
    ) -> list[str]:
        """Data skipping: keep files whose [min,max] can intersect every
        (col, lo, hi) range; files without stats for a col are kept."""
        paths = []
        for p, a in live.items():
            ok = True
            for col, lo, hi in prune or ():
                st = a.stats.get(col)
                if st is None:
                    continue
                if (hi is not None and st[0] > hi) or (
                    lo is not None and st[1] < lo
                ):
                    ok = False
                    break
            if ok:
                paths.append(p)
        return sorted(paths)

    def _read_files(self, rel_paths: Sequence[str]) -> DataFrame:
        if not rel_paths:
            return self.spark.createDataFrame([], self.schema)
        abs_paths = [os.path.join(self.root, p) for p in rel_paths]
        for p in abs_paths:
            if not os.path.exists(p):
                raise VacuumedVersionError(
                    f"data file {p} was removed by vacuum(); this snapshot "
                    "is no longer reconstructible"
                )
        # schema given explicitly: no inference pass, stable column order,
        # and the internal __bucket partition column never surfaces
        return self.spark.read.schema(self.schema).parquet(*abs_paths)

    def pruned_paths(
        self, prune: Sequence[tuple] | None = None, version: int | None = None
    ) -> list[str]:
        """File paths a ``read(prune=...)`` would scan — the data-skipping
        planning surface (compare against ``len(files())`` to measure skip
        effectiveness)."""
        self._refresh()
        live = self._live if version is None else self._state_at(version)
        return self._prune_files(live, prune)

    def read(
        self, version: int | None = None, prune: Sequence[tuple] | None = None
    ) -> DataFrame:
        """Snapshot read. ``version=None`` -> latest (after refresh).
        ``prune`` = [(col, lo, hi)] does file-level skipping on the stored
        footer stats AND applies the same range as a real filter (so results
        are correct even where stats are missing); pass lo/hi=None for
        half-open ranges. Date/timestamp ranges are passed as ISO strings
        (how stats are stored)."""
        self._refresh()
        live = self._live if version is None else self._state_at(version)
        df = self._read_files(self._prune_files(live, prune))
        for col, lo, hi in prune or ():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def read_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """CHANGE DATA FEED: row-level changes between two snapshots
        (``from_version`` EXCLUSIVE, ``to_version`` inclusive; default =
        current). Output = table columns + ``_change_type``
        ('insert'/'delete'; an update appears as its delete pre-image and
        insert post-image) + ``_commit_version``.

        Cost is delta-scoped, never table-scoped: append commits read only
        their added files; compact/zorder are row-set-preserving re-layouts
        and contribute nothing; merge/delete/overwrite diff ONLY the files
        the commit removed vs added (for a bucketed MERGE that is the
        touched buckets) via ``exceptAll`` — rewritten-but-unchanged rows
        cancel, so the feed carries true changes only. Columns must be
        exceptAll-comparable (no map type). Vacuumed history raises
        :class:`VacuumedVersionError` like any time travel."""
        self._refresh()
        to_v = self.version if to_version is None else to_version
        if not (0 <= from_version <= to_v <= self.version):
            raise ValueError(
                f"read_changes: need 0 <= from {from_version} <= to {to_v} "
                f"<= {self.version}"
            )
        out_schema = StructType(
            list(self.schema.fields)
        ).add("_change_type", "string").add("_commit_version", "long")
        parts: list[DataFrame] = []

        def tag(df: DataFrame, kind: str, v: int) -> DataFrame:
            return df.select(
                "*",
                F.lit(kind).alias("_change_type"),
                F.lit(v).cast("long").alias("_commit_version"),
            )

        for v in range(from_version + 1, to_v + 1):
            with open(self._commit_path(v)) as f:
                record = json.load(f)
            op = record["op"]
            if op in ("compact", "zorder", "create"):
                continue  # row set unchanged (or empty)
            added = [a["path"] for a in record.get("add", [])]
            removed = record.get("remove", [])
            if op == "append":
                parts.append(tag(self._read_files(added), "insert", v))
                continue
            before = self._read_files(removed)
            after = self._read_files(added)
            parts.append(tag(after.exceptAll(before), "insert", v))
            parts.append(tag(before.exceptAll(after), "delete", v))
        if not parts:
            return self.spark.createDataFrame([], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def files(self, version: int | None = None) -> list[_AddAction]:
        """Live add-actions (path, rows, bucket, stats) — the planning
        surface data-skipping and tests introspect."""
        self._refresh()
        live = self._live if version is None else self._state_at(version)
        return [live[p] for p in sorted(live)]
