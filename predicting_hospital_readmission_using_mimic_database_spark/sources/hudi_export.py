"""Publish a :class:`~.table.SnapshotTable` as a real COPY_ON_WRITE
Apache Hudi table — the EXPORT direction of the Hudi interop,
completing the read/export/stream matrix next to ``export_delta_log``
and ``export_iceberg``.

Unlike those two, a Hudi publish can never be zero-copy: the format
requires the five ``_hoodie_*`` meta columns INSIDE every data file
and ``{fileId}_{writeToken}_{instant}.parquet`` file names, so each
export REWRITES the changed buckets' rows (one write per touched file
group — the same unit a real COW writer rewrites). Layout written:

* one FILE GROUP per table bucket (``b0000`` …). Non-partitioned by
  default (partition path ``""``, files at the table root);
  ``partition_by=`` publishes a HIVE-STYLE partitioned layout instead
  (``col=value/`` dirs, multi-column nested), with the partition path
  in every row's ``_hoodie_partition_path`` and the partition columns
  kept INSIDE the data files (Hudi readers resolve values from the
  files, not the dir names) — a bucket's file group then exists once
  per partition it has rows in (same fileId across partitions, the
  layout real partitioned Hudi tables have). ``read_hudi(
  partitions=["col=value"])`` prunes the export at the listing level;
* per-row ``_hoodie_commit_time`` preserved across rewrites: a row
  byte-identical to the previous export keeps its original instant, a
  changed/new row is stamped with the new one — exactly what a real
  COW upsert produces, so ``read_hudi_incremental`` /
  ``hudi_stream`` emit true net changes, never a full-table re-stamp
  (the carry-forward join reads ONLY each touched group's previous
  base file, so incremental cost scales with the touched buckets'
  rows, never the table);
* untouched buckets keep their existing base files (incremental
  queries prune them at the file-group level);
* a ``.hoodie/{instant}.commit`` completed-instant marker with
  write-stats JSON, ``hoodie.properties`` with the record-key fields,
  and superseded slices left in place (time travel reads them).

The record key is the table's ``bucket_key`` (colon-joined) — Hudi
has no keyless tables, so an unbucketed SnapshotTable refuses with
guidance. Export state (last published table version) lives in
``.hoodie/.export-state.json``, a writer-private dotfile every reader
ignores.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import functions as F

from ..session import small_plan_session, small_plan_spark
from .commit import claim
from .hudi import HOODIE_DIR


def _publish_bytes_est(table, touched, prev_files) -> int:
    """Driver-side byte bound for an incremental publish over the
    ``touched`` buckets: the previous slices'/logs' DISK sizes
    (inflated to their in-memory width) plus the table's current
    touched rows at the schema's static width — row counts come from
    the table's own add actions, so no job runs. Feeds the
    small-plan byte gate (:func:`~..session.small_plan_session`):
    under it, the publish's fixed-shape diff/stage plan runs AQE-off
    with an input-derived partition pin; over it (the at-scale
    regime) the caller's session and AQE stay untouched."""
    from .io import BROADCAST_INFLATION, schema_row_bytes

    touched = set(touched)
    disk = sum(
        os.path.getsize(p) for p in prev_files if os.path.exists(p)
    )
    rows = sum(
        a.rows or 0
        for a in table._live.values()
        if a.bucket in touched
    )
    return BROADCAST_INFLATION * disk + rows * schema_row_bytes(
        table.schema
    )


def _dest_bytes_est(dest: str) -> int:
    """Driver-side byte bound for a DML op over a PUBLISHED Hudi table
    at ``dest``: the LIVE slices' base+log bytes (what the op's
    ``_read_mor`` fold actually opens — superseded base files from
    earlier instants must not inflate the gate and push a small table
    off the small-plan path), inflated to in-memory width. Uses the
    same ``_latest_slices`` listing every reader resolves (metadata
    table when present), not an O(all files) walk."""
    from .hudi import _latest_slices
    from .io import BROADCAST_INFLATION

    slices, logs = _latest_slices(dest, None, None, collect_logs=True)
    total = sum(
        os.path.getsize(p)
        for (_i, p) in slices.values()
        if p and os.path.exists(p)
    )
    total += sum(
        os.path.getsize(entry[2])
        for ls in logs.values()
        for entry in ls
        if os.path.exists(entry[2])
    )
    return BROADCAST_INFLATION * total

__all__ = [
    "archive_hudi_timeline", "clean_hudi", "cluster_hudi",
    "compact_hudi", "complete_clustering", "delete_from_hudi",
    "export_hudi", "restore_hudi", "rollback_hudi", "savepoint_hudi",
    "schedule_clustering", "schedule_compaction", "update_hudi",
]

_STATE_FILE = ".export-state.json"


def _instant(version: int) -> str:
    return f"{version:014d}"


def _write_token() -> str:
    """Per-invocation WRITE TOKEN for base/log file names
    (``{fileId}_{writeToken}_{instant}``): real Hudi stamps each write
    attempt's own token into the name, so two writers racing on one
    instant can never overwrite each other's bytes — the completed
    marker alone decides whose files are table state, and the loser's
    distinctly-named files stay invisible (never listed as a completed
    slice) until a clean collects them. Digits-and-dashes only, per the
    reader's ``_BASEFILE_RE``."""
    import uuid as _uuid

    return f"0-{os.getpid()}-{int(_uuid.uuid4()) % 100000}"


def _publish_instant(hdir: str, name: str, body: dict) -> None:
    """Claim a timeline instant file put-if-absent through the shared
    commit seam (:func:`.commit.claim`, ``sources/commit.py``). Hudi's
    multi-writer story is a LOCK PROVIDER — without one, two writers
    allocating the same instant is a detected error, not a retry: the
    loser's data files already embed the instant in their names and
    ``_hoodie_commit_time`` stamps, so rebasing would mean rewriting
    them. Raises ``HudiProtocolError`` on the collision (the orphaned
    files are never visible — no marker means no commit — and a later
    clean can collect them)."""
    from .hudi import HudiProtocolError

    if not claim(os.path.join(hdir, name), lambda f: json.dump(body, f)):
        raise HudiProtocolError(
            f"concurrent Hudi writer detected: timeline instant "
            f"{name} already exists — Hudi multi-writer needs a lock "
            "provider; this writer's files for the instant stay "
            "invisible (no completed marker) and re-running re-exports "
            "at a fresh instant"
        )


def export_hudi(
    table, dest: str, partition_by: list[str] | None = None,
    table_type: str = "COPY_ON_WRITE",
    clustering_updates: str = "reject",
) -> str:
    """Export ``table``'s current snapshot to ``dest`` as a Hudi table
    (see module docstring). Incremental: buckets unchanged since
    the last export are not rewritten; a no-change export is a no-op.
    ``partition_by`` publishes hive-style ``col=value`` partition dirs
    (must name schema columns with no NULL values — Hudi partition
    paths are strings, not a NULL encoding — and must match the
    table's previous exports). Returns the commit instant of the
    published (or already-current) state.

    ``table_type="MERGE_ON_READ"`` publishes incrementally as LOG
    APPENDS instead of bucket rewrites: the first export writes base
    files (a ``deltacommit``), and every later export computes each
    touched bucket's per-key diff against the published group state
    and appends ONE log file per group — AVRO upsert blocks for
    new/changed keys, a DELETE block for gone keys
    (:mod:`.hudi_log`) — so write amplification is the CHANGE SIZE,
    not the bucket size (a 1-row upsert appends ~1 row, never a
    rewrite of the group's base file). Log files are written ON
    EXECUTORS (one applyInPandas task per touched group); the diff
    reads only the touched groups' published state through the same
    ``_read_mor`` fold every reader uses. Combinable with
    ``partition_by``: group identity is (partition, fileId), so a key
    that MOVES partitions becomes a DELETE tombstone in its old
    partition's group log plus an upsert in the new one — the same
    two records a real global-index MOR writer emits for a
    partition-path change — and a first-ever row in a partition whose
    (partition, fileId) group has no base file starts a LOG-ONLY file
    group there (readers fold it; compaction later writes its first
    base)."""
    if not table.bucket_key:
        raise ValueError(
            "export_hudi needs a bucketed SnapshotTable: the bucket key "
            "becomes the Hudi record key (Hudi has no keyless tables) "
            "and the bucket is the rewrite unit"
        )
    if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        raise ValueError(
            f"table_type {table_type!r} must be COPY_ON_WRITE or "
            "MERGE_ON_READ"
        )
    mor = table_type == "MERGE_ON_READ"
    schema_names = [f.name for f in table.schema.fields]
    partition_by = list(partition_by or [])
    unknown = [c for c in partition_by if c not in schema_names]
    if unknown:
        raise ValueError(
            f"partition_by names unknown columns {unknown} "
            f"(schema: {schema_names})"
        )
    spark = table.spark
    table._refresh()
    version = table.version
    inst = _instant(version)
    hdir = os.path.join(dest, HOODIE_DIR)
    state_path = os.path.join(hdir, _STATE_FILE)
    prev_version = None
    if os.path.exists(state_path):
        with open(state_path) as f:
            st = json.load(f)
        prev_version = int(st["table_version"])
        prev_parts = st.get("partition_by", [])
        if prev_parts != partition_by:
            raise ValueError(
                f"export_hudi: this table was published with "
                f"partition_by={prev_parts}; re-exporting with "
                f"{partition_by} would mix layouts in one table"
            )
        prev_type = st.get("table_type", "COPY_ON_WRITE")
        if prev_type != table_type:
            raise ValueError(
                f"export_hudi: this table was published as {prev_type}; "
                f"re-exporting as {table_type} would mix table types"
            )
        if prev_version == version:
            # nothing new to publish
            return st.get("instant", _instant(prev_version))
        from .hudi import _replaced_groups

        if _replaced_groups(dest, None):
            raise ValueError(
                "export_hudi: this table has replacecommit-retired file "
                "groups (cluster_hudi / insert_overwrite rewrote the "
                "layout); the exporter's bucket->fileId mapping no "
                "longer holds — publish further changes to a fresh dest"
            )
    os.makedirs(hdir, exist_ok=True)
    if os.path.isdir(hdir):
        # instants later than the version-derived one may exist on the
        # timeline from actions the export did not write (compaction);
        # a new commit must sort strictly after EVERYTHING completed
        from .hudi import _INSTANT_RE

        taken = [
            m.group(1)
            for m in (_INSTANT_RE.match(n) for n in os.listdir(hdir))
            if m
        ]
        if taken and max(taken) >= inst:
            inst = f"{int(max(taken)) + 1:014d}"
    props = os.path.join(hdir, "hoodie.properties")
    if not os.path.exists(props):
        with open(props, "w") as f:
            f.write(
                f"hoodie.table.name={os.path.basename(dest.rstrip(os.sep))}\n"
                f"hoodie.table.type={table_type}\n"
                "hoodie.table.recordkey.fields="
                + ",".join(table.bucket_key) + "\n"
            )
            if partition_by:
                f.write(
                    "hoodie.table.partition.fields="
                    + ",".join(partition_by) + "\n"
                )

    # buckets to rewrite: all on first export, else the buckets of
    # files the table added or removed since the published version
    if prev_version is None:
        touched = set(range(table.num_buckets))
    else:
        old_live = table._state_at(prev_version)
        new_live = table._live
        touched = {
            a.bucket
            for p in set(old_live) ^ set(new_live)
            for a in (old_live.get(p) or new_live.get(p),)
            if a is not None and a.bucket is not None
        }
        if not touched:
            # version moved without row changes (compact/zorder):
            # publish nothing new, just advance the marker (the full
            # state shape — dropping table_type here would break the
            # COW/MOR mixing gate on the NEXT export)
            with open(state_path, "w") as f:
                json.dump(
                    {"table_version": version, "instant": inst,
                     "partition_by": partition_by,
                     "table_type": table_type}, f,
                )
            return inst

    # UPDATE-CONFLICT rule for file groups under a PENDING CLUSTERING
    # plan (hoodie.clustering.updates.strategy): REJECT (default)
    # refuses the write naming the plan; ALLOW lets it land — the
    # clustering COMPLETION then detects the conflict and aborts
    # (complete_clustering), real Hudi's two strategies.
    if clustering_updates not in ("reject", "allow"):
        raise ValueError(
            f"clustering_updates must be 'reject' or 'allow', "
            f"got {clustering_updates!r}"
        )
    from .hudi import HudiProtocolError, _pending_clustering_groups

    data_cols = [f.name for f in table.schema.fields]
    key_expr = F.concat_ws(
        ":", *[F.col(c).cast("string") for c in table.bucket_key]
    )
    if partition_by:
        # hive-style partition path; NULL partition values have no
        # string path and refuse (same posture as real Hudi's
        # hive-style keygen without a null fallback configured)
        pp_expr = F.concat_ws(
            "/",
            *[
                F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
                for c in partition_by
            ],
        )
    else:
        pp_expr = F.lit("")

    pcg = _pending_clustering_groups(dest)
    cl_cand: dict[tuple[str, str], str] = {}
    if pcg and clustering_updates == "reject":
        touched_fids = {f"b{b:04d}" for b in touched}
        cl_cand = {
            (p, fid): pi for (p, fid), pi in pcg.items()
            if fid in touched_fids
        }
        cand = cl_cand
        if cand and not (mor and prev_version is not None):
            # group identity is (partition, fileId): bucket fileIds
            # repeat across partitions, so only reject when THIS
            # write's (partition, fid) keys intersect the plan's.
            # Touched partitions for a candidate bucket = partitions
            # holding its rows now (the probe — one tiny distinct over
            # just the candidate buckets) ∪ partitions the group
            # already has slices in (a rewrite replaces those too,
            # including now-empty ones)
            cand_fids = {fid for (_p, fid) in cand}
            probe_buckets = [int(fid[1:]) for fid in sorted(cand_fids)]
            probe = (
                table.read()
                .withColumn("__b", table._bucket_expr())
                .filter(F.col("__b").isin(probe_buckets))
                .select(F.col("__b"), pp_expr.alias("__pp"))
                .distinct()
                .collect()
            )
            touched_keys = {
                (os.path.normpath(r["__pp"]) if r["__pp"] else ".",
                 f"b{r['__b']:04d}")
                for r in probe
            }
            if prev_version is not None:
                from .hudi import _latest_slices as _probe_slices

                touched_keys |= {
                    (p, g)
                    for (p, g) in _probe_slices(dest, None, None)
                    if g in cand_fids
                }
            hit = sorted(
                (p, fid, pi) for (p, fid), pi in cand.items()
                if (p, fid) in touched_keys
            )
            if hit:
                raise HudiProtocolError(
                    f"export_hudi: file group(s) "
                    f"{[(p, fid) for p, fid, _ in hit]} are under pending "
                    f"clustering plan {hit[0][2]} and "
                    "hoodie.clustering.updates.strategy is reject — "
                    "complete the plan (complete_clustering), cancel it "
                    "(rollback_hudi), or export with "
                    "clustering_updates='allow' (the completion will then "
                    "abort on the conflict)"
                )

    def _row_hash(df):
        # null-fill columns the frame lacks (a merge_schema append adds
        # columns; older export slices don't carry them — to_json omits
        # null fields, so a null-filled old row hashes equal to a new
        # row whose added column is null, and restamps otherwise)
        have = set(df.columns)
        parts = [
            (
                F.col(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in table.schema.fields
        ]
        return F.md5(F.to_json(F.struct(*parts)))

    cur = table.read().withColumn("__b", table._bucket_expr())
    if partition_by:
        from functools import reduce
        from operator import or_

        bad = cur.filter(
            reduce(or_, [F.col(c).isNull() for c in partition_by])
        ).limit(1)
        if bad.count():
            raise ValueError(
                f"export_hudi: NULL value in partition column(s) "
                f"{partition_by}; Hudi partition paths are strings — "
                "fill or drop NULL partition values before exporting"
            )

    # previous export's file slices, for per-row commit-time
    # carry-forward: each touched group reads ONLY its own previous
    # base file — never a scan of the whole prior export (at scale the
    # incremental cost is the touched buckets' rows, not the table)
    prev_slices = None
    prev_logs: dict = {}
    if prev_version is not None:
        from .hudi import _latest_slices

        if mor:
            prev_slices, prev_logs = _latest_slices(
                dest, None, None, collect_logs=True
            )
        else:
            prev_slices = _latest_slices(dest, None, None)

    if mor and prev_version is not None:
        # MERGE_ON_READ incremental publish: per touched group, ONE
        # appended log file holding the per-key diff — delta-sized
        # write amplification, never a bucket rewrite
        # MOR appends logs only to groups with a non-empty diff, so
        # the update-conflict rule gates on the ACTUAL diff targets
        # (computed inside, before any log write), not a bucket-wide
        # partition probe
        want = {f"b{b:04d}" for b in touched}
        prev_files = [
            p
            for (_pt, g), (_i, p) in prev_slices.items()
            if g in want
        ] + [
            entry[2]
            for (_pt, g), ls in prev_logs.items()
            if g in want
            for entry in ls
        ]
        est = _publish_bytes_est(table, touched, prev_files)
        with small_plan_session(cur, est_bytes=est) as (_s, (cur2,)):
            written = _export_mor_delta(
                table, dest, inst, sorted(touched), cur2, key_expr,
                _row_hash, prev_slices, prev_logs, pp_expr,
                reject_clustering_groups=cl_cand,
            )
        _publish_instant(
            hdir, f"{inst}.deltacommit", {"partitionToWriteStats": written}
        )
        _mdt_sync_files(dest, written, inst)
        with open(state_path, "w") as f:
            json.dump(
                {"table_version": version, "instant": inst,
                 "partition_by": partition_by, "table_type": table_type},
                f,
            )
        return inst

    # COW publish: ALL touched buckets in ONE staged Spark write
    # (repartitioned so each (fileId[, partition]) group lands in one
    # task and emits exactly one file), with the previous bases — when
    # carry-forward applies — read in ONE explicit-schema scan keyed
    # back to their fileId by basename. The per-bucket loop this replaces
    # scheduled one write job (plus one read+join) per bucket
    # sequentially; at N buckets that is O(N) driver round-trips for
    # work that is one pass over the touched rows (optimization guide
    # §1.2/§2.6 — measured 58 jobs -> ~30 on the s40 entry).
    written: dict[str, list[dict]] = {}
    tok = _write_token()
    touched_list = sorted(int(b) for b in touched)
    rows = cur.filter(F.col("__b").isin(touched_list)).withColumn(
        "__k", key_expr
    )
    rows = rows.withColumn("__h", _row_hash(rows)).withColumn(
        "__fid", F.format_string("b%04d", F.col("__b").cast("int"))
    )
    want_fids = {f"b{b:04d}" for b in touched_list}
    prev_paths: list[str] = []
    if prev_slices is not None:
        prev_paths = sorted(
            p for (_part, g), (_i, p) in prev_slices.items() if g in want_fids
        )
    if prev_paths:
        # basename -> fileId from the listing itself (no name parsing
        # beyond what the listing already resolved); schemas may
        # differ across slices after merge_schema appends — the read
        # schema is EXPLICIT (meta columns + the table's current
        # schema), so columns an old slice lacks read as null with no
        # footer-merging inference job, and _row_hash's null-fill
        # keeps the hash stable (to_json omits null fields either way)
        from pyspark.sql.types import StringType, StructField, StructType

        name_to_fid = sorted(
            {
                (os.path.basename(p), g)
                for (_part, g), (_i, p) in prev_slices.items()
                if g in want_fids
            }
        )
        ndf = F.broadcast(
            spark.createDataFrame(name_to_fid, "__fn string, __fid string")
        )
        read_schema = StructType(
            [
                StructField("_hoodie_commit_time", StringType()),
                StructField("_hoodie_record_key", StringType()),
            ]
            + list(table.schema.fields)
        )
        old = spark.read.schema(read_schema).parquet(*prev_paths)
        old = old.withColumn(
            "__fn", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        prev_ct = (
            old.join(ndf, "__fn")
            .select(
                F.col("__fid"),
                F.col("_hoodie_record_key").alias("__k"),
                F.col("_hoodie_commit_time").alias("__old_ct"),
                _row_hash(old).alias("__h"),
            )
            # one entry per (group, key, content): exact-duplicate
            # rows collapse, so the join can never fan out
            .groupBy("__fid", "__k", "__h")
            .agg(F.min("__old_ct").alias("__old_ct"))
        )
        rows = rows.join(prev_ct, ["__fid", "__k", "__h"], "left").withColumn(
            "__ct", F.coalesce(F.col("__old_ct"), F.lit(inst))
        )
    else:
        rows = rows.withColumn("__ct", F.lit(inst))
    out = rows.select(
        F.col("__ct").alias("_hoodie_commit_time"),
        F.concat_ws(
            "_", F.col("__ct"), F.col("__b").cast("string"),
            F.col("__k"),
        ).alias("_hoodie_commit_seqno"),
        F.col("__k").alias("_hoodie_record_key"),
        pp_expr.alias("_hoodie_partition_path"),
        F.concat(
            F.col("__fid"), F.lit(f"_{tok}_{inst}.parquet")
        ).alias("_hoodie_file_name"),
        *data_cols,
        F.col("__fid"),
    )
    # partitionBy strips the routing columns; the real partition
    # columns and _hoodie_partition_path stay in the data, where Hudi
    # readers resolve them
    if partition_by:
        staged = out.withColumn("__pp", F.col("_hoodie_partition_path"))
        part_cols = ["__fid", "__pp"]
    else:
        staged = out
        part_cols = ["__fid"]
    stage = os.path.join(dest, f".stage-{inst}")
    est = _publish_bytes_est(table, touched_list, prev_paths)
    with small_plan_session(staged, est_bytes=est) as (_s, (staged2,)):
        (
            staged2.repartition(max(len(touched_list), 1), *part_cols)
            .write.partitionBy(*part_cols)
            .parquet(stage, mode="overwrite")
        )
    from urllib.parse import unquote

    placed: dict[str, list[str]] = {}  # fid -> hive-order placed rels
    for fdir in sorted(glob.glob(os.path.join(stage, "__fid=*"))):
        fid = unquote(os.path.basename(fdir)[len("__fid="):])
        fname = f"{fid}_{tok}_{inst}.parquet"
        if partition_by:
            for d in sorted(glob.glob(os.path.join(fdir, "__pp=*"))):
                rel = unquote(os.path.basename(d)[len("__pp="):])
                part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
                pdir = os.path.join(dest, rel)
                os.makedirs(pdir, exist_ok=True)
                shutil.move(part, os.path.join(pdir, fname))
                placed.setdefault(fid, []).append(rel)
        else:
            part = glob.glob(os.path.join(fdir, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(dest, fname))
            placed.setdefault(fid, [])
    # empty slices, written once and copied: (a) an unpartitioned
    # touched bucket with zero surviving rows still rewrites (group
    # identity is (partition, fileId) — without the rewrite the stale
    # slice would keep serving the deleted rows); (b) a partition a
    # bucket previously had rows in but no longer does gets a new
    # empty slice for the same reason
    need_empty: list[tuple[str, str]] = []  # (fid, rel-or-"")
    for b in touched_list:
        fid = f"b{b:04d}"
        if not partition_by:
            if fid not in placed:
                need_empty.append((fid, ""))
        elif prev_slices is not None:
            got = {os.path.normpath(r) for r in placed.get(fid, [])}
            need_empty.extend(
                (fid, p)
                for p in sorted(
                    p
                    for (p, g) in prev_slices
                    if g == fid and p not in got and p != "."
                )
            )
    empty_src = None
    if need_empty:
        stage2 = os.path.join(dest, f".stage-{inst}-empty")
        out.drop("__fid").limit(0).coalesce(1).write.parquet(
            stage2, mode="overwrite"
        )
        empty_src = glob.glob(os.path.join(stage2, "part-*.parquet"))[0]
    empties: dict[str, list[str]] = {}
    for fid, rel in need_empty:
        fname = f"{fid}_{tok}_{inst}.parquet"
        pdir = dest if not rel else os.path.join(dest, rel)
        os.makedirs(pdir, exist_ok=True)
        shutil.copy(empty_src, os.path.join(pdir, fname))
        empties.setdefault(fid, []).append(rel)
    if empty_src is not None:
        shutil.rmtree(os.path.dirname(empty_src))
    shutil.rmtree(stage)
    # commit-marker stats in the same bucket-major order the
    # per-bucket writer produced (placed partitions, then empties)
    for b in touched_list:
        fid = f"b{b:04d}"
        fname = f"{fid}_{tok}_{inst}.parquet"
        if fid in placed and not partition_by:
            written.setdefault("", []).append({"fileId": fid, "path": fname})
        else:
            for rel in placed.get(fid, []):
                written.setdefault(rel, []).append(
                    {"fileId": fid, "path": f"{rel}/{fname}"}
                )
        for rel in empties.get(fid, []):
            written.setdefault(rel, []).append(
                {"fileId": fid, "path": fname if not rel else f"{rel}/{fname}"}
            )

    # completed-instant marker with write stats (readers gate on the
    # file's presence; the stats body is the writer-shaped content).
    # MOR base-file writes commit as a deltacommit, like real MOR
    # writers' insert path; COW commits stay .commit
    suffix = "deltacommit" if mor else "commit"
    _publish_instant(
        hdir, f"{inst}.{suffix}", {"partitionToWriteStats": written}
    )
    _mdt_sync_files(dest, written, inst)
    with open(state_path, "w") as f:
        json.dump(
            {"table_version": version, "instant": inst,
             "partition_by": partition_by, "table_type": table_type}, f,
        )
    return inst


def _mdt_sync_files(
    dest: str, written: dict, inst: str,
    deleted: dict[str, list[str]] | None = None,
) -> None:
    """Keep the metadata table's ``files`` partition IN SYNC with a
    commit this module just wrote — the incremental append a real Hudi
    writer performs on every commit once the MDT exists: one AVRO log
    block holding ONLY the commit's new file entries (plus
    ``isDeleted`` records for files a CLEAN removed, via ``deleted=``
    ``{partition: [file names]}``), stamped with the commit instant,
    so ``_metadata_table_listing`` stays fresh at every commit and
    readers keep listing from KBs of metadata instead of falling back
    to the O(files) walk. No-op when the table has no metadata table
    (bootstrap once with :func:`~.hudi.write_metadata_table_files`);
    cost is O(files touched by THIS commit)."""
    from .hudi import (
        ALL_PARTITIONS_KEY,
        METADATA_RECORD_SCHEMA,
        _mdt_append_partition,
    )

    mdt = os.path.join(dest, HOODIE_DIR, "metadata")
    if not os.path.exists(
        os.path.join(mdt, HOODIE_DIR, "hoodie.properties")
    ) or not os.path.isdir(os.path.join(mdt, "files")):
        return
    per_part: dict[str, dict[str, dict]] = {}
    for part, stats in written.items():
        key = "." if part in ("", ".") else os.path.normpath(part)
        for st in stats:
            fname = os.path.basename(st["path"])
            per_part.setdefault(key, {})[fname] = {
                "size": os.path.getsize(os.path.join(dest, st["path"])),
                "isDeleted": False,
            }
    for part, names in (deleted or {}).items():
        key = "." if part in ("", ".") else os.path.normpath(part)
        for fname in names:
            per_part.setdefault(key, {})[fname] = {
                "size": 0,
                "isDeleted": True,
            }
    if not per_part:
        return
    records = [
        {
            "key": ALL_PARTITIONS_KEY,
            "type": 1,
            "filesystemMetadata": {
                p: {"size": 0, "isDeleted": False} for p in sorted(per_part)
            },
        }
    ] + [
        {"key": part, "type": 2, "filesystemMetadata": files}
        for part, files in sorted(per_part.items())
    ]
    _mdt_append_partition(
        dest, "files", "files-0000", METADATA_RECORD_SCHEMA, records, inst
    )
    _mdt_index_new_bases(dest, written, inst)


def _mdt_index_new_bases(dest: str, written: dict, inst: str) -> None:
    """Index the commit's NEW BASE FILES in the metadata table's
    ``column_stats`` / ``bloom_filters`` partitions — when those
    partitions exist (bootstrap via
    ``write_metadata_table_column_stats`` / ``_bloom_filters``): the
    incremental upkeep a real stats/bloom-indexing Hudi writer
    performs from its write statuses, here one footer read (+ one
    key-column read for the bloom) per file the commit wrote — so
    ``read_hudi(predicates=/record_keys=)`` keeps DATA-SKIPPING files
    written after the bootstrap. Log files are skipped (logged groups
    are never prunable — a committed block may add rows outside the
    base's bounds); files a CLEAN removed need no tombstone here
    (pruning looks stats up by current file name; stale entries are
    never consulted). Costs track the commit, never the table."""
    from .hudi import (
        BLOOM_FILTER_RECORD_SCHEMA,
        COLUMN_STATS_RECORD_SCHEMA,
        _bloom_record,
        _col_stats_records,
        _mdt_append_partition,
    )

    mdt = os.path.join(dest, HOODIE_DIR, "metadata")
    want_stats = os.path.isdir(os.path.join(mdt, "column_stats"))
    want_bloom = os.path.isdir(os.path.join(mdt, "bloom_filters"))
    if not want_stats and not want_bloom:
        return
    stat_recs: list[dict] = []
    bloom_recs: list[dict] = []
    for part, stats in written.items():
        rel = "." if part in ("", ".") else os.path.normpath(part)
        for st in stats:
            name = os.path.basename(st["path"])
            if not name.endswith(".parquet"):
                continue  # log file: logged groups are never prunable
            path = os.path.join(dest, st["path"])
            if want_stats:
                stat_recs.extend(_col_stats_records(rel, name, path, None))
            if want_bloom:
                rec = _bloom_record(rel, name, path, inst)
                if rec is not None:
                    bloom_recs.append(rec)
    if stat_recs:
        _mdt_append_partition(
            dest, "column_stats", "col-stats-0000",
            COLUMN_STATS_RECORD_SCHEMA, stat_recs, inst,
        )
    if bloom_recs:
        _mdt_append_partition(
            dest, "bloom_filters", "bloom-0000",
            BLOOM_FILTER_RECORD_SCHEMA, bloom_recs, inst,
        )


def _avro_log_schema(schema, what: str = "export_hudi MERGE_ON_READ") -> dict:
    """Avro record schema for MOR log upsert records: the five
    ``_hoodie_*`` meta strings + the table's data columns (primitive
    types only — the honest gate for log-append publishing). ``what``
    names the refusing operation in the gate's message."""
    import pyspark.sql.types as T

    m = [
        (T.LongType, "long"), (T.IntegerType, "int"),
        (T.DoubleType, "double"), (T.FloatType, "float"),
        (T.StringType, "string"), (T.BooleanType, "boolean"),
    ]
    fields = [
        {"name": n, "type": ["null", "string"]}
        for n in (
            "_hoodie_commit_time", "_hoodie_commit_seqno",
            "_hoodie_record_key", "_hoodie_partition_path",
            "_hoodie_file_name",
        )
    ]
    for f in schema.fields:
        for cls, at in m:
            if isinstance(f.dataType, cls):
                fields.append({"name": f.name, "type": ["null", at]})
                break
        else:
            raise ValueError(
                f"{what}: column {f.name!r} has type "
                f"{f.dataType.simpleString()}, which this log-append "
                "publisher does not encode (primitive columns only)"
            )
    return {"type": "record", "name": "rec", "fields": fields}


def _conv_avro_value(avro_types: dict, name: str, v):
    """Coerce one pandas cell to its declared avro union branch type
    (``None`` for NA; int/float/bool/str per the field's type) —
    shared by every log writer that encodes upsert records."""
    import pandas as pd

    if v is None or (not isinstance(v, (str, list, dict))
                     and pd.isna(v)):
        return None
    at = avro_types[name]
    if at in ("long", "int"):
        return int(v)
    if at in ("double", "float"):
        return float(v)
    if at == "boolean":
        return bool(v)
    return str(v)


def _log_write_stats(summary, dest: str) -> dict[str, list[dict]]:
    """``partitionToWriteStats`` entries for per-group LOG writes: one
    ``{fileId, path, upserts, deletes}`` per written log file, grouped
    by partition dir — the commit-marker shape ``rollback_hudi`` and
    ``_mdt_sync_files`` consume. Shared by the MOR export delta and
    ``delete_from_hudi`` so the two log writers' commit metadata can
    never diverge."""
    written: dict[str, list[dict]] = {}
    for r in summary:
        rel = os.path.relpath(r["path"], dest)
        fid = os.path.basename(r["path"]).lstrip(".").split("_")[0]
        written.setdefault(os.path.dirname(rel), []).append({
            "fileId": fid, "path": rel,
            "upserts": int(r["upserts"]) if "upserts" in r else 0,
            "deletes": int(r["deletes"]),
        })
    return written


def _group_log_path(
    dest: str, part: str, fid: str, inst: str, tok: str,
    prev_slices: dict, prev_logs: dict, pending: dict,
) -> str:
    """The log file THIS instant's append to group ``(part, fid)``
    must land in (Hudi's log-writer rule): a group under a PENDING
    COMPACTION routes to a chain attached to the REQUESTED instant
    (readers fold that chain onto the old base while the plan is
    pending, onto the compacted base after — no write blocks on the
    compactor); otherwise the group's current base-instant chain
    extends; a log-only group extends its own chain; a brand-new
    group starts a chain at this instant. ``part`` is the normalized
    partition dir (``"."`` for unpartitioned)."""
    from . import hudi_log as HL

    pi = pending.get((part, fid))
    if pi is not None:
        chain = [
            l for l in prev_logs.get((part, fid), []) if l[0] == pi
        ]
        if chain:
            _bi, ver, p = max(chain)
            return os.path.join(
                os.path.dirname(p), HL.log_file_name(fid, pi, ver + 1, tok)
            )
        if (part, fid) in prev_slices:
            d = os.path.dirname(prev_slices[(part, fid)][1])
        elif prev_logs.get((part, fid)):
            d = os.path.dirname(prev_logs[(part, fid)][0][2])
        else:
            d = dest if part == "." else os.path.join(dest, part)
        return os.path.join(d, HL.log_file_name(fid, pi, 1, tok))
    if (part, fid) in prev_slices:
        base_inst, base_path = prev_slices[(part, fid)]
        d = os.path.dirname(base_path)
        n_logs = len(
            glob.glob(os.path.join(d, f".{fid}_{base_inst}.log.*"))
        )
        return os.path.join(
            d, HL.log_file_name(fid, base_inst, n_logs + 1, tok)
        )
    lgs = prev_logs.get((part, fid))
    if lgs:
        bi, ver, p = max(lgs)
        return os.path.join(
            os.path.dirname(p), HL.log_file_name(fid, bi, ver + 1, tok)
        )
    d = dest if part == "." else os.path.join(dest, part)
    return os.path.join(d, HL.log_file_name(fid, inst, 1, tok))


def _export_mor_delta(
    table, dest: str, inst: str, buckets: list, cur, key_expr, row_hash,
    prev_slices: dict, prev_logs: dict, pp_expr,
    reject_clustering_groups: dict | None = None,
) -> dict:
    """The MOR incremental publish: each touched bucket's per-key diff
    against the PUBLISHED group state (read through the same
    ``_read_mor`` fold every reader uses, restricted to the touched
    groups) becomes ONE appended log file per (partition, fileId)
    group — an AVRO upsert block for new/changed keys and a DELETE
    block for gone keys. A key whose partition path CHANGED emits
    both: a tombstone in its old group's log and an upsert in the new
    one (the merge window keys on ``(_hoodie_record_key,
    _hoodie_partition_path)``, so each group resolves locally — the
    same pair of records a real global-index writer produces). A
    group with no published base file (first rows in a new partition)
    starts as a LOG-ONLY file group. The diff is a full-outer join on
    the record key over only the touched groups' rows; log files are
    written ON EXECUTORS, one applyInPandas task per group (groups
    write distinct files, so tasks never contend). Returns the commit
    marker's ``partitionToWriteStats``."""
    from pyspark.sql import functions as F

    from . import hudi_log as HL
    from .hudi import _read_mor

    # run on CUR's session: the caller hands cur through the byte-gated
    # small-plan clone, so the whole diff/append computation inherits
    # its AQE posture (off + pinned when provably small)
    spark = cur.sparkSession
    want_fids = {f"b{b:04d}" for b in buckets}
    only = {
        k for k in set(prev_slices) | set(prev_logs) if k[1] in want_fids
    }
    data_cols = [f.name for f in table.schema.fields]
    avro_schema = _avro_log_schema(table.schema)
    avro_types = {
        f["name"]: f["type"][1] for f in avro_schema["fields"]
    }
    old_schema = (
        "__k string, __ppo string, __ho string, __bo int, __o boolean"
    )
    if only:
        old_raw = _read_mor(spark, dest, None, True, None, only_groups=only)
        old = old_raw.select(
            F.col("_hoodie_record_key").alias("__k"),
            F.col("_hoodie_partition_path").alias("__ppo"),
            row_hash(old_raw).alias("__ho"),
            table._bucket_expr().cast("int").alias("__bo"),
            F.lit(True).alias("__o"),
        )
    else:
        # touched buckets had no published groups (they were empty at
        # every prior export — a partitioned layout writes no file for
        # a bucket with zero rows in a partition): the old state is
        # simply empty, every new row is an insert
        old = spark.createDataFrame([], old_schema)
    new = cur.filter(F.col("__b").isin([int(b) for b in buckets])).withColumn(
        "__k", key_expr
    )
    new = (
        new.withColumn("__hn", row_hash(new))
        .withColumn("__ppn", pp_expr)
        .withColumn("__n", F.lit(True))
    )
    j = old.join(new, "__k", "full_outer")
    ups = j.filter(
        F.col("__n").isNotNull()
        & (F.col("__ho").isNull() | (F.col("__ho") != F.col("__hn")))
    ).select(
        F.lit("u").alias("__op"),
        F.col("__k"),
        F.col("__b").cast("int").alias("__bk"),
        F.col("__ppn").alias("__pp"),
        *[F.col(c) for c in data_cols],
    )
    null_cols = [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in table.schema.fields
    ]
    dels_gone = j.filter(F.col("__n").isNull()).select(
        F.lit("d").alias("__op"),
        F.col("__k"),
        F.col("__bo").alias("__bk"),
        F.col("__ppo").alias("__pp"),
        *null_cols,
    )
    # a partition MOVE: the upsert above lands in the NEW group; the
    # OLD group needs a tombstone or its stale row would survive the
    # group-local merge
    dels_moved = j.filter(
        F.col("__n").isNotNull()
        & F.col("__o").isNotNull()
        & (F.col("__ppo") != F.col("__ppn"))
    ).select(
        F.lit("d").alias("__op"),
        F.col("__k"),
        F.col("__bo").alias("__bk"),
        F.col("__ppo").alias("__pp"),
        *null_cols,
    )
    changes = ups.unionByName(dels_gone).unionByName(dels_moved)
    changes.persist()
    try:
        targets = [
            (r["__pp"], int(r["__bk"]))
            for r in changes.select("__pp", "__bk").distinct().collect()
        ]
        if reject_clustering_groups:
            # update-conflict rule under REJECT, exact for MOR: only a
            # group actually RECEIVING a log append conflicts — group
            # identity is (partition, fileId), so a diff confined to
            # partition B never blocks a plan naming the same fid in A
            from .hudi import HudiProtocolError

            hit = sorted(
                (part, fid)
                for pp, bk in targets
                for part, fid in (
                    (os.path.normpath(pp) if pp else ".", f"b{bk:04d}"),
                )
                if (part, fid) in reject_clustering_groups
            )
            if hit:
                pi = reject_clustering_groups[hit[0]]
                raise HudiProtocolError(
                    f"export_hudi: file group(s) {hit} are under pending "
                    f"clustering plan {pi} and "
                    "hoodie.clustering.updates.strategy is reject — "
                    "complete the plan (complete_clustering), cancel it "
                    "(rollback_hudi), or export with "
                    "clustering_updates='allow' (the completion will then "
                    "abort on the conflict)"
                )
        # one log file per TARGET group, routed by the shared
        # log-writer rule (_group_log_path): pending-compaction chains,
        # current-slice chains, log-only chains, or a fresh chain
        from .hudi import _pending_compaction_groups

        pending = _pending_compaction_groups(dest)
        tok = _write_token()
        logpath: dict[tuple[str, int], str] = {}
        for pp, bk in sorted(targets):
            fid = f"b{bk:04d}"
            part = os.path.normpath(pp) if pp else "."
            logpath[(pp, bk)] = _group_log_path(
                dest, part, fid, inst, tok, prev_slices, prev_logs,
                pending,
            )
        lp_df = spark.createDataFrame(
            [(pp, bk, lp) for (pp, bk), lp in logpath.items()],
            "__pp string, __bk int, __lp string",
        )
        routed = changes.join(F.broadcast(lp_df), ["__pp", "__bk"])

        def write_group(pdf):
            import pandas as pd

            path = pdf["__lp"].iloc[0]
            pp = pdf["__pp"].iloc[0]
            fid = os.path.basename(path).lstrip(".").split("_")[0]
            os.makedirs(os.path.dirname(path), exist_ok=True)

            def conv(name, v):
                return _conv_avro_value(avro_types, name, v)

            ups_p = pdf[pdf["__op"] == "u"]
            if len(ups_p):
                recs = []
                for row in ups_p.to_dict("records"):
                    r = {
                        "_hoodie_commit_time": inst,
                        "_hoodie_commit_seqno": f"{inst}_{fid}",
                        "_hoodie_record_key": row["__k"],
                        "_hoodie_partition_path": pp,
                        "_hoodie_file_name": os.path.basename(path),
                    }
                    for c in data_cols:
                        r[c] = conv(c, row[c])
                    recs.append(r)
                HL.append_avro_block(path, inst, avro_schema, recs)
            dels_p = pdf[pdf["__op"] == "d"]
            if len(dels_p):
                HL.append_delete_block(
                    path,
                    inst,
                    [
                        {"recordKey": k, "partitionPath": pp,
                         "orderingVal": None}
                        for k in dels_p["__k"].tolist()
                    ],
                )
            return pd.DataFrame(
                {"path": [path], "upserts": [len(ups_p)],
                 "deletes": [len(dels_p)]}
            )

        summary = routed.groupBy("__lp").applyInPandas(
            write_group, "path string, upserts long, deletes long"
        ).collect()
    finally:
        changes.unpersist()
    return _log_write_stats(summary, dest)


def _plan_groups(plan: dict) -> set[tuple[str, str]]:
    """A compaction plan's (partition, fileId) group set, normalized
    exactly like ``hudi._pending_compaction_groups`` — scheduler,
    completer, and readers must agree on group identity."""
    out: set[tuple[str, str]] = set()
    for op in plan.get("operations", []):
        p = op.get("partitionPath") or ""
        out.add((os.path.normpath(p) if p else ".", str(op["fileId"])))
    return out


def _logged_groups(groups: dict, logs: dict) -> set[tuple[str, str]]:
    """(partition, fileId) groups whose CURRENT slice carries log
    files (chain attached to the base's instant) or that exist only as
    logs — the candidates every compaction (inline or scheduled)
    plans. Shared by :func:`schedule_compaction` / :func:`compact_hudi`."""
    return {
        k
        for k, b in groups.items()
        if [l for l in logs.get(k, []) if l[0] == b[0]]
    } | {k for k, ls in logs.items() if ls and k not in groups}


def schedule_compaction(dest: str) -> str | None:
    """SCHEDULE an async compaction — the requested half of Hudi's
    async-compaction protocol: allocate the next timeline instant and
    write a ``{instant}.compaction.requested`` COMPACTION PLAN naming
    every logged file group's base file and log chain AT SCHEDULE TIME
    (groups already under a pending plan are excluded — one plan owns a
    group). From this moment the timeline slot is taken: later
    deltacommits allocate PAST it, new log appends for a planned group
    attach to THIS instant (``_export_mor_delta``'s routing), readers
    keep folding the old base + old logs + the new chain
    (``hudi._pending_compaction_groups``), and :func:`compact_hudi`
    COMPLETES the plan at this instant. Returns the scheduled instant,
    or None when no group carries logs.

    Plan shape divergence (documented): real Hudi serializes
    HoodieCompactionPlan as avro inside the requested file; this
    exporter's timeline metadata is JSON throughout, and the reader
    (:func:`hudi._pending_compactions`) parses the same JSON shape —
    ``{"operations": [{"partitionPath", "fileId", "baseInstantTime",
    "baseFilePath", "deltaFilePaths"}], "version": 2}``.

    Driver-side metadata only — one slice listing, no Spark job."""
    from .hudi import (
        _INSTANT_RE,
        _latest_slices,
        _properties,
    )

    props = _properties(dest)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError(
            "schedule_compaction targets MERGE_ON_READ tables "
            "(COPY_ON_WRITE has no log files to compact)"
        )
    from .hudi import _pending_clustering_groups, _pending_compaction_groups

    # one plan owns a group: exclude groups under a pending compaction
    # OR a pending clustering (real Hudi never compacts a group a
    # pending replacecommit will retire)
    already = set(_pending_compaction_groups(dest)) | set(
        _pending_clustering_groups(dest)
    )
    groups, logs = _latest_slices(dest, None, None, collect_logs=True)
    logged = sorted(_logged_groups(groups, logs) - already)
    if not logged:
        return None
    hdir = os.path.join(dest, HOODIE_DIR)
    taken = [
        m.group(1)
        for m in (_INSTANT_RE.match(n) for n in os.listdir(hdir))
        if m
    ]
    inst = f"{int(max(taken)) + 1:014d}"
    ops = []
    for part, fid in logged:
        base = groups.get((part, fid))
        chain = sorted(logs.get((part, fid), []))
        if base is not None:
            chain = [l for l in chain if l[0] == base[0]]
        ops.append(
            {
                "partitionPath": "" if part == "." else part,
                "fileId": fid,
                "baseInstantTime": base[0] if base is not None else None,
                "baseFilePath": (
                    os.path.relpath(base[1], dest)
                    if base is not None else None
                ),
                "deltaFilePaths": [
                    os.path.relpath(p, dest) for _bi, _v, p in chain
                ],
            }
        )
    _publish_instant(
        hdir, f"{inst}.compaction.requested",
        {"operations": ops, "version": 2},
    )
    return inst


def compact_hudi(spark, dest: str) -> str | None:
    """COMPACT a MERGE_ON_READ table's LOGGED file groups — the
    maintenance action real Hudi schedules so read amplification stays
    bounded: each group whose current slice carries committed log
    blocks (or that exists only as logs) has its base+log FOLD — the
    same ``_read_mor`` merge every reader performs — rewritten as a
    NEW base file at the next instant, committed as a ``.commit``
    (Hudi's compaction action on a MOR timeline). The old slice's log
    files become STALE by the slice rules (logs attach to their
    ``base_instant``; the newest base wins) — no deletion needed, time
    travel still reads the old slice. Per-row ``_hoodie_commit_time``
    is PRESERVED by the fold, so incremental and streaming consumers
    see ZERO phantom changes from a compaction. Log-free groups are
    untouched; a table with no logged groups is a no-op (returns
    None, else the compaction instant).

    Scale shape: ONE timeline resolution and ONE Spark job for the
    whole plan — every logged group folds in the same ``_read_mor``
    call, rows route back to their group by a broadcast
    ``(partition path, file name) -> fileId`` map built from the
    already-listed slices (every surviving row's ``_hoodie_file_name``
    names its base or log file), and the staged write repartitions by
    group so each (partition, fileId) emits exactly one new base file.
    A group whose fold is EMPTY (every key tombstoned) still gets an
    empty base file — otherwise its stale logs would stay current and
    the next compaction would re-plan it forever.

    ASYNC MODE: when the timeline carries a pending
    ``{instant}.compaction.requested`` plan (:func:`schedule_
    compaction`), this call COMPLETES the earliest one instead of
    planning fresh — it marks the instant ``compaction.inflight``,
    folds exactly the PLANNED slices (the fold runs at
    ``as_of=instant``, so deltacommits that landed AFTER the schedule
    — whose log appends attach to this very instant — are NOT baked
    into the new base; they stay as the chain the new base now owns),
    writes the new base files AT the plan's instant, and lands the
    completing ``{instant}.commit``. All three state files remain on
    the active timeline, the spec's shape. A crashed completion
    (inflight but no commit) is simply re-runnable."""
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    from .hudi import (
        HudiProtocolError,
        _INSTANT_RE,
        _latest_slices,
        _pending_compactions,
        _properties,
        _read_mor,
    )

    props = _properties(dest)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError(
            "compact_hudi targets MERGE_ON_READ tables (COPY_ON_WRITE "
            "has no log files to compact)"
        )
    # byte-gate the whole op (delete_from_hudi's rule): the fold +
    # staged rewrite is fixed-shape and its inputs are the published
    # files, whose sizes the driver already knows
    spark = small_plan_spark(spark, est_bytes=_dest_bytes_est(dest))
    hdir = os.path.join(dest, HOODIE_DIR)
    pending = _pending_compactions(dest)
    if pending:
        # complete the EARLIEST pending plan at ITS instant: the plan
        # is the contract — the group set was fixed at schedule time
        inst = min(pending)
        as_of = inst
        logged = _plan_groups(pending[inst])
        # requested -> inflight transition marker (kept on the
        # timeline alongside requested + the completing commit)
        inflight = os.path.join(hdir, f"{inst}.compaction.inflight")
        if not os.path.exists(inflight):
            with open(inflight, "w"):
                pass
        groups, logs = _latest_slices(dest, as_of, None, collect_logs=True)
    else:
        as_of = None
        groups, logs = _latest_slices(dest, None, None, collect_logs=True)
        logged = _logged_groups(groups, logs)
        if not logged:
            return None
        taken = [
            m.group(1)
            for m in (_INSTANT_RE.match(n) for n in os.listdir(hdir))
            if m
        ]
        inst = f"{int(max(taken)) + 1:014d}"
    tok = _write_token()
    rows = _read_mor(spark, dest, as_of, True, None, only_groups=logged)
    have = set(rows.columns)
    if "_hoodie_file_name" not in have or "_hoodie_partition_path" not in have:
        # rows cannot be routed back to their group without the meta
        # columns; a single-group plan needs no routing
        if len(logged) > 1:
            raise HudiProtocolError(
                "compact_hudi: the table's files lack "
                "_hoodie_file_name/_hoodie_partition_path, so merged "
                "rows cannot be routed back to their file groups"
            )
        if "_hoodie_partition_path" not in have:
            rows = rows.withColumn("_hoodie_partition_path", F.lit(""))
        if "_hoodie_file_name" not in have:
            (part0, fid0) = next(iter(logged))
            b0 = groups.get((part0, fid0))
            name0 = (
                os.path.basename(b0[1])
                if b0 is not None
                else os.path.basename(logs[(part0, fid0)][0][2])
            )
            rows = rows.withColumn("_hoodie_file_name", F.lit(name0))
    # (partition path as rows carry it, file name) -> fileId, exact
    # from the listing — no filename re-parsing; "" and "." both map
    # (explicit writers stamp "", the decode fallback uses the dir)
    fmap: list[tuple[str, str, str]] = []
    for part, fid in sorted(logged):
        pps = ("", ".") if part in (".", "") else (part,)
        names = []
        b = groups.get((part, fid))
        if b is not None:
            names.append(os.path.basename(b[1]))
        names.extend(os.path.basename(p) for _bi, _v, p in logs.get((part, fid), []))
        for pp in pps:
            for n in names:
                fmap.append((pp, n, fid))
    fdf = F.broadcast(
        spark.createDataFrame(fmap, "__pp string, __fn string, __fid string")
    )
    joined = rows.join(
        fdf,
        (F.coalesce(rows["_hoodie_partition_path"], F.lit("")) == fdf["__pp"])
        & (rows["_hoodie_file_name"] == fdf["__fn"]),
        "left",
    )
    joined.persist()
    try:
        lost = joined.filter(F.col("__fid").isNull()).limit(1).collect()
        if lost:
            raise HudiProtocolError(
                "compact_hudi: a merged row's (_hoodie_partition_path, "
                "_hoodie_file_name) names no listed slice file "
                f"({lost[0]['_hoodie_partition_path']!r}, "
                f"{lost[0]['_hoodie_file_name']!r}); the meta columns "
                "are inconsistent with the timeline"
            )
        out = joined.withColumn(
            "_hoodie_file_name",
            F.concat(F.col("__fid"), F.lit(f"_{tok}_{inst}.parquet")),
        ).withColumn(
            # non-empty dir token: partitionBy maps "" to the hive
            # default-partition name, which would not round-trip
            "__pd", F.concat(F.lit("r"), F.col("__pp")),
        ).drop("__pp", "__fn")
        stage = os.path.join(dest, f".compact-{inst}")
        (
            out.repartition(max(len(logged), 1), "__pd", "__fid")
            .write.partitionBy("__pd", "__fid")
            .parquet(stage, mode="overwrite")
        )
    finally:
        joined.unpersist()
    written: dict[str, list[dict]] = {}
    emitted: set[tuple[str, str]] = set()
    for d in sorted(glob.glob(os.path.join(stage, "__pd=*", "__fid=*"))):
        pp = unquote(os.path.basename(os.path.dirname(d))[len("__pd=r"):])
        fid = unquote(os.path.basename(d)[len("__fid="):])
        part = os.path.normpath(pp) if pp else "."
        fname = f"{fid}_{tok}_{inst}.parquet"
        parts = glob.glob(os.path.join(d, "part-*.parquet"))
        pdir = dest if part == "." else os.path.join(dest, part)
        os.makedirs(pdir, exist_ok=True)
        shutil.move(parts[0], os.path.join(pdir, fname))
        rel = fname if part == "." else f"{part}/{fname}"
        written.setdefault("" if part == "." else part, []).append(
            {"fileId": fid, "path": rel}
        )
        emitted.add((part, fid))
    empty_groups = sorted(set(logged) - emitted)
    if empty_groups:
        # fully-tombstoned groups: materialize the empty fold as a
        # real base file so the stale logs stop applying
        stage2 = os.path.join(dest, f".compact-{inst}-empty")
        rows.limit(0).coalesce(1).write.parquet(stage2, mode="overwrite")
        src = glob.glob(os.path.join(stage2, "part-*.parquet"))[0]
        for part, fid in empty_groups:
            fname = f"{fid}_{tok}_{inst}.parquet"
            pdir = dest if part in (".", "") else os.path.join(dest, part)
            os.makedirs(pdir, exist_ok=True)
            shutil.copy(src, os.path.join(pdir, fname))
            rel = fname if part in (".", "") else f"{part}/{fname}"
            written.setdefault("" if part in (".", "") else part, []).append(
                {"fileId": fid, "path": rel}
            )
        shutil.rmtree(stage2)
    shutil.rmtree(stage)
    _publish_instant(
        hdir, f"{inst}.commit", {"partitionToWriteStats": written}
    )
    _mdt_sync_files(dest, written, inst)
    return inst


def rollback_hudi(dest: str, instant: str) -> dict:
    """ROLLBACK an UNCOMMITTED instant — Hudi's crash cleanup: a
    writer that died after staging files but before its completed
    marker leaves debris that is INVISIBLE to every reader (snapshot
    isolation gates on the marker) but occupies storage forever.
    Rollback reclaims it and records the action:

    * base files whose embedded instant is the target are deleted
      (they were never a completed slice);
    * log files whose blocks ALL carry the target instant are deleted
      whole; a file MIXING committed and target blocks instead gains
      an appended ROLLBACK COMMAND block targeting the instant (the
      spec's shape — block surgery is impossible in an append-only
      log; this reader's gating already hides uncommitted blocks, and
      a spec-following foreign reader honors the command);
    * any ``requested``/``inflight`` state files of the instant are
      removed (a scheduled-but-never-completed compaction cancels);
    * a completed ``{next}.rollback`` action lands on the timeline.

    Refuses a COMPLETED target (undoing committed data is
    :func:`restore_hudi`'s job, anchored on a savepoint). Returns
    ``{"instant": rollback instant, "deleted": [...], "commands":
    [...]}``. Driver-side: one tree walk + header-only log scans."""
    from . import hudi_log as HL
    from .hudi import (
        _BASEFILE_RE,
        _INSTANT_RE,
        _LOGFILE_RE,
        HudiProtocolError,
        _completed_commits,
        _properties,
    )

    _properties(dest)
    instant = str(instant)
    hdir = os.path.join(dest, HOODIE_DIR)
    if instant in _completed_commits(dest, allow_delta=True):
        raise HudiProtocolError(
            f"rollback target {instant} is a COMPLETED instant; undoing "
            "committed data is restore_hudi's job (savepoint-anchored), "
            "not rollback's"
        )
    deleted: list[str] = []
    commands: list[str] = []
    for dirpath, dirs, files in os.walk(dest):
        if os.path.basename(dirpath) == HOODIE_DIR:
            dirs[:] = []
            continue
        for name in files:
            m = _BASEFILE_RE.match(name)
            if m and m.group(3) == instant:
                os.remove(os.path.join(dirpath, name))
                deleted.append(
                    os.path.relpath(os.path.join(dirpath, name), dest)
                )
                continue
            lm = _LOGFILE_RE.match(name)
            if not lm:
                continue
            lp = os.path.join(dirpath, name)
            headers = HL.scan_block_headers(lp)
            insts = {h["instant"] for h in headers}
            if instant not in insts:
                continue
            already_rolled = any(
                h["type"] == HL.COMMAND_BLOCK
                and h["header"].get(HL.H_TARGET_INSTANT_TIME) == instant
                for h in headers
            )
            if insts == {instant}:
                os.remove(lp)
                deleted.append(os.path.relpath(lp, dest))
            elif not already_rolled:  # idempotent re-run appends nothing
                HL.append_command_block(lp, instant, instant)
                commands.append(os.path.relpath(lp, dest))
    for name in list(os.listdir(hdir)):
        m = _INSTANT_RE.match(name)
        if m and m.group(1) == instant:
            os.remove(os.path.join(hdir, name))  # requested/inflight
    taken = [
        m.group(1)
        for m in (_INSTANT_RE.match(n) for n in os.listdir(hdir))
        if m
    ]
    rb_inst = f"{int(max(taken)) + 1:014d}" if taken else "00000000000001"
    _publish_instant(
        hdir, f"{rb_inst}.rollback",
        {"rollbackInstant": instant, "deleted": sorted(deleted),
         "commands": sorted(commands)},
    )
    return {
        "instant": rb_inst,
        "deleted": sorted(deleted),
        "commands": sorted(commands),
    }


def savepoint_hudi(dest: str, instant: str) -> str:
    """SAVEPOINT a completed instant — Hudi's pin against retention: a
    ``{instant}.savepoint`` marker on the timeline, after which
    :func:`clean_hudi` never collects the file slices needed to serve
    that instant (per group, its newest completed base at or before
    the savepoint plus the attached log chain), however far the
    retention horizon moves past it. The savepoint is also the anchor
    :func:`restore_hudi` rolls back to. Raises when the instant is not
    a completed commit on the active timeline. Driver-side metadata
    only."""
    from .hudi import HudiProtocolError, _completed_commits

    instant = str(instant)
    done = _completed_commits(dest, allow_delta=True)
    if not set.__contains__(done, instant):  # active-timeline members only
        raise HudiProtocolError(
            f"savepoint target {instant} is not a completed instant on "
            "the ACTIVE timeline (pending, archived, or unknown)"
        )
    hdir = os.path.join(dest, HOODIE_DIR)
    name = f"{instant}.savepoint"
    if os.path.exists(os.path.join(hdir, name)):
        return instant
    import time as _time

    _publish_instant(
        hdir, name, {"savepointedAt": int(_time.time() * 1000)}
    )
    return instant


def _savepointed_instants(hdir: str) -> list[str]:
    from .hudi import _INSTANT_RE

    return sorted(
        m.group(1)
        for m in (_INSTANT_RE.match(n) for n in os.listdir(hdir))
        if m and m.group(2) == "savepoint"
    )


def restore_hudi(dest: str, instant: str) -> list[str]:
    """RESTORE the table to a SAVEPOINTED instant — Hudi's restore is
    DESTRUCTIVE (unlike Delta's RESTORE commit): every timeline action
    AFTER the savepoint is deleted together with the data/log files it
    wrote (resolved from the commit metadata's
    ``partitionToWriteStats`` — never a directory diff), so the table
    IS the savepointed state afterwards; there is no history above it
    to travel to. Requires the target to be savepointed (the guarantee
    that cleaning never collected the files the restored state needs)
    and refuses when instants after the target were ARCHIVED (they can
    no longer be removed from the active timeline — the same boundary
    real restores respect). Any pending compaction scheduled after the
    target is cancelled with its states. A metadata table, if present,
    is DROPPED (its listing would keep serving the rolled-back files;
    readers fall back to the storage walk, and the next commit may
    rebuild it). The exporter's private state file is reset, so the
    next ``export_hudi`` re-publishes the full snapshot against the
    restored state. Returns the deleted file paths (relative).
    Driver-side metadata + unlinks only."""
    import shutil as _shutil

    from .hudi import HudiProtocolError, _archive_boundary

    instant = str(instant)
    hdir = os.path.join(dest, HOODIE_DIR)
    if not os.path.exists(os.path.join(hdir, f"{instant}.savepoint")):
        raise HudiProtocolError(
            f"restore target {instant} is not savepointed; only a "
            "savepoint guarantees the cleaner kept the slices the "
            "restored state needs"
        )
    la, _ch = _archive_boundary(dest)
    if la is not None and instant < la:
        raise HudiProtocolError(
            f"restore target {instant} predates the archived-timeline "
            f"boundary {la}: instants after it were archived and can "
            "no longer be removed from the active timeline"
        )
    from .hudi import _INSTANT_RE

    deleted: list[str] = []
    doomed_actions: list[str] = []
    doomed_clean_horizon: str | None = None
    for name in sorted(os.listdir(hdir)):
        m = _INSTANT_RE.match(name)
        if not m or m.group(1) <= instant:
            continue
        doomed_actions.append(name)
        path = os.path.join(hdir, name)
        body = None
        try:
            with open(path) as f:
                body = json.load(f)
        except (OSError, ValueError):
            body = None
        if m.group(2) == "clean":
            # A clean ABOVE the savepoint physically removed slices the
            # restore cannot resurrect — its earliestCommitToRetain gate
            # must survive the restore (folded back below), or
            # as_of reads before the horizon silently serve a snapshot
            # missing the cleaned slices instead of raising.
            e0 = (body or {}).get("earliestCommitToRetain")
            if e0 and (doomed_clean_horizon is None
                       or str(e0) > doomed_clean_horizon):
                doomed_clean_horizon = str(e0)
        for stats in (body or {}).get("partitionToWriteStats", {}).values():
            for st in stats:
                rel = st.get("path")
                if not rel:
                    continue
                abs_p = os.path.join(dest, rel)
                if os.path.exists(abs_p):
                    os.remove(abs_p)
                    deleted.append(rel)
    # log files APPENDED after the target by mid-pending-compaction
    # routing carry no own commit marker body — their deltacommit's
    # write stats named them, which the loop above already resolved;
    # nothing else writes data without a marker. Remove the rolled-back
    # timeline actions LAST (a crash mid-restore leaves extra markers
    # whose files are gone — re-running the restore converges).
    for name in doomed_actions:
        os.remove(os.path.join(hdir, name))
    if doomed_clean_horizon is not None:
        from .hudi import _clean_horizon

        surviving = _clean_horizon(dest)
        if surviving is None or doomed_clean_horizon > surviving:
            # Re-emit the gate AT the savepoint instant (the marker's
            # own instant must sort <= the target so a later restore to
            # the same savepoint keeps it). Merge with a same-named
            # clean if one exists (e.g. a prior restore's marker).
            marker = os.path.join(hdir, f"{instant}.clean")
            mbody: dict = {}
            if os.path.exists(marker):
                try:
                    with open(marker) as f:
                        mbody = json.load(f)
                except (OSError, ValueError):
                    mbody = {}
            prev = str(mbody.get("earliestCommitToRetain") or "")
            mbody["earliestCommitToRetain"] = max(
                doomed_clean_horizon, prev
            )
            mbody.setdefault("restoredFrom", []).append(
                {"restoreTarget": instant,
                 "foldedHorizon": doomed_clean_horizon}
            )
            with open(marker, "w") as f:
                json.dump(mbody, f)
    mdt = os.path.join(hdir, "metadata")
    if os.path.isdir(mdt):
        _shutil.rmtree(mdt)
    state = os.path.join(hdir, _STATE_FILE)
    if os.path.exists(state):
        os.remove(state)
    return sorted(deleted)


def archive_hudi_timeline(dest: str, keep_instants: int = 10) -> list[str]:
    """ARCHIVE the active timeline — Hudi's bound on timeline size: a
    long-lived table accrues one instant file per commit forever, and
    every reader lists the whole ``.hoodie`` dir, so real deployments
    move completed instants below a retention count into the ARCHIVED
    timeline (``.hoodie/archived/``). This is that service: every
    timeline file whose instant sorts below BOTH the ``keep_instants``-th
    newest completed instant AND the earliest pending instant moves
    into an append-only archive batch file, and a BOUNDARY record
    (``.hoodie/archived/.boundary.json``) keeps two facts readers need
    in O(1):

    * ``lastArchivedInstant`` — readers treat any instant at or below
      it as COMMITTED (:class:`~.hudi._CommittedSet`): Hudi's readers
      never load the archived timeline for data reads; an instant older
      than everything active is committed by construction (only
      completed instants archive, never past a pending one). Snapshot,
      time travel, and incremental reads over archived history stay
      EXACT — per-row commit times and base-file instants are data, not
      timeline.
    * ``cleanHorizon`` — the max ``earliestCommitToRetain`` across
      archived CLEAN actions, folded into :func:`~.hudi._clean_horizon`
      so archiving a clean never silently un-gates the time-travel /
      CDC windows it constrained.

    Per-commit windows that must ENUMERATE instants (CDC) refuse below
    the boundary — archived commits cannot be listed (the honest gate,
    asserted by readers). Shape divergence (documented): real Hudi
    archives HoodieLogFormat avro under ``.hoodie/archived/``; this
    exporter's timeline metadata is JSON throughout, so the archive
    batches are JSONL (``{seq}.archive.jsonl`` with one
    ``{"instant", "action", "body"}`` record per moved file).

    Returns the archived instants (empty when nothing qualifies).
    Driver-side metadata only; crash-safe (archive batch + boundary
    land before any active file is removed; a re-run after a crash
    re-archives idempotently)."""
    from .hudi import (
        _INSTANT_RE,
        _archive_boundary,
        _pending_compactions,
        _properties,
    )

    if keep_instants < 1:
        raise ValueError("keep_instants must be >= 1")
    _properties(dest)
    hdir = os.path.join(dest, HOODIE_DIR)
    files: list[tuple[str, str, str]] = []  # (instant, action, path)
    completed: list[str] = []
    for name in sorted(os.listdir(hdir)):
        m = _INSTANT_RE.match(name)
        if not m:
            continue
        instant, action = m.group(1), m.group(2)
        files.append((instant, action, os.path.join(hdir, name)))
        if action in ("commit", "deltacommit", "replacecommit"):
            completed.append(instant)
    completed.sort()
    if len(completed) <= keep_instants:
        return []
    bound = completed[-keep_instants]
    pend = _pending_compactions(dest)
    if pend:
        bound = min(bound, min(pend))
    from .hudi import _pending_clusterings

    pend_cl = _pending_clusterings(dest)
    if pend_cl:
        bound = min(bound, min(pend_cl))
    sps = _savepointed_instants(hdir)
    if sps:
        # savepointed commits never archive (they anchor clean
        # protection and restore); the timeline stays active from the
        # earliest savepoint on, the official archiver's stop rule
        bound = min(bound, min(sps))
    doomed = [(i, a, p) for i, a, p in files if i < bound]
    if not doomed:
        return []
    adir = os.path.join(hdir, "archived")
    os.makedirs(adir, exist_ok=True)
    records = []
    clean_h: str | None = None
    for instant, action, path in doomed:
        try:
            with open(path) as f:
                raw = f.read()
        except OSError:
            raw = ""
        try:
            body = json.loads(raw) if raw.strip() else None
        except ValueError:
            body = raw
        if action == "clean" and isinstance(body, dict):
            e0 = body.get("earliestCommitToRetain")
            if e0 and (clean_h is None or str(e0) > clean_h):
                clean_h = str(e0)
        records.append(
            {"instant": instant, "action": action, "body": body}
        )
    seq = len(
        [n for n in os.listdir(adir) if n.endswith(".archive.jsonl")]
    )
    batch = os.path.join(adir, f"{seq:010d}.archive.jsonl")
    tmp = batch + ".tmp"
    with open(tmp, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    os.replace(tmp, batch)
    prev_la, prev_ch = _archive_boundary(dest)
    new_la = max(i for i, _a, _p in doomed)
    boundary = {
        "lastArchivedInstant": max(new_la, prev_la or ""),
        "cleanHorizon": max(
            (h for h in (clean_h, prev_ch) if h is not None), default=None
        ),
    }
    tmp = os.path.join(adir, ".boundary.json.tmp")
    with open(tmp, "w") as f:
        json.dump(boundary, f)
    os.replace(tmp, os.path.join(adir, ".boundary.json"))
    for _i, _a, path in doomed:
        os.remove(path)
    return sorted({i for i, _a, _p in doomed})


def clean_hudi(dest: str, retain_commits: int = 10) -> str | None:
    """CLEAN superseded file slices — Hudi's ``KEEP_LATEST_COMMITS``
    retention policy, the maintenance that stops a long-lived table's
    storage growing one superseded slice per rewrite forever: with
    ``retain_commits=N``, time travel back to the N-th newest
    completed commit (the HORIZON) stays servable, and every file
    group's slices SUPERSEDED before the horizon — base files older
    than the group's newest base at-or-before it, plus their attached
    log files — are physically deleted. A completed ``.clean`` action
    recording ``earliestCommitToRetain`` lands on the timeline;
    readers gate honestly on it (``as_of`` / CDC ``begin`` before the
    horizon raise instead of silently returning newer data). When a
    metadata table exists, the clean appends ``isDeleted`` records so
    the listing stops serving the removed names. Returns the clean
    instant, or None when nothing qualified (fewer than N commits, or
    no superseded slices below the horizon).

    Driver-only and metadata-scale: one tree walk to inventory slices
    (the same cost a single uncached read pays), deletions tracked per
    group — the data files themselves are never opened. Replaced
    groups (clustering/insert_overwrite retirees) are NOT cleaned here
    — their retirement is replay metadata, not slice supersession
    (documented divergence; real Hudi's cleaner handles them via the
    replacecommit plan)."""
    from .hudi import (
        _BASEFILE_RE,
        _LOGFILE_RE,
        _clean_horizon,
        _completed_commits,
        _pending_compaction_groups,
        _properties,
    )

    if retain_commits < 1:
        raise ValueError("retain_commits must be >= 1")
    mor = _properties(dest).get("hoodie.table.type") == "MERGE_ON_READ"
    # file groups under a PENDING compaction OR CLUSTERING plan are
    # untouchable (real Hudi's cleaner skips them): the plan names the
    # exact slices it will fold/rewrite, and cleaning any would break
    # the completion
    from .hudi import _pending_clustering_groups, _pending_clusterings

    pend = set(_pending_compaction_groups(dest)) | set(
        _pending_clustering_groups(dest)
    )
    #: SAVEPOINTED instants pin the slices serving them forever: per
    #: group, the newest completed base at or before each savepoint
    #: (plus its log chain) survives whatever the horizon says
    sps = _savepointed_instants(os.path.join(dest, HOODIE_DIR))
    # membership stays BOUNDARY-AWARE (archived instants count as
    # completed — a superseded slice whose commit was archived must
    # still be collectable); the sorted view is active-only, which is
    # what the horizon arithmetic wants
    done_set = _completed_commits(dest, allow_delta=mor)
    done = sorted(done_set)
    if len(done) <= retain_commits:
        return None
    horizon = done[-retain_commits]
    # the horizon never crosses a PENDING compaction instant: the
    # completion folds at as_of=plan-instant, and a recorded
    # earliestCommitToRetain past it would gate that fold forever
    # (real Hudi caps the cleaner at the earliest inflight compaction)
    from .hudi import _pending_compactions

    pending_insts = _pending_compactions(dest)
    if pending_insts:
        horizon = min(horizon, min(pending_insts))
    pending_cl = _pending_clusterings(dest)
    if pending_cl:
        horizon = min(horizon, min(pending_cl))
    bases: dict[tuple[str, str], list[tuple[str, str]]] = {}
    logsf: dict[tuple[str, str, str], list[str]] = {}
    for dirpath, dirs, files in os.walk(dest):
        if os.path.basename(dirpath) == HOODIE_DIR:
            dirs[:] = []
            continue
        rel = os.path.normpath(os.path.relpath(dirpath, dest))
        for name in files:
            lm = _LOGFILE_RE.match(name)
            if lm:
                fid, base_instant, _v, _tok = lm.groups()
                logsf.setdefault((rel, fid, base_instant), []).append(
                    os.path.join(dirpath, name)
                )
                continue
            m = _BASEFILE_RE.match(name)
            if m:
                fid, _tok, instant = m.groups()
                bases.setdefault((rel, fid), []).append(
                    (instant, os.path.join(dirpath, name))
                )
    deleted: dict[str, list[str]] = {}
    n_removed = 0
    keep_min_of: dict[tuple[str, str], str] = {}
    savepointed_of: dict[tuple[str, str], set[str]] = {}
    for (rel, fid), blist in bases.items():
        if (rel, fid) in pend:
            continue
        keep_min = max(
            (i for i, _p in blist if i in done_set and i <= horizon),
            default=None,
        )
        if keep_min is None:
            continue  # group born after the horizon: nothing below it
        keep_min_of[(rel, fid)] = keep_min
        protected = {
            kept
            for sp in sps
            if (
                kept := max(
                    (i for i, _p in blist if i in done_set and i <= sp),
                    default=None,
                )
            )
            is not None
        }
        savepointed_of[(rel, fid)] = protected
        for i, p in sorted(blist):
            # only COMPLETED superseded slices: a pending writer's file
            # is not a slice, and the newest completed base <= horizon
            # must survive to serve as_of == horizon; savepointed
            # slices survive regardless
            if i >= keep_min or i not in done_set or i in protected:
                continue
            os.remove(p)
            deleted.setdefault(rel, []).append(os.path.basename(p))
            n_removed += 1
    # log chains below the group's kept base are superseded whatever
    # they attach to — a base the loop above deleted, OR no base at
    # all (a LOG-ONLY slice later compacted away): a newer completed
    # base exists at keep_min, so the chain can never serve again
    for (rel, fid, bi), paths in logsf.items():
        if (rel, fid) in pend:
            continue
        if bi in savepointed_of.get((rel, fid), ()):
            continue  # the savepointed slice's chain serves it
        keep_min = keep_min_of.get((rel, fid))
        if keep_min is None or bi >= keep_min:
            continue
        for v in paths:
            os.remove(v)
            deleted.setdefault(rel, []).append(os.path.basename(v))
            n_removed += 1
    if n_removed == 0:
        return None
    from .hudi import _INSTANT_RE

    hdir = os.path.join(dest, HOODIE_DIR)
    taken = [
        m.group(1)
        for m in (_INSTANT_RE.match(n) for n in os.listdir(hdir))
        if m
    ]
    inst = f"{int(max(taken)) + 1:014d}"
    prev_h = _clean_horizon(dest)
    body = {
        "earliestCommitToRetain": max(horizon, prev_h or ""),
        "deleted": n_removed,
    }
    _publish_instant(hdir, f"{inst}.clean", body)
    _mdt_sync_files(dest, {}, inst, deleted=deleted)
    return inst


def cluster_hudi(
    spark, dest: str, sort_by: list[str] | None = None,
    target_file_groups: int = 1, zorder_by: list[str] | None = None,
    bits: int = 12,
) -> str | None:
    """CLUSTER a Hudi table — the table service real Hudi schedules to
    fix data layout (its SORT strategy): per partition, every current
    file group's rows are SORTED by ``sort_by`` and rewritten as
    ``target_file_groups`` RANGE-DISJOINT new file groups under a
    completed ``replacecommit`` whose ``partitionToReplaceFileIds``
    retires the old groups (the exact metadata the read path already
    replays; time travel before the instant still sees them). Per-row
    ``_hoodie_commit_time`` is PRESERVED, so incremental/streaming
    consumers see ZERO phantom rows — clustering changes layout, never
    content. Because each new group covers a CONTIGUOUS sort-key
    range, column-stats pruning over the clustered key turns a range
    predicate from a full-partition scan into opening the covering
    group(s) — the point of clustering at 100 TB; with a metadata
    table present the new groups' file/stats/bloom entries append
    incrementally like every other commit here.

    Plan shape: one ``repartitionByRange(target_file_groups)`` +
    in-partition sort per table partition — the same shuffle a real
    SORT-strategy clustering job runs; new fileIds derive from the
    range-partition id IN-PLAN, so ``_hoodie_file_name`` is correct
    inside every rewritten file (compaction's row-routing depends on
    it). MOR groups fold base+logs through ``_read_mor`` first —
    clustering subsumes compaction for the groups it touches. Returns
    the replacecommit instant (None on a group-less table).

    ``zorder_by`` is the Z-ORDER strategy (real Hudi's
    ``spatial curve`` layout optimization): rows cluster along the
    Morton curve over the listed columns (:func:`~.io.zorder_value` —
    the same expression behind the Delta and SnapshotTable z-orders),
    so column-stats pruning becomes selective on EVERY listed column
    at once instead of only the leading sort key."""
    from pyspark.sql import functions as F

    from .hudi import (
        _INSTANT_RE,
        HudiProtocolError,
        _latest_slices,
        _pending_compactions,
        _properties,
        _read_mor,
    )

    from .hudi import _pending_clusterings

    if bool(sort_by) == bool(zorder_by):
        raise ValueError(
            "cluster_hudi needs exactly one of sort_by / zorder_by"
        )
    if target_file_groups < 1:
        raise ValueError("target_file_groups must be >= 1")
    _properties(dest)
    if _pending_compactions(dest):
        # clustering retires file groups wholesale; retiring one a
        # pending compaction plan names would orphan the plan (real
        # Hudi refuses to cluster groups under pending compaction)
        raise HudiProtocolError(
            "cluster_hudi: the timeline carries a pending compaction "
            "plan; complete it (compact_hudi) before clustering"
        )
    if _pending_clusterings(dest):
        raise HudiProtocolError(
            "cluster_hudi: the timeline carries a pending clustering "
            "plan; complete it (complete_clustering) or cancel it "
            "(rollback_hudi) before clustering inline"
        )
    groups, _logs = _latest_slices(dest, None, None, collect_logs=True)
    if not groups:
        return None
    hdir = os.path.join(dest, HOODIE_DIR)
    taken = [
        m.group(1)
        for m in (_INSTANT_RE.match(n) for n in os.listdir(hdir))
        if m
    ]
    inst = f"{int(max(taken)) + 1:014d}"
    written, p2f = _cluster_groups(
        spark, dest, inst, set(groups), sort_by, zorder_by,
        target_file_groups, bits,
    )
    _publish_instant(
        hdir, f"{inst}.replacecommit",
        {"partitionToWriteStats": written,
         "partitionToReplaceFileIds": p2f},
    )
    _mdt_sync_files(dest, written, inst)
    return inst


def _cluster_groups(
    spark, dest: str, inst: str, keys: set,
    sort_by: list[str] | None, zorder_by: list[str] | None,
    target_file_groups: int, bits: int,
) -> tuple[dict, dict]:
    """The clustering REWRITE shared by the inline path
    (:func:`cluster_hudi`) and the async completion
    (:func:`complete_clustering`): per partition, fold the given file
    groups (MOR base+logs through ``_read_mor``), range-partition +
    sort (or Z-order) into ``target_file_groups`` new groups stamped
    AT ``inst``, and stage-move the files into place. Returns
    ``(partitionToWriteStats, partitionToReplaceFileIds)`` for the
    caller's replacecommit."""
    from pyspark.sql import functions as F

    from .hudi import _read_mor

    # byte-gate the rewrite (delete_from_hudi's rule); one gate here
    # covers both the inline path and the async completion
    spark = small_plan_spark(spark, est_bytes=_dest_bytes_est(dest))
    tok = _write_token()
    parts: dict[str, set] = {}
    for part, fid in keys:
        parts.setdefault(part, set()).add((part, fid))
    written: dict[str, list[dict]] = {}
    p2f: dict[str, list[str]] = {}
    for part in sorted(parts):
        pkeys = parts[part]
        rows = _read_mor(spark, dest, None, True, None, only_groups=pkeys)
        cols = list(sort_by or zorder_by)
        missing = [c for c in cols if c not in rows.columns]
        if missing:
            raise ValueError(
                f"clustering names unknown columns {missing} "
                f"(have {rows.columns})"
            )
        n = int(target_file_groups)
        if zorder_by:
            from .io import zorder_value

            rows = rows.withColumn(
                "__zv", zorder_value(rows, cols, bits)
            )
            ckeys = [F.col("__zv")]
        else:
            ckeys = [F.col(c) for c in cols]
        fname_expr = F.concat(
            F.lit("c"),
            F.lpad(F.col("__pid").cast("string"), 4, "0"),
            F.lit(f"-{inst}_{tok}_{inst}.parquet"),
        )
        out = (
            rows.repartitionByRange(n, *ckeys)
            .sortWithinPartitions(*ckeys)
            .withColumn("__pid", F.spark_partition_id())
            .withColumn("_hoodie_file_name", fname_expr)
        )
        if zorder_by:
            out = out.drop("__zv")
        stage = os.path.join(dest, f".cluster-{inst}")
        out.write.partitionBy("__pid").parquet(stage, mode="overwrite")
        pdir = dest if part in (".", "") else os.path.join(dest, part)
        os.makedirs(pdir, exist_ok=True)
        for d in sorted(glob.glob(os.path.join(stage, "__pid=*"))):
            pid = int(os.path.basename(d)[len("__pid="):])
            fid = f"c{pid:04d}-{inst}"
            fname = f"{fid}_{tok}_{inst}.parquet"
            pf = glob.glob(os.path.join(d, "part-*.parquet"))
            shutil.move(pf[0], os.path.join(pdir, fname))
            rel = fname if part in (".", "") else f"{part}/{fname}"
            written.setdefault("" if part in (".", "") else part, []).append(
                {"fileId": fid, "path": rel}
            )
        shutil.rmtree(stage)
        p2f["" if part in (".", "") else part] = sorted(
            fid for _p, fid in pkeys
        )
    return written, p2f


def schedule_clustering(
    dest: str, sort_by: list[str] | None = None,
    target_file_groups: int = 1, zorder_by: list[str] | None = None,
    bits: int = 12, max_group_bytes: int | None = None,
) -> str | None:
    """SCHEDULE an async clustering — the requested half of Hudi's
    replacecommit lifecycle (mirror of :func:`schedule_compaction`):
    allocate the next timeline instant and write a
    ``{instant}.replacecommit.requested`` CLUSTERING PLAN naming every
    current file group plus the layout strategy. From this moment the
    named groups are UNDER A PENDING PLAN: a writer touching one
    applies the spec's update-conflict rule
    (``hoodie.clustering.updates.strategy`` — ``export_hudi``'s
    ``clustering_updates``): REJECT raises at write time (the
    default), ALLOW lets the write land and the clustering COMPLETION
    (:func:`complete_clustering`) detects the conflict and aborts.
    Cancel a pending plan with :func:`rollback_hudi` (it removes the
    requested/inflight states; the plan wrote no data). Returns the
    scheduled instant, or None on a group-less table. One pending
    clustering at a time (a second schedule refuses — plans here cover
    every group). Driver-side metadata only.

    ``max_group_bytes`` is the SMALL-FILE strategy (real Hudi's
    size-based clustering plan selection): only file groups whose
    current slice (base + logs) totals at or below the threshold are
    planned — big groups stay OUT of the plan and remain freely
    writable while it is pending, which is what makes the ALLOW
    update strategy useful in practice (a write to an unplanned group
    never conflicts with the completion). Default None plans every
    group.

    Plan shape divergence (documented): real Hudi serializes
    HoodieClusteringPlan avro inside the requested file; this
    exporter's timeline metadata is JSON throughout —
    ``{"operations": [{"partitionPath", "fileId"}], "strategy":
    {"sortColumns"|"zorderColumns", "targetFileGroups", "bits"},
    "version": 1}``."""
    from .hudi import (
        HudiProtocolError,
        _INSTANT_RE,
        _latest_slices,
        _pending_clusterings,
        _pending_compactions,
        _properties,
    )

    if bool(sort_by) == bool(zorder_by):
        raise ValueError(
            "schedule_clustering needs exactly one of sort_by / zorder_by"
        )
    if target_file_groups < 1:
        raise ValueError("target_file_groups must be >= 1")
    mor = _properties(dest).get("hoodie.table.type") == "MERGE_ON_READ"
    if _pending_compactions(dest):
        raise HudiProtocolError(
            "schedule_clustering: the timeline carries a pending "
            "compaction plan; complete it (compact_hudi) first — "
            "clustering would retire file groups the plan names"
        )
    if _pending_clusterings(dest):
        raise HudiProtocolError(
            "schedule_clustering: a clustering plan is already pending; "
            "complete it (complete_clustering) or cancel it "
            "(rollback_hudi) first"
        )
    if mor:
        groups, logs = _latest_slices(dest, None, None, collect_logs=True)
    else:
        groups = _latest_slices(dest, None, None)
        logs = {}
    if max_group_bytes is not None:
        # small-file strategy: a group's current slice size is its base
        # file plus the log chain attached to it
        def _slice_bytes(key) -> int:
            total = 0
            b = groups.get(key)
            if b is not None:
                total += os.path.getsize(b[1])
            for _bi, _v, p in logs.get(key, []):
                total += os.path.getsize(p)
            return total

        groups = {
            k: v for k, v in groups.items()
            if _slice_bytes(k) <= max_group_bytes
        }
    if not groups:
        return None
    hdir = os.path.join(dest, HOODIE_DIR)
    taken = [
        m.group(1)
        for m in (_INSTANT_RE.match(n) for n in os.listdir(hdir))
        if m
    ]
    inst = f"{int(max(taken)) + 1:014d}"
    strategy: dict = {"targetFileGroups": int(target_file_groups)}
    if sort_by:
        strategy["sortColumns"] = list(sort_by)
    else:
        strategy["zorderColumns"] = list(zorder_by)
        strategy["bits"] = int(bits)
    ops = [
        {"partitionPath": "" if part == "." else part, "fileId": fid}
        for part, fid in sorted(groups)
    ]
    _publish_instant(
        hdir, f"{inst}.replacecommit.requested",
        {"operations": ops, "strategy": strategy, "version": 1},
    )
    return inst


def complete_clustering(spark, dest: str) -> str | None:
    """COMPLETE the earliest pending clustering plan
    (:func:`schedule_clustering`) — the replacecommit half of the
    lifecycle, mirroring :func:`compact_hudi`'s async mode: mark the
    instant ``replacecommit.inflight``, VALIDATE the plan's input
    groups saw no completed write after the schedule (the spec's
    update-conflict rule for writers running under the ALLOW strategy:
    the conflicting write wins and the CLUSTERING aborts, raising with
    the conflicting instant — cancel the plan with
    :func:`rollback_hudi` and re-schedule), then rewrite exactly the
    PLANNED groups with the plan's strategy and land the completing
    ``{instant}.replacecommit`` whose ``partitionToReplaceFileIds``
    retires them. All three state files stay on the active timeline
    (the spec's shape); a crashed completion (inflight, no
    replacecommit) is re-runnable. Returns the plan instant, or None
    when nothing is pending."""
    from .hudi import (
        HudiProtocolError,
        _INSTANT_RE,
        _pending_clusterings,
        _properties,
    )

    _properties(dest)
    pending = _pending_clusterings(dest)
    if not pending:
        return None
    inst = min(pending)
    plan = pending[inst]
    hdir = os.path.join(dest, HOODIE_DIR)
    inflight = os.path.join(hdir, f"{inst}.replacecommit.inflight")
    if not os.path.exists(inflight):
        with open(inflight, "w"):
            pass
    planned = {
        (os.path.normpath(op.get("partitionPath") or ".")
         if op.get("partitionPath") else ".", str(op["fileId"]))
        for op in plan.get("operations", [])
    }
    # update-conflict validation: any COMPLETED write after the plan
    # instant that touched a planned file group aborts the clustering
    for name in sorted(os.listdir(hdir)):
        m = _INSTANT_RE.match(name)
        if not m:
            continue
        wi, action = m.group(1), m.group(2)
        if wi <= inst or action not in ("commit", "deltacommit"):
            continue
        try:
            with open(os.path.join(hdir, name)) as f:
                body = json.load(f)
        except (OSError, ValueError):
            continue
        for part, stats in (body.get("partitionToWriteStats") or {}).items():
            # group identity is (partition, fileId): bucket fileIds
            # repeat across partitions, so a write to b0001 in
            # partition A must not abort a plan covering b0001 in B
            pkey = os.path.normpath(part) if part not in ("", ".") else "."
            hit = sorted(
                st.get("fileId") for st in stats
                if (pkey, st.get("fileId")) in planned
            )
            if hit:
                raise HudiProtocolError(
                    f"clustering plan {inst} conflicts with completed "
                    f"write {wi}: file group(s) "
                    f"{[(pkey, f) for f in hit]} were updated "
                    "after the schedule — the concurrent writer wins; "
                    f"cancel the plan (rollback_hudi(dest, {inst!r})) "
                    "and re-schedule against the new state"
                )
    strategy = plan.get("strategy") or {}
    written, p2f = _cluster_groups(
        spark, dest, inst, planned,
        strategy.get("sortColumns"),
        strategy.get("zorderColumns"),
        int(strategy.get("targetFileGroups", 1)),
        int(strategy.get("bits", 12)),
    )
    _publish_instant(
        hdir, f"{inst}.replacecommit",
        {"partitionToWriteStats": written,
         "partitionToReplaceFileIds": p2f},
    )
    _mdt_sync_files(dest, written, inst)
    return inst


def delete_from_hudi(spark, dest: str, predicate: str) -> dict:
    """Row-level ``DELETE FROM <published MOR Hudi table> WHERE
    <predicate>``: each doomed record key becomes a tombstone in ONE
    DELETE block appended to its file group's log chain (the shared
    ``_group_log_path`` routing — pending-compaction chains included),
    all under one new deltacommit. No base file is rewritten; time
    travel to earlier instants is untouched; the MOR fold drops the
    keys at read. The reference notebook's row drop (py:150-166), as
    the log-structured table's native delete.

    Semantics honored:

    * the doomed-row scan is the SAME ``_read_mor`` fold every reader
      uses — rows already dead under earlier tombstones never re-count;
    * EVENT_TIME ordering tables stamp each tombstone's
      ``orderingVal`` with the doomed row's own precombine value, so
      the delete wins its merge against the row it targets (Hudi's
      ``>=``-incoming-wins rule) without clobbering a later-event-time
      re-insert; commit-time tables carry ``None``;
    * COPY_ON_WRITE tables refuse — their readers never fold logs, so
      a tombstone block would silently resurrect on a native reader;
      route COW deletes through the staging table + ``export_hudi``;
    * groups under a PENDING CLUSTERING plan refuse (the
      update-conflict rule ``export_hudi`` enforces);
    * the timeline lifecycle is requested -> blocks -> inflight ->
      completed: the REQUESTED marker is the put-if-absent claim, so a
      racing foreign writer is detected BEFORE any block lands.

    Returns ``{"instant", "num_deleted", "groups"}``; a predicate
    matching nothing claims no instant and commits NOTHING.

    Scale: one predicate-filtered read over the fold, tombstone bytes
    are O(deleted keys), block appends run per-group on EXECUTORS
    (``applyInPandas`` — the driver never sees a key list), and the
    commit is three timeline markers."""
    from . import hudi_log as HL
    from .hudi import HudiProtocolError

    # every frame below is built from `spark` and consumed inside this
    # op (collected summaries, appended blocks): byte-gate the whole
    # computation — provably-small published tables run it AQE-off
    # with an input-derived pin, big ones keep the caller's session
    spark = small_plan_spark(spark, est_bytes=_dest_bytes_est(dest))
    props, precombine, hdir, scan, fid_expr = _mor_dml_scan(
        spark, dest, "delete_from_hudi", "DELETE"
    )
    hits = scan.filter(F.expr(predicate)).select(
        F.col("_hoodie_record_key").alias("__k"),
        F.col("_hoodie_partition_path").alias("__pp"),
        fid_expr.alias("__fid"),
        *(
            [F.col(precombine).alias("__ord")]
            if precombine else [F.lit(None).alias("__ord")]
        ),
    ).persist()
    try:
        targets = [
            (r["__pp"], r["__fid"])
            for r in hits.select("__pp", "__fid").distinct().collect()
        ]
        if not targets:
            return {"instant": None, "num_deleted": 0, "groups": 0}

        if precombine:
            # a NULL precombine value cannot become an orderingVal:
            # the event-time merge has nothing to order the tombstone
            # against, and committing it would poison EVERY later read
            # of the group (the reader raises on unordered deletes) —
            # refuse BEFORE any marker or block lands
            if hits.filter(F.col("__ord").isNull()).take(1):
                raise HudiProtocolError(
                    "delete_from_hudi: the table orders merges by "
                    f"event time ({precombine}) but a matched row has "
                    "a NULL precombine value — its tombstone would "
                    "have no orderingVal and every later read of the "
                    "group would raise; repair the row's precombine "
                    "value first"
                )

        def write_block(pdf, path, pp, inst):
            import pandas as pd

            pdf = pdf.sort_values("__k")
            HL.append_delete_block(
                path,
                inst,
                [
                    {
                        "recordKey": k,
                        "partitionPath": pp,
                        "orderingVal": (
                            None if o is None or pd.isna(o) else o
                        ),
                    }
                    for k, o in zip(pdf["__k"], pdf["__ord"])
                ],
            )
            return 0, len(pdf)

        inst, summary = _commit_log_dml(
            spark, dest, hdir, hits, targets, "delete",
            "delete_from_hudi", write_block,
        )
    finally:
        hits.unpersist()
    return {
        "instant": inst,
        "num_deleted": sum(int(r["deletes"]) for r in summary),
        "groups": len(summary),
    }


def _mor_dml_scan(spark, dest: str, what: str, verb: str):
    """Shared prologue of every log-appending DML op: the
    MERGE_ON_READ gate (COW readers never fold logs — an appended
    block would silently resurrect/vanish on a native reader), the
    completed-commits gate, the keep-meta ``_read_mor`` fold scan
    (existing tombstones already applied), and the fileId extraction
    from ``_hoodie_file_name`` (base ``{fid}_{tok}_{inst}.parquet``
    and log ``.{fid}_{bi}.log...`` shapes both yield the segment
    before the first underscore). Returns
    ``(props, precombine field | None, hdir, scan, fid column)``."""
    from .hudi import (
        HudiProtocolError,
        _completed_commits,
        _merge_ordering,
        _properties,
        _read_mor,
    )

    props = _properties(dest)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype != "MERGE_ON_READ":
        raise HudiProtocolError(
            f"hoodie.table.type={ttype}: {what} appends log blocks, "
            "which only MERGE_ON_READ readers fold — a COW "
            f"{verb} must rewrite file slices (stage the table and "
            "export_hudi the new state)"
        )
    precombine = _merge_ordering(props)
    hdir = os.path.join(dest, HOODIE_DIR)
    if not _completed_commits(dest, allow_delta=True):
        raise HudiProtocolError(
            f"table has no completed commits; nothing to {verb}"
        )
    scan = _read_mor(spark, dest, None, True, None)
    fid_expr = F.regexp_extract(
        F.regexp_replace(F.col("_hoodie_file_name"), r"^\.", ""),
        r"^([^_]+)_", 1,
    )
    return props, precombine, hdir, scan, fid_expr


def _commit_log_dml(
    spark, dest: str, hdir: str, hits, targets: list, op: str,
    what: str, write_block,
) -> tuple[str, list]:
    """The commit half every log-appending DML op shares: the
    pending-clustering update-conflict gate over the touched groups,
    the put-if-absent REQUESTED claim at an instant past EVERY
    timeline entry (pending included — a write landing "before" a
    requested compaction would be silently folded under its plan),
    the ``_group_log_path`` routing, one ``write_block(pdf, path, pp,
    inst) -> (n_upserts, n_deletes)`` executor task per touched
    group, then inflight -> completed markers with the shared
    ``_log_write_stats`` body and the MDT sync. ``hits`` must carry
    ``__pp``/``__fid`` (+ whatever ``write_block`` reads) and is the
    caller's to persist/unpersist. Returns ``(instant, summary
    rows)``."""
    import re as _re

    from .hudi import (
        HudiProtocolError,
        _latest_slices,
        _pending_clustering_groups,
        _pending_compaction_groups,
    )

    cl = _pending_clustering_groups(dest)
    hit_cl = sorted(
        (part, fid)
        for pp, fid in targets
        for part in ((os.path.normpath(pp) if pp else "."),)
        if (part, fid) in cl
    )
    if hit_cl:
        raise HudiProtocolError(
            f"{what}: file group(s) {hit_cl} are under "
            f"pending clustering plan {cl[hit_cl[0]]}; complete it "
            "(complete_clustering) or cancel it (rollback_hudi) "
            "before writing to those groups"
        )

    all_inst = [
        int(m.group(1))
        for name in os.listdir(hdir)
        for m in (_re.match(r"^(\d{10,20})\.", name),)
        if m
    ]
    inst = f"{max(all_inst) + 1:014d}"

    # the put-if-absent CLAIM: a foreign writer racing this instant is
    # detected before any block lands
    _publish_instant(
        hdir, f"{inst}.deltacommit.requested", {"action": op}
    )

    prev_slices, prev_logs = _latest_slices(
        dest, None, None, collect_logs=True
    )
    pending = _pending_compaction_groups(dest)
    tok = _write_token()
    logpath = {}
    for pp, fid in sorted(targets):
        part = os.path.normpath(pp) if pp else "."
        logpath[(pp, fid)] = _group_log_path(
            dest, part, fid, inst, tok, prev_slices, prev_logs,
            pending,
        )
    lp_df = spark.createDataFrame(
        [(pp, fid, lp) for (pp, fid), lp in logpath.items()],
        "__pp string, __fid string, __lp string",
    )
    routed = hits.join(F.broadcast(lp_df), ["__pp", "__fid"])

    def write_group(pdf):
        import pandas as pd

        path = pdf["__lp"].iloc[0]
        pp = pdf["__pp"].iloc[0]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        ups, dels = write_block(pdf, path, pp, inst)
        return pd.DataFrame(
            {"path": [path], "upserts": [ups], "deletes": [dels]}
        )

    summary = routed.groupBy("__lp").applyInPandas(
        write_group, "path string, upserts long, deletes long"
    ).collect()

    written = _log_write_stats(summary, dest)
    _publish_instant(hdir, f"{inst}.deltacommit.inflight", {})
    _publish_instant(
        hdir, f"{inst}.deltacommit", {"partitionToWriteStats": written}
    )
    _mdt_sync_files(dest, written, inst)
    return inst, summary


def update_hudi(
    spark, dest: str, predicate: str, assignments: dict[str, str],
) -> dict:
    """Row-level ``UPDATE <published MOR Hudi table> SET <col = expr,
    ...> WHERE <predicate>``: each matched row's SET-applied values
    (every expression evaluated against the PRE-update row) land as
    ONE avro UPSERT block appended to the row's OWN file group's log
    chain — the group is known from the scan, so no index lookup is
    ever needed — under one deltacommit via the shared
    :func:`_commit_log_dml` lifecycle (clustering gate, requested
    claim, compaction-chain routing, markers, MDT sync). The MOR fold
    then serves the new values: same key, same group, newer instant.

    Semantics honored:

    * record-key and partition-path columns refuse SET (changing a
      key is an insert+delete; changing a partition is a row move —
      neither is an in-place upsert);
    * EVENT_TIME tables: the upsert's merge position is its precombine
      value, so an update that LOWERS it below the current row's
      would lose its own merge and be silently invisible — refused,
      as is a NULL post-update precombine (unorderable);
    * COPY_ON_WRITE refuses (same rule as :func:`delete_from_hudi`).

    Returns ``{"instant", "num_updated", "groups"}``; a predicate
    matching nothing claims no instant and commits NOTHING.

    Scale: one predicate-filtered MOR fold + O(updated rows) avro
    bytes written per-group on executors; commit is three timeline
    markers."""
    from pyspark.sql.types import StructType

    from . import hudi_log as HL
    from .hudi import META_COLS, HudiProtocolError

    # byte-gate the whole op (delete_from_hudi's rule): small published
    # tables run AQE-off with an input-derived pin, big ones untouched
    spark = small_plan_spark(spark, est_bytes=_dest_bytes_est(dest))
    props, precombine, hdir, scan, fid_expr = _mor_dml_scan(
        spark, dest, "update_hudi", "update"
    )
    key_fields = [
        c for c in props.get(
            "hoodie.table.recordkey.fields", ""
        ).split(",") if c
    ]
    part_fields = [
        c for c in props.get(
            "hoodie.table.partition.fields", ""
        ).split(",") if c
    ]
    if not assignments:
        raise ValueError("UPDATE needs at least one SET assignment")
    for c in assignments:
        if c in key_fields:
            raise HudiProtocolError(
                f"column {c!r} is a record-key field; changing a key "
                "is an insert+delete, not an in-place UPDATE"
            )
        if c in part_fields:
            raise HudiProtocolError(
                f"column {c!r} is a partition field; a partition move "
                "is tombstone+insert across groups, not an in-place "
                "UPDATE"
            )

    data_fields = [
        f for f in scan.schema.fields if f.name not in META_COLS
    ]
    data_cols = [f.name for f in data_fields]
    bad = [c for c in assignments if c not in data_cols]
    if bad:
        raise ValueError(
            f"SET columns {bad} not in the table schema "
            f"(columns: {data_cols})"
        )
    avro_schema = _avro_log_schema(
        StructType(data_fields), what="update_hudi"
    )
    avro_types = {
        f["name"]: f["type"][1] for f in avro_schema["fields"]
    }

    # SET expressions all see the PRE-update row: one projection
    hits = scan.filter(F.expr(predicate)).select(
        F.col("_hoodie_record_key").alias("__k"),
        F.col("_hoodie_partition_path").alias("__pp"),
        fid_expr.alias("__fid"),
        *(
            [F.col(precombine).alias("__ord_old")]
            if precombine else []
        ),
        *[
            (F.expr(assignments[f.name]).cast(f.dataType)
             if f.name in assignments else F.col(f.name)
             ).alias(f.name)
            for f in data_fields
        ],
    ).persist()
    try:
        targets = [
            (r["__pp"], r["__fid"])
            for r in hits.select("__pp", "__fid").distinct().collect()
        ]
        if not targets:
            return {"instant": None, "num_updated": 0, "groups": 0}

        if precombine:
            # the upsert competes at its NEW precombine value: a NULL
            # one is unorderable, and one BELOW the current row's
            # loses its own merge — either way the update would be
            # silently invisible or poison reads; refuse first
            bad_ord = hits.filter(
                F.col(precombine).isNull()
                | (F.col(precombine) < F.col("__ord_old"))
            ).take(1)
            if bad_ord:
                raise HudiProtocolError(
                    "update_hudi: the table orders merges by event "
                    f"time ({precombine}) and an updated row's new "
                    "precombine value is NULL or below its current "
                    "one — the upsert would lose its own merge; SET "
                    "the precombine at or above the current value"
                )

        def write_block(pdf, path, pp, inst):
            pdf = pdf.sort_values("__k")
            fid = os.path.basename(path).lstrip(".").split("_")[0]
            recs = []
            for row in pdf.to_dict("records"):
                r = {
                    "_hoodie_commit_time": inst,
                    "_hoodie_commit_seqno": f"{inst}_{fid}",
                    "_hoodie_record_key": row["__k"],
                    "_hoodie_partition_path": pp,
                    "_hoodie_file_name": os.path.basename(path),
                }
                for c in data_cols:
                    r[c] = _conv_avro_value(avro_types, c, row[c])
                recs.append(r)
            HL.append_avro_block(path, inst, avro_schema, recs)
            return len(pdf), 0

        inst, summary = _commit_log_dml(
            spark, dest, hdir, hits, targets, "update",
            "update_hudi", write_block,
        )
    finally:
        hits.unpersist()
    return {
        "instant": inst,
        "num_updated": sum(int(r["upserts"]) for r in summary),
        "groups": len(summary),
    }
