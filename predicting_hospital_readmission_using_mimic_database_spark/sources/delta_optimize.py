"""Log-level OPTIMIZE (bin-packing + Z-ORDER) for REAL Delta tables.

``SnapshotTable.compact`` / ``optimize_zorder`` re-layout the
engine-native commit log; this module is the same table service for a
real ``_delta_log`` — an EXPORTED table (sources/delta.py
``export_delta_log``) or a foreign one another writer produced — so a
long-lived published table does not have to round-trip back through a
SnapshotTable (whose re-export would commit the re-layout as
``dataChange: true``, polluting every downstream CDF/incremental
consumer).

Semantics follow the Delta spec + the reference OPTIMIZE behavior:

- rewritten files are REMOVED and replacements ADDED in one commit with
  ``dataChange: false`` on both sides — CDF (`read_delta_changes`),
  streams, and any spec-following incremental reader see ZERO changes
  from the re-layout, while time travel below the OPTIMIZE version
  still serves the old files (never deleted here; retention is
  ``truncate_delta_log`` / vacuum's job);
- live DELETION VECTORS on rewritten files are APPLIED and PURGED
  (struck rows are physically dropped; replacement adds carry no
  ``deletionVector``), exactly what real OPTIMIZE does so the
  soft-delete debt does not accumulate forever;
- files only ever combine WITHIN one partition (``partitionValues`` is
  per-file table state; replacements inherit their group's values);
- replacement adds carry refreshed footer-harvested stats
  (numRecords + truncation-safe minValues/maxValues), so data skipping
  (`read_delta(predicates=)` and foreign readers) works on the new
  layout — the entire point of ZORDER;
- ROW TRACKING survives: when the table declares
  ``delta.enableRowTracking``, every rewritten row's ``_row_id`` /
  ``_row_commit_version`` is written into the replacement files as the
  spec's MATERIALIZED lineage columns (config-named; the config keys
  are added in this commit when absent), so identity is stable across
  the rewrite for any spec-following reader.

Scale shape: the plan per partition group is ONE scan of that group's
rewritten files (+ the broadcast DV anti-join when vectors are live)
into ``ceil(rows / target_file_rows)`` outputs — ``coalesce`` (no
shuffle) for bin-packing, one range shuffle for ZORDER. Driver-side
work is log metadata + per-output-file footer reads, KBs per file; no
row ever passes through the driver.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid
from typing import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .commit import Retry, optimistic_commit
from .delta import (
    DELTA_LOG_DIR,
    DeltaProtocolError,
    _commit_info,
    _declared_protocol,
    _dv_positions_df,
    _ict_commit_info,
    _replay_log,
)
from .io import decoded_file_path, zorder_value
from .table import _harvest_stats

#: column types OPTIMIZE ZORDER can quantize (castable to double with
#: order preserved); strings/binary are refused — their parquet footer
#: stats may be truncated, so a z-curve over them could not be
#: validated by the very skipping it exists to serve
_ZORDERABLE = (
    "byte", "short", "int", "integer", "long", "bigint",
    "float", "double", "date", "timestamp", "timestamp_ntz",
)


def optimize_delta(
    spark: SparkSession,
    root: str,
    zorder_by: Sequence[str] | None = None,
    target_file_rows: int = 1_000_000,
    bits: int = 12,
    partitions: dict | None = None,
    checkpoint_interval: int = 10,
    checkpoint_v2_threshold: int = 10_000,
) -> int | None:
    """OPTIMIZE the Delta table at ``root``: bin-pack small live files
    (and purge any live deletion vectors) into ``ceil(rows /
    target_file_rows)`` replacement files per partition; with
    ``zorder_by`` every live file rewrites clustered along the Morton
    curve over those columns (:func:`~.io.zorder_value`), making
    file-level stats selective on EVERY listed column at once.

    ``partitions`` scopes the rewrite the way OPTIMIZE's WHERE clause
    does (partition predicates only, per the reference behavior):
    ``{"day": "2026-01-02"}`` (or a list of admitted values per
    column) touches ONLY matching partition groups — at 100 TB you
    optimize yesterday's partition, never the table. Values compare
    against the spec's string serialization, like
    ``read_delta(partitions=)``. Unknown partition columns raise.

    Returns the committed version, or None when nothing qualified
    (every group already a single well-formed file / above the
    small-file bar with no vectors to purge).

    COLUMN MAPPING survives the rewrite: under ``name`` mode the
    replacement files keep the physical ``col-<uuid>`` column names
    end-to-end (scan physical, write physical — logical names never
    touch the files); under ``id`` mode they carry parquet FIELD IDS
    (the mode's resolution contract) via the field-id-annotated scan
    schema + the writer conf. Stats keys stay the spec's physical
    names in both modes, so data skipping keeps working.

    Honest gate: when row tracking is on, a live file with missing
    lineage stamps or missing numRecords stats raises (identity could
    not be preserved / sized). Row tracking otherwise survives via
    materialized lineage columns; config keys naming them are added in
    this commit when the table has not declared them yet.

    Every ``checkpoint_interval`` versions (same cadence as the
    export; 0 disables) the commit also writes a classic parquet
    CHECKPOINT of the post-commit state — carrying stats, row-tracking
    stamps, deletion vectors, and the table's DECLARED protocol, so a
    replay (or ``truncate_delta_log``) from it loses nothing an
    optimize-heavy history accumulated.
    """
    if target_file_rows < 1:
        raise ValueError("target_file_rows must be >= 1")
    stats_of: dict[str, str] = {}
    rowids: dict[str, tuple] = {}
    domains: dict[str, str] = {}
    meta, live, dvs, last = _replay_log(
        root, stats_out=stats_of, rowids_out=rowids, domains_out=domains
    )
    # byte-gate the whole op (delta_dml's rule): every frame below is
    # built from `spark` and consumed inside this op — provably-small
    # tables run the fixed-shape rewrite AQE-off with an input-derived
    # pin, big ones keep the caller's session and AQE untouched
    from ..session import small_plan_spark
    from .delta_dml import _live_bytes_est

    spark = small_plan_spark(
        spark, est_bytes=_live_bytes_est(root, live)
    )
    conf = dict(meta.get("configuration") or {})
    mapping = str(conf.get("delta.columnMapping.mode", "none")).lower()
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    from .delta import _mapping_info

    schema, phys_schema, phys_of, pv_key_of, part_cols = _mapping_info(
        spark, meta, schema
    )
    if mapping == "id":
        # replacement files must carry parquet FIELD IDS (the id-mode
        # resolution contract); the scan schema's metadata provides
        # them and this conf makes the writer persist them
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    data_pairs = [
        (f, pf) for f, pf in zip(schema.fields, phys_schema.fields)
        if f.name not in part_cols
    ]
    data_schema = StructType([pf for _f, pf in data_pairs])
    #: SCAN column name -> the key the stats JSON must use (the spec's
    #: PHYSICAL name — equal to the scan name except under id mapping)
    stats_key_of = {
        phys_of[f.name]: pv_key_of.get(f.name, f.name)
        for f in schema.fields
    }

    if not zorder_by:
        # LIQUID-CLUSTERED table: a plain OPTIMIZE re-clusters along
        # the declared columns (the reference engine's behavior for
        # OPTIMIZE on a CLUSTER BY table) instead of bin-packing
        declared = clustering_columns(root)
        if declared:
            zorder_by = declared

    zorder_phys: list[str] = []
    if zorder_by:
        zorder_by = list(zorder_by)
        by_name = {f.name: f for f, _pf in data_pairs}
        for c in zorder_by:
            if c in part_cols:
                raise ValueError(
                    f"zorder_by column {c!r} is a partition column — "
                    "partition values are constant per file already"
                )
            f = by_name.get(c)
            if f is None:
                raise ValueError(f"zorder_by names unknown column {c!r}")
            if f.dataType.typeName() not in _ZORDERABLE:
                raise ValueError(
                    f"zorder_by column {c!r} has type "
                    f"{f.dataType.simpleString()}; z-ordering needs an "
                    f"order-preserving numeric cast ({_ZORDERABLE})"
                )
            zorder_phys.append(phys_of[c])

    row_tracking = (
        str(conf.get("delta.enableRowTracking", "")).lower() == "true"
    )
    mat_id = mat_ver = None
    add_mat_conf = False
    if row_tracking:
        mat_id = conf.get("delta.rowTracking.materializedRowIdColumnName")
        mat_ver = conf.get(
            "delta.rowTracking.materializedRowCommitVersionColumnName"
        )
        if not mat_id or not mat_ver:
            # first rewrite of this table: declare the materialized
            # lineage columns (the writer-side half of the feature);
            # files never rewritten read NULL there and the reader's
            # fresh fallback (baseRowId + position) still serves them
            mat_id = mat_id or "_row_id_materialized"
            mat_ver = mat_ver or "_row_commit_version_materialized"
            add_mat_conf = True
        for mc in (mat_id, mat_ver):
            if mc in data_schema.names:
                raise DeltaProtocolError(
                    f"materialized lineage column {mc!r} collides with a "
                    "data column"
                )
        bad = [
            rel for rel in live
            if rowids.get(rel, (None, None))[0] is None
            or rowids.get(rel, (None, None))[1] is None
        ]
        if bad:
            raise DeltaProtocolError(
                "row tracking is enabled but these live files carry no "
                f"baseRowId / defaultRowCommitVersion: {sorted(bad)[:3]}"
            )

    def _rows_of(rel: str) -> int | None:
        raw = stats_of.get(rel)
        if not raw:
            return None
        try:
            n = json.loads(raw).get("numRecords")
        except ValueError:
            return None
        return int(n) if n is not None else None

    # ---- plan: per-partition candidate groups ------------------------
    if partitions:
        unknown = [c for c in partitions if c not in part_cols]
        if unknown:
            raise ValueError(
                f"partitions filter names non-partition columns {unknown} "
                f"(table partitionColumns: {part_cols})"
            )

    def _admits_group(pv: dict) -> bool:
        if not partitions:
            return True
        for c, want in partitions.items():
            vals = want if isinstance(want, (list, set, tuple)) else [want]
            # partitionValues are keyed by PHYSICAL name (spec); admit
            # the logical spelling leniently, like read_delta
            got = pv.get(pv_key_of.get(c, c), pv.get(c))
            if not any(
                (v is None and got is None)
                or (v is not None and got is not None and str(v) == str(got))
                for v in vals
            ):
                return False
        return True

    groups: dict[tuple, list[str]] = {}
    for rel, pv in live.items():
        if not _admits_group(pv or {}):
            continue
        groups.setdefault(tuple(sorted((pv or {}).items())), []).append(rel)
    jobs: list[tuple[dict, list[str]]] = []  # (partitionValues, rewrites)
    for key in sorted(groups):
        rels = sorted(groups[key])
        if zorder_by:
            cands = rels  # layout change: the whole group re-clusters
        else:
            cands = [
                rel for rel in rels
                if (_rows_of(rel) or 0) < target_file_rows or rel in dvs
            ]
        if not cands:
            continue
        if len(cands) < 2 and not any(rel in dvs for rel in cands):
            # one vector-free file: bin-packing is a no-op, and a
            # z-order that cannot SPLIT it only reshuffles rows inside
            # one file's stats envelope — skip unless the file is big
            # enough that the rewrite yields multiple (prunable) files
            n = _rows_of(cands[0])
            if not (zorder_by and (n is None or n > target_file_rows)):
                continue
        jobs.append((dict(key), cands))
    if not jobs:
        return None

    version = last + 1
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    ict_on = str(
        conf.get("delta.enableInCommitTimestamps", "")
    ).lower() == "true"

    # fresh per-file stamps for replacement adds: past the highest
    # (baseRowId + numRecords) any LIVE file occupies. Carried rows
    # keep their identity through the materialized columns (every
    # rewritten row gets one), so these stamps are only the reader's
    # required per-file metadata, never an observable id.
    next_base = 0
    if row_tracking:
        for rel in live:
            n = _rows_of(rel)
            if n is None:
                raise DeltaProtocolError(
                    f"row tracking is enabled but live file {rel!r} has "
                    "no numRecords stats; cannot place fresh row-id "
                    "stamps past the occupied range"
                )
            next_base = max(next_base, int(rowids[rel][0]) + n)
        # the spec's high watermark is MONOTONIC: removed files may
        # have occupied higher ranges than any live file, and the
        # declared delta.rowTracking domain records every id ever
        # issued — allocate past it, never below it
        try:
            existing_wm = json.loads(
                domains.get("delta.rowTracking") or "{}"
            ).get("rowIdHighWaterMark")
        except ValueError:
            existing_wm = None
        if existing_wm is not None:
            next_base = max(next_base, int(existing_wm) + 1)

    stats_cols = [pf.name for _f, pf in data_pairs]
    removes: list[dict] = []
    adds: list[dict] = []
    add_rows: list[int] = []  # per-add row counts (rebase re-stamping)
    stage_root = os.path.join(root, f".optimize-stage-{uuid.uuid4().hex}")
    key_c, pos_c = "__opt_input_file", "__opt_row_pos"
    seq = 0
    try:
        for pv, cands in jobs:
            group_dvs = {rel: dvs[rel] for rel in cands if rel in dvs}
            read_schema = data_schema
            if row_tracking:
                for mc in (mat_id, mat_ver):
                    if mc not in read_schema.names:
                        read_schema = read_schema.add(
                            StructField(mc, LongType(), True)
                        )
            paths = sorted(
                os.path.abspath(os.path.join(root, rel)) for rel in cands
            )
            df = spark.read.schema(read_schema).parquet(*paths)
            if group_dvs or row_tracking:
                scan_cols = [F.col(f.name) for f in read_schema.fields] + [
                    decoded_file_path(F.input_file_name()).alias(key_c),
                    F.col("_metadata.row_index").alias(pos_c),
                ]
                df = df.select(*scan_cols)
            if group_dvs:
                dels = _dv_positions_df(spark, root, group_dvs, key_c, pos_c)
                df = df.join(F.broadcast(dels), [key_c, pos_c], "left_anti")
            if row_tracking:
                rt_df = spark.createDataFrame(
                    [
                        (
                            os.path.abspath(os.path.join(root, rel)),
                            int(rowids[rel][0]),
                            int(rowids[rel][1]),
                        )
                        for rel in cands
                    ],
                    StructType(
                        [
                            StructField(key_c, StringType(), False),
                            StructField("__opt_rtbase", LongType(), False),
                            StructField("__opt_rtver", LongType(), False),
                        ]
                    ),
                )
                df = df.join(F.broadcast(rt_df), key_c, "left")
                fresh_id = F.col("__opt_rtbase") + F.col(pos_c)
                df = (
                    df.withColumn(
                        mat_id,
                        F.coalesce(F.col(mat_id).cast("long"), fresh_id),
                    )
                    .withColumn(
                        mat_ver,
                        F.coalesce(
                            F.col(mat_ver).cast("long"),
                            F.col("__opt_rtver"),
                        ),
                    )
                    .drop("__opt_rtbase", "__opt_rtver")
                )
            if group_dvs or row_tracking:
                df = df.drop(key_c, pos_c)

            rows_after = 0
            for rel in cands:
                n = _rows_of(rel)
                if n is None:
                    rows_after = None
                    break
                rows_after += n
            if rows_after is not None:
                for rel, d in group_dvs.items():
                    card = d.get("cardinality")
                    if card is None:
                        rows_after = None
                        break
                    rows_after -= int(card)
            if rows_after is None:
                rows_after = df.count()  # foreign files without stats
            n_out = max(1, math.ceil(rows_after / target_file_rows))
            if zorder_by:
                z = zorder_value(df, zorder_phys, bits)
                df = (
                    df.withColumn("__z", z)
                    .repartitionByRange(n_out, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            else:
                df = df.coalesce(n_out)
            stage = os.path.join(stage_root, f"g{seq}")
            df.write.parquet(stage)
            parts = sorted(
                p for p in os.listdir(stage)
                if p.startswith("part-") and p.endswith(".parquet")
            )
            for part in parts:
                rel = f"optimize-{version:020d}-{seq:05d}-{uuid.uuid4().hex[:8]}.parquet"
                abs_new = os.path.join(root, rel)
                shutil.move(os.path.join(stage, part), abs_new)
                n_rows, mm = _harvest_stats(abs_new, stats_cols)
                st: dict = {"numRecords": n_rows}
                if mm:
                    # stats keys are the spec's PHYSICAL names (equal to
                    # the scan names except under id mapping)
                    st["minValues"] = {
                        stats_key_of.get(c, c): v[0] for c, v in mm.items()
                    }
                    st["maxValues"] = {
                        stats_key_of.get(c, c): v[1] for c, v in mm.items()
                    }
                add = {
                    "path": rel,
                    "partitionValues": dict(pv),
                    "size": os.path.getsize(abs_new),
                    "modificationTime": 0,
                    "dataChange": False,
                    "stats": json.dumps(st),
                }
                if row_tracking:
                    add["baseRowId"] = next_base
                    add["defaultRowCommitVersion"] = version
                    next_base += n_rows
                adds.append({"add": add})
                add_rows.append(n_rows)
                seq += 1
            for rel in cands:
                rm = {
                    "path": rel,
                    # wall clock: vacuum_delta's retention keys on this
                    "deletionTimestamp": int(time.time() * 1000),
                    "dataChange": False,
                    "partitionValues": dict(pv),
                }
                if rel in dvs:
                    rm["deletionVector"] = dict(dvs[rel])
                removes.append({"remove": rm})
    finally:
        shutil.rmtree(stage_root, ignore_errors=True)

    from .delta import _commit_actions, _publish_commit

    our_inputs = {r["remove"]["path"] for r in removes}
    #: rebase state: the first fresh row id this attempt allocates —
    #: advanced past any foreign allocation the loser observes, so a
    #: rebased commit never re-issues ids or regresses the watermark
    rt_state = {
        "base": (next_base - sum(add_rows)) if row_tracking else 0
    }

    def _build_actions(v: int) -> list[dict]:
        acts = [_commit_info(log_dir, v, "OPTIMIZE", ict_on)]
        if add_mat_conf:
            new_meta = dict(meta)
            new_conf = dict(conf)
            new_conf["delta.rowTracking.materializedRowIdColumnName"] = mat_id
            new_conf[
                "delta.rowTracking.materializedRowCommitVersionColumnName"
            ] = mat_ver
            new_meta["configuration"] = new_conf
            acts.append({"metaData": new_meta})
        if row_tracking:
            # re-stamp every replacement add from the CURRENT rebase
            # base (the per-file stamps are never observable here —
            # every rewritten row carries a materialized id — but the
            # spec requires them disjoint from other files' ranges)
            nb = rt_state["base"]
            for a, nr in zip(adds, add_rows):
                a["add"]["baseRowId"] = nb
                a["add"]["defaultRowCommitVersion"] = v
                nb += nr
            # advance the spec's row-id HIGH WATERMARK so a foreign
            # writer appending after this OPTIMIZE allocates fresh ids
            # past our replacement-file stamps (readers that don't
            # track domain metadata — including this one — are
            # unaffected)
            acts.append(
                {
                    "domainMetadata": {
                        "domain": "delta.rowTracking",
                        "configuration": json.dumps(
                            {"rowIdHighWaterMark": nb - 1}
                        ),
                        "removed": False,
                    }
                }
            )
        acts.extend(removes)
        acts.extend(adds)
        return acts

    def attempt():
        nonlocal version
        if _publish_commit(log_dir, version, _build_actions(version)):
            return version
        # a FOREIGN writer claimed the version. Delta's conflict rules
        # for a re-layout: it COMMUTES with blind appends (disjoint
        # files) and rebase is just re-committing at the next version;
        # anything that removed one of our input files, re-removed our
        # replacements, or changed the metadata invalidates the plan —
        # raise rather than resurrect deleted rows.
        foreign = _commit_actions(log_dir, version)
        f_removed = {
            a["remove"]["path"] for a in foreign if "remove" in a
        }
        if f_removed & our_inputs or any("metaData" in a for a in foreign):
            raise DeltaProtocolError(
                f"optimize_delta lost the commit race at version "
                f"{version} to a conflicting writer (it removed "
                f"{sorted(f_removed & our_inputs)[:3]} / changed "
                "metadata); the rewrite plan is stale — re-run"
            )
        if row_tracking:
            # the foreign commit may have ALLOCATED row ids (adds with
            # baseRowId) or advanced the watermark: rebase past both,
            # or the re-committed stamps would collide and the
            # re-emitted watermark would regress
            fbase = rt_state["base"]
            for a in foreign:
                ad = a.get("add")
                if ad and ad.get("baseRowId") is not None:
                    try:
                        nrec = json.loads(ad.get("stats") or "{}").get(
                            "numRecords"
                        )
                    except ValueError:
                        nrec = None
                    if nrec is None:
                        raise DeltaProtocolError(
                            "optimize_delta rebase: a foreign add "
                            f"({ad.get('path')}) allocated row ids but "
                            "carries no numRecords stats; the occupied "
                            "range is unknowable — re-run"
                        )
                    fbase = max(fbase, int(ad["baseRowId"]) + int(nrec))
                dm = a.get("domainMetadata")
                if (
                    dm
                    and dm.get("domain") == "delta.rowTracking"
                    and not dm.get("removed")
                ):
                    try:
                        wm = json.loads(
                            dm.get("configuration") or "{}"
                        ).get("rowIdHighWaterMark")
                    except ValueError:
                        wm = None
                    if wm is not None:
                        fbase = max(fbase, int(wm) + 1)
            rt_state["base"] = fbase
        version += 1
        return Retry(DeltaProtocolError(
            "optimize_delta lost the commit race ten times in a row; "
            "a foreign writer is committing faster than the rebase"
        ))

    version = optimistic_commit(attempt)
    if checkpoint_interval and version % checkpoint_interval == 0:
        _write_optimize_checkpoint(
            root, log_dir, version, v2_threshold=checkpoint_v2_threshold
        )
    return version


def vacuum_delta(
    root: str,
    retention_hours: float = 168.0,
    dry_run: bool = False,
) -> list[str]:
    """VACUUM — physically delete data files the table REMOVED longer
    than ``retention_hours`` ago (the spec's default 7 days), the other
    half of Delta's GC next to ``truncate_delta_log``: log truncation
    bounds the METADATA, vacuum reclaims the DATA bytes a copy-on-write
    history keeps accruing.

    Collectable = a file whose LAST action in the replayable log is a
    ``remove`` with ``deletionTimestamp`` at or below the horizon and
    that is not live at the head (a re-added file is live and
    protected). Deletion-vector files referenced ONLY by collectable
    adds go with them; a DV still referenced by any live add survives.
    Time travel to versions that referenced a vacuumed file
    subsequently fails at scan time — the spec's own
    retention/time-travel trade, which is why the horizon defaults to
    a week. UNTRACKED parquet files — staged by a writer that died
    before its commit claim, so no replayable action names them — are
    crash debris and collect by file modification time against the
    same horizon (the reference implementation's untracked-file rule;
    hidden stage dirs and the log are skipped). This reader's tables
    are often ZERO-COPY exports whose roots hold the host
    SnapshotTable's other files — and on such a root (a ``_log``
    commit log next to the ``_delta_log``) vacuum REFUSES outright,
    because removed exported files are usually still referenced by the
    host's own history; use ``SnapshotTable.vacuum`` there instead.

    Returns the deleted (or with ``dry_run`` the would-be-deleted)
    relative paths. Driver-side log replay only — no Spark job.
    """
    import time as _time

    log_dir = os.path.join(root, DELTA_LOG_DIR)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a delta table (no {DELTA_LOG_DIR}): {root}")
    if os.path.isdir(os.path.join(root, "_log")):
        raise DeltaProtocolError(
            "this root is a zero-copy export (a SnapshotTable _log "
            "commit log shares it): vacuuming the _delta_log's removed "
            "files would delete files the host table's own history "
            "still references — vacuum the SnapshotTable instead"
        )
    from .delta import _delta_commits

    horizon = _time.time() * 1000 - retention_hours * 3600 * 1000
    #: path -> ("add"|"remove", deletionTimestamp) — LAST action wins
    last: dict[str, tuple] = {}
    #: DV container file -> every data path that EVER referenced it
    #: (add or remove actions): one container can be shared by many
    #: files at distinct offsets, so it is only collectable when ALL of
    #: its referencing data files are — a sharer still inside the
    #: retention window keeps the container alive for time travel
    dv_refs: dict[str, set[str]] = {}
    #: change-data and DV files the log names — never crash debris
    named: set[str] = set()

    def _dv_path(desc: dict) -> str | None:
        st = desc.get("storageType")
        p = desc.get("pathOrInlineDv")
        if st == "p":
            named.add(p)
            return p if os.path.isabs(p) else os.path.join(root, p)
        if st == "u":  # uuid-derived: named, but kept out of the GC below
            from .dv import z85_decode

            u = uuid.UUID(bytes=z85_decode(p[-20:]))
            named.add(os.path.join(p[:-20], f"deletion_vector_{u}.bin"))
        return None  # inline ('i') has no file

    for _v, cpath in _delta_commits(log_dir):
        with open(cpath) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "add" in a:
                    from urllib.parse import unquote

                    p = unquote(a["add"]["path"])
                    last[p] = ("add", None)
                    dv = a["add"].get("deletionVector")
                    dvp = _dv_path(dv) if dv else None
                    if dvp:
                        dv_refs.setdefault(dvp, set()).add(p)
                elif "remove" in a:
                    from urllib.parse import unquote

                    p = unquote(a["remove"]["path"])
                    ts = a["remove"].get("deletionTimestamp") or 0
                    last[p] = ("remove", int(ts))
                    dv = a["remove"].get("deletionVector")
                    dvp = _dv_path(dv) if dv else None
                    if dvp:
                        dv_refs.setdefault(dvp, set()).add(p)
                elif "cdc" in a:
                    from urllib.parse import unquote

                    named.add(unquote(a["cdc"]["path"]))
    # DVs referenced by the LIVE head stay, whatever history says
    meta, live, dvs, _last_v = _replay_log(root)
    head_dvs = {
        _dv_path(d) for d in dvs.values() if _dv_path(d) is not None
    }
    #: every data path past the horizon, INCLUDING already-deleted ones
    #: — a sharer vacuumed in an earlier pass must not pin its
    #: container forever
    collectable: set[str] = set()
    doomed: list[str] = []
    root_abs = os.path.abspath(root)
    for p, (kind, ts) in sorted(last.items()):
        if kind != "remove" or p in live:
            continue
        abs_p = p if os.path.isabs(p) else os.path.join(root, p)
        if os.path.isabs(p) and not os.path.abspath(p).startswith(
            root_abs + os.sep
        ):
            # an absolute reference OUTSIDE the table root is a SHALLOW
            # CLONE's pointer into its source: vacuuming the clone must
            # never delete the source's files (the official clone rule)
            continue
        on_disk = os.path.exists(abs_p)
        if not ts:
            if not on_disk:
                continue  # unstamped and gone: cannot date it — skip
            # legacy remove without a stamp: the reference falls back
            # to the file's modification time
            ts = os.path.getmtime(abs_p) * 1000
        if ts > horizon:
            continue  # inside the retention window
        collectable.add(p)
        if on_disk:
            doomed.append(p)
    # crash debris: data / DV files no replayable action names
    named = {
        os.path.abspath(os.path.join(root, p)) for p in (*named, *last, *live)
    }
    debris = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d != DELTA_LOG_DIR and d[0] != "."]
        for name in files:
            p = os.path.abspath(os.path.join(dirpath, name))
            if (
                name.endswith(".parquet") or name.startswith("deletion_vector_")
            ) and name[0] != "." and p not in named and (
                os.path.getmtime(p) * 1000 <= horizon
            ):
                debris.append(os.path.relpath(p, root))
    doomed.extend(sorted(debris))
    doomed_set = set(doomed)
    dv_doomed = {
        dvp
        for dvp, refs in dv_refs.items()
        if dvp not in head_dvs
        and refs & doomed_set  # this pass collects at least one sharer
        and refs <= collectable  # and NO sharer is live or in-window
        and os.path.exists(dvp)
        # a DV container outside the root belongs to a clone's SOURCE
        and os.path.abspath(dvp).startswith(root_abs + os.sep)
    }
    if not dry_run:
        for p in doomed:
            os.remove(p if os.path.isabs(p) else os.path.join(root, p))
        for dvp in sorted(dv_doomed):
            os.remove(dvp)
    return doomed + sorted(
        os.path.relpath(d, root) if d.startswith(root) else d
        for d in dv_doomed
    )


def restore_delta(root: str, version: int) -> int:
    """RESTORE the table to an earlier ``version`` — Delta's
    ``RESTORE TABLE t TO VERSION AS OF v``: ONE new commit whose adds
    re-instate every file live at ``version`` but not at the head
    (carrying that version's stats, deletion vectors, and row-tracking
    stamps, so the restored state is bit-identical to time travel) and
    whose removes retire every head file the target didn't have. Data
    only, like the real command: the CURRENT metadata (schema,
    configuration) stays — a restore is a data rollback, not a schema
    rollback. Both sides are ``dataChange: true`` (downstream
    incremental consumers must see the restoration as changes — the
    official behavior). History is preserved: the rolled-back commits
    stay replayable above the restore, and time travel between
    ``version`` and the restore still serves.

    Honest gates: raises when a file the target version needs is
    GONE from disk (vacuumed past the restore point — the official
    command's failure mode without ignoreMissingFiles), and on a lost
    commit race (a restore targets an exact observed state; rebasing
    over a foreign commit would restore over unseen data).

    Driver-side log metadata only — no Spark job, no data movement;
    at 100 TB the cost is two log replays and one commit."""
    from .delta import _commit_actions  # noqa: F401 (conflict surface)
    from .delta import _publish_commit

    stats_v: dict[str, str] = {}
    rowids_v: dict[str, tuple] = {}
    meta_v, live_v, dvs_v, _ = _replay_log(
        root, version, stats_out=stats_v, rowids_out=rowids_v
    )
    meta_h, live_h, dvs_h, last = _replay_log(root)
    if version == last:
        raise ValueError(f"table is already at version {version}")
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    conf = dict(meta_h.get("configuration") or {})
    ict_on = str(
        conf.get("delta.enableInCommitTimestamps", "")
    ).lower() == "true"
    new_version = last + 1
    actions: list[dict] = [
        _ict_commit_info(log_dir, new_version, operation="RESTORE")
        if ict_on
        else {"commitInfo": {"operation": "RESTORE",
                             "engineInfo": "snapshot-export",
                             "restoredVersion": version}}
    ]
    #: a file live at BOTH versions but with a DIFFERENT deletion
    #: vector (or vector presence) must be re-added too — the DV is
    #: part of the file's logical content
    readds = sorted(
        rel for rel in live_v
        if rel not in live_h or dvs_v.get(rel) != dvs_h.get(rel)
    )
    removes = sorted(rel for rel in live_h if rel not in live_v)
    if not readds and not removes:
        raise ValueError(
            f"restore to version {version} is a no-op: the head already "
            "holds exactly that state"
        )
    missing = [
        rel for rel in readds
        if not os.path.exists(os.path.join(root, rel))
    ]
    if missing:
        raise DeltaProtocolError(
            f"restore to version {version} needs files no longer on "
            f"disk (vacuumed): {missing[:3]}{'...' if len(missing) > 3 else ''}"
        )
    for rel in removes:
        rm = {
            "path": rel,
            "deletionTimestamp": int(time.time() * 1000),
            "dataChange": True,
        }
        if rel in dvs_h:
            rm["deletionVector"] = dict(dvs_h[rel])
        actions.append({"remove": rm})
    for rel in readds:
        add = {
            "path": rel,
            "partitionValues": dict(live_v[rel] or {}),
            "size": os.path.getsize(os.path.join(root, rel)),
            "modificationTime": 0,
            "dataChange": True,
        }
        if rel in stats_v:
            add["stats"] = stats_v[rel]
        if rel in rowids_v:
            add["baseRowId"], add["defaultRowCommitVersion"] = rowids_v[rel]
        if rel in dvs_v:
            add["deletionVector"] = dict(dvs_v[rel])
        actions.append({"add": add})
    if not _publish_commit(log_dir, new_version, actions):
        raise DeltaProtocolError(
            f"restore lost the commit race at version {new_version}: a "
            "foreign writer committed concurrently — the restore "
            "targeted the state observed at planning time; re-run "
            "against the new head"
        )
    return new_version


def clustering_columns(root: str) -> list[str]:
    """The table's LIQUID-CLUSTERING declaration: the live
    ``delta.clustering`` domainMetadata's ``clusteringColumns`` at the
    replayed head (``removed: true`` clears it; absent = []). The
    replay starts from the newest usable parquet CHECKPOINT — which
    carries live domainMetadata per spec — so the declaration survives
    ``truncate_delta_log`` deleting the commit that made it. Nested
    column paths gate — this engine clusters on top-level columns.
    Spec shape: a list of name PATHS (``[["k"], ["ts"]]``)."""
    dom: dict[str, str] = {}
    _replay_log(root, domains_out=dom)
    raw = dom.get("delta.clustering")
    if not raw:
        return []
    try:
        paths = json.loads(raw).get("clusteringColumns", [])
    except ValueError:
        return []
    out = []
    for p in paths:
        parts = p if isinstance(p, list) else [p]
        if len(parts) != 1:
            raise DeltaProtocolError(
                f"nested clustering column path {parts} is "
                "not supported (top-level columns only)"
            )
        out.append(parts[0])
    return out


def set_delta_clustering_columns(
    root: str, columns: Sequence[str]
) -> int:
    """Declare (or with ``columns=[]`` clear) the table's clustering
    columns — the writer-side half of liquid clustering: a
    ``delta.clustering`` domainMetadata commit in the spec's shape,
    after which a plain :func:`optimize_delta` (no ``zorder_by``)
    RE-CLUSTERS along them instead of bin-packing, the reference
    engine's OPTIMIZE-on-a-clustered-table behavior. Columns are
    validated against the schema and the z-orderable types up front.
    Returns the committed version."""
    stats_of: dict[str, str] = {}
    meta, _live, _dvs, last = _replay_log(root, stats_out=stats_of)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    by_name = {f.name: f for f in schema.fields}
    for c in columns:
        f = by_name.get(c)
        if f is None:
            raise ValueError(f"clustering names unknown column {c!r}")
        if c in part_cols:
            raise ValueError(
                f"clustering column {c!r} is a partition column"
            )
        if f.dataType.typeName() not in _ZORDERABLE:
            raise ValueError(
                f"clustering column {c!r} has type "
                f"{f.dataType.simpleString()}; clustering needs an "
                f"order-preserving numeric cast ({_ZORDERABLE})"
            )
    version = last + 1
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    conf = dict(meta.get("configuration") or {})
    ict_on = str(
        conf.get("delta.enableInCommitTimestamps", "")
    ).lower() == "true"
    from .delta import _publish_commit

    def attempt():
        nonlocal version
        actions = [
            _commit_info(log_dir, version, "CLUSTER BY", ict_on),
            {
                "domainMetadata": {
                    "domain": "delta.clustering",
                    "configuration": json.dumps(
                        {"clusteringColumns": [[c] for c in columns]}
                    ),
                    "removed": False,
                }
            },
        ]
        # a domain-only declaration commutes with any foreign commit:
        # losing the race just means re-claiming the next version
        if _publish_commit(log_dir, version, actions):
            return version
        version += 1
        return Retry(DeltaProtocolError(
            "set_delta_clustering_columns lost the commit race ten "
            "times in a row; a foreign writer is committing continuously"
        ))

    return optimistic_commit(attempt)


def _write_optimize_checkpoint(
    root: str, log_dir: str, version: int,
    v2_threshold: int | None = None,
) -> None:
    """Classic checkpoint of the post-commit state: live adds with
    stats, row-tracking stamps, and deletion vectors, plus the
    DECLARED protocol and live domainMetadata (clustering declaration,
    row-id watermark) — replayed fresh so the checkpoint is exactly
    what a reader at this version reconstructs."""
    from .delta import _write_checkpoint_file

    st: dict[str, str] = {}
    ri: dict[str, tuple] = {}
    dom: dict[str, str] = {}
    txns: dict[str, int] = {}
    meta2, live2, dvs2, _last = _replay_log(
        root, version, stats_out=st, rowids_out=ri, domains_out=dom,
        txns_out=txns,
    )
    adds = []
    for rel in sorted(live2):
        a = {
            "path": rel,
            "partitionValues": dict(live2[rel] or {}),
            "size": os.path.getsize(os.path.join(root, rel))
            if os.path.exists(os.path.join(root, rel)) else 0,
            "modificationTime": 0,
            "stats": st.get(rel),
        }
        if rel in ri:
            a["baseRowId"], a["defaultRowCommitVersion"] = ri[rel]
        if rel in dvs2:
            a["deletionVector"] = dict(dvs2[rel])
        adds.append(a)
    _write_checkpoint_file(
        log_dir, version, meta2, adds,
        protocol=_declared_protocol(log_dir),
        domains=dom,
        v2_threshold=v2_threshold,
        txns=txns,
    )
