"""Iceberg ROW-LEVEL DML — MERGE and DELETE as row-delta snapshots.
Matched/doomed target rows become POSITION DELETES, replacement values
plus not-matched inserts become new data files, and everything lands
in ONE v2 snapshot (the spec's row-delta commit: "Row-level deletes...
delete files are added to the table in a new snapshot alongside new
data files"). Composes the writer pieces the engine already has — the
pos-delete file/manifest shape of
:func:`~.iceberg.append_position_deletes`, the incremental
manifest-list carry and metadata CAS of
:func:`~.iceberg.export_iceberg` — and the read side needs nothing
new: :func:`~.iceberg.read_iceberg` applies the deletes, and
:func:`~.iceberg.read_iceberg_changelog` replays each snapshot as the
exact delete+insert row diff (s47's machinery).

The reference notebook's row mutation is a pandas in-place
reassignment / drop (py:150-166); these are the lakehouse-native
equivalents a real pipeline commits.

Scale shape:

* finding matched rows is ONE source-sized join (MERGE) or one
  predicate scan (DELETE) against the snapshot scan
  (``read_iceberg(_keep_keys=...)`` reuses the full delete-application
  machinery — existing positional / equality / DV deletes are already
  applied, so a dead row can never re-match);
* the pos-delete parquet is written by Spark sorted by
  ``(file_path, pos)`` (the spec's required ordering) — its size is
  the MATCHED row count, never the table;
* sequence-number ordering is explicit: the new delete manifest and
  the new data manifest both carry the NEW snapshot's sequence
  number, and position deletes target (path, ordinal) pairs — they
  can never strike the same snapshot's fresh appends (pinned in
  tests/test_iceberg_dml.py);
* the commit is the format's compare-and-swap on
  ``vN.metadata.json``, claimed through the commit seam
  (``sources/commit.py``); a lost CAS deletes this attempt's files
  (all ``*-{attempt}*`` named) and re-runs the op against the
  refreshed metadata, bounded like ``export_iceberg``.
"""

from __future__ import annotations

import contextlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import small_plan_session, small_plan_spark
from .commit import Retry, claim, optimistic_commit


def _table_bytes_est(meta, root, sid) -> int:
    """Driver-side byte bound for a DML op over the snapshot's LIVE
    data files (manifest ``file_size_in_bytes``, inflated to in-memory
    width) — feeds the small-plan byte gate: provably-small tables run
    the op's fixed-shape plan AQE-off with an input-derived partition
    pin; big tables keep the caller's session and AQE untouched."""
    from .iceberg import _live_files
    from .io import BROADCAST_INFLATION

    data_files, _p, _e, _d = _live_files(meta, root, sid)
    return BROADCAST_INFLATION * sum(
        int(st.get("file_size_in_bytes") or 0)
        for _path, _pv, _seq, st, _s, _f in data_files
    )


from .iceberg import (  # noqa: E402
    MANIFEST_ENTRY_SCHEMA,
    MANIFEST_FILE_SCHEMA,
    IcebergProtocolError,
    _advance_version_hint,
    _latest_metadata_path,
    _live_files,
    _localize,
    _next_metadata_version,
    _schema_json,
    _table_schema,
    encode_bound,
    read_avro,
    read_iceberg,
)

__all__ = ["delete_from_iceberg", "merge_iceberg", "update_iceberg"]


def _load_v2_table(root: str, what: str) -> tuple[str, dict, list, int]:
    """(latest metadata path, metadata, snapshots, current snapshot
    id) of a format-v2 table with a published snapshot — the base
    every row-delta op needs; raises naming ``what`` otherwise."""
    latest = _latest_metadata_path(root)
    if latest is None:
        raise IcebergProtocolError(
            f"no Iceberg metadata under {root}; export the table first"
        )
    with open(latest) as f:
        meta = json.load(f)
    if int(meta.get("format-version", 2)) != 2:
        raise IcebergProtocolError(
            f"{what} supports format-version 2 tables only "
            f"(got {meta.get('format-version')}); v3 row-lineage "
            "assignment for rewritten rows is not implemented"
        )
    snaps = meta.get("snapshots", [])
    if not snaps or meta.get("current-snapshot-id") is None:
        raise IcebergProtocolError(
            f"table has no current snapshot; {what} needs a published "
            "base (export first, even if empty)"
        )
    return latest, meta, snaps, int(meta["current-snapshot-id"])


def _stage_and_commit(
    spark: SparkSession, root: str, latest: str, meta: dict,
    snaps: list, cur_sid: int, attempt: str,
    matched: DataFrame, new_rows: DataFrame | None,
    tag: str, summary_of,
) -> tuple[int, int, int] | None:
    """The mechanical half every row-delta op shares: stage the
    pos-delete parquet (``matched`` = (file_path, pos) rows) and the
    new data files, write the delete/data manifests at the NEW
    snapshot's sequence number onto the carried manifest list, and CAS
    the next ``vN.metadata.json``.

    Returns ``(snapshot_id, n_matched, n_new)`` — with the CURRENT
    snapshot id when the op turned out to be a no-change (nothing
    committed) — or ``None`` on a lost CAS (this attempt's files are
    already cleaned up; the caller refreshes and re-runs). Any other
    failure cleans up this attempt's files and re-raises.
    ``summary_of(n_matched, n_new)`` builds the snapshot summary;
    ``tag`` names this op's data files/manifests."""
    import glob as _glob
    import shutil as _shutil
    import time

    import pyarrow.parquet as pq

    from .avro_ocf import write_avro

    mdir = os.path.join(root, "metadata")
    ddir = os.path.join(root, "data")
    cur = next(s for s in snaps if s["snapshot-id"] == cur_sid)
    written: list[str] = []
    stages: list[str] = []

    def _cleanup():
        for p in written:
            with contextlib.suppress(FileNotFoundError):
                os.remove(p)
        # a Spark write that dies mid-job leaves its partial stage dir
        # in the table root; the success path rmtree'd it already
        for d in stages:
            _shutil.rmtree(d, ignore_errors=True)

    try:
        sid = max(x["snapshot-id"] for x in snaps) + 1
        # the spec's pos-delete file: (file_path, pos) sorted rows
        stage = os.path.join(root, f".{tag}-stage-{attempt}")
        stages.append(stage)
        (
            matched.select(
                F.col("file_path"), F.col("pos").cast("long")
            )
            # one sorted output file: repartition(1)+local sort is the
            # same global order as orderBy().coalesce(1) but skips the
            # range-partitioner's separate sampling pass (the spec only
            # needs the FILE sorted, and the write is single-file)
            .repartition(1)
            .sortWithinPartitions("file_path", "pos")
            .write.parquet(stage)
        )
        parts = sorted(_glob.glob(os.path.join(stage, "part-*.parquet")))
        del_path = os.path.join(
            mdir, f"pos-delete-{sid}-{attempt}.parquet"
        )
        _shutil.move(parts[0], del_path)
        _shutil.rmtree(stage)
        written.append(del_path)
        n_matched = pq.read_metadata(del_path).num_rows

        new_files: list[tuple[str, int]] = []
        if new_rows is not None:
            os.makedirs(ddir, exist_ok=True)
            stage2 = os.path.join(root, f".{tag}-stage2-{attempt}")
            stages.append(stage2)
            new_rows.write.parquet(stage2)
            for i, part in enumerate(sorted(
                _glob.glob(os.path.join(stage2, "part-*.parquet"))
            )):
                path = os.path.join(
                    ddir, f"{tag}-{sid}-{attempt}-{i:05d}.parquet"
                )
                _shutil.move(part, path)
                written.append(path)
                n = pq.read_metadata(path).num_rows
                if n:
                    new_files.append((path, n))
                else:
                    written.remove(path)
                    os.remove(path)
            _shutil.rmtree(stage2)
        n_new = sum(n for _p, n in new_files)

        if not n_matched and not n_new:
            _cleanup()
            return cur_sid, 0, 0

        _s, manifests = read_avro(_localize(cur["manifest-list"], root))
        mf_records = [{"sequence_number": None, **m} for m in manifests]
        if n_matched:
            del_manifest = os.path.join(
                mdir, f"manifest-del-{sid}-{attempt}.avro"
            )
            write_avro(
                del_manifest,
                MANIFEST_ENTRY_SCHEMA,
                [{
                    "status": 1,
                    "snapshot_id": sid,
                    "data_file": {
                        "content": 1,
                        "file_path": del_path,
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": n_matched,
                        "file_size_in_bytes": os.path.getsize(del_path),
                        "equality_ids": None,
                    },
                }],
            )
            written.append(del_manifest)
            mf_records.append({
                "manifest_path": del_manifest,
                "manifest_length": os.path.getsize(del_manifest),
                "partition_spec_id": 0,
                "content": 1,
                "added_snapshot_id": sid,
                # the NEW snapshot's sequence number: position deletes
                # apply by (path, ordinal), so the same snapshot's
                # fresh data files (below, same sequence) are out of
                # reach by construction — the spec's row-delta commit
                "sequence_number": sid,
            })
        else:
            with contextlib.suppress(FileNotFoundError):
                os.remove(del_path)
            written.remove(del_path)
        if new_files:
            # per-file column bounds (spec Appendix D) from the fresh
            # parquet footers — the export convention: bounds-aware
            # readers keep pruning the table's hottest (just-written)
            # files. Same harvester safety rules as SnapshotTable
            # (string/decimal bounds discarded; partial stats omit
            # the column).
            from .table import _harvest_stats

            fields = _schema_json(meta)["fields"]
            top_info = {
                f["name"]: (f["id"], f["type"]) for f in fields
            }

            def _entry_bounds(path: str):
                _n, stats = _harvest_stats(path, list(top_info))
                lo, hi = [], []
                for col, rng in (stats or {}).items():
                    fid, itype = top_info[col]
                    b_lo = encode_bound(itype, rng[0])
                    b_hi = encode_bound(itype, rng[1])
                    if b_lo is None or b_hi is None:
                        continue
                    lo.append({"key": fid, "value": b_lo})
                    hi.append({"key": fid, "value": b_hi})
                return (lo or None, hi or None)

            add_manifest = os.path.join(
                mdir, f"manifest-{tag}-{sid}-{attempt}.avro"
            )
            entries = []
            for p, n in new_files:
                b_lo, b_hi = _entry_bounds(p)
                entries.append({
                    "status": 1,
                    "snapshot_id": sid,
                    "data_file": {
                        "content": 0,
                        "file_path": p,
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": n,
                        "file_size_in_bytes": os.path.getsize(p),
                        "equality_ids": None,
                        "lower_bounds": b_lo,
                        "upper_bounds": b_hi,
                    },
                })
            write_avro(add_manifest, MANIFEST_ENTRY_SCHEMA, entries)
            written.append(add_manifest)
            mf_records.append({
                "manifest_path": add_manifest,
                "manifest_length": os.path.getsize(add_manifest),
                "partition_spec_id": 0,
                "content": 0,
                "added_snapshot_id": sid,
                "sequence_number": sid,
            })

        mlist = os.path.join(mdir, f"snap-{sid}-{attempt}.avro")
        write_avro(mlist, MANIFEST_FILE_SCHEMA, mf_records)
        written.append(mlist)

        version = _next_metadata_version(latest, meta)
        new_meta = dict(meta)
        new_meta["snapshots"] = snaps + [{
            "snapshot-id": sid,
            "parent-snapshot-id": cur_sid,
            "timestamp-ms": int(time.time() * 1000),
            "summary": summary_of(n_matched, n_new),
            "manifest-list": mlist,
            "schema-id": meta.get("current-schema-id", 0),
        }]
        new_meta["current-snapshot-id"] = sid
        new_meta["last-sequence-number"] = sid
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        new_meta["_export_version"] = version
        # the format's commit: compare-and-swap on the metadata
        # pointer (put-if-absent claim of the next version)
        if not claim(
            os.path.join(mdir, f"v{version}.metadata.json"),
            lambda f: json.dump(new_meta, f),
        ):
            _cleanup()
            return None
        _advance_version_hint(mdir, version)
        return sid, n_matched, n_new
    except Exception:
        _cleanup()
        raise


def merge_iceberg(
    spark: SparkSession, root: str, source: DataFrame, on: list[str],
    when_matched: str = "update", insert: bool = True,
    broadcast_source_rows: int = 1_000_000,
    broadcast_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """``MERGE INTO <iceberg table at root> t USING <source> s ON
    <equi-keys>`` as one row-delta snapshot (module docstring).

    ``when_matched``: ``"update"`` (matched rows take the source's
    values) or ``"delete"``; ``insert=False`` drops not-matched source
    rows. Source must carry exactly the table's columns with UNIQUE
    key tuples under ``on`` (ANSI MERGE rule — refused otherwise).
    Join strategy is size-adaptive under the same gates as
    :func:`~.delta_dml.merge_delta` (shared defaults): the broadcast
    semi pre-filter of the target needs the source KEYS under
    ``broadcast_bytes`` / ``broadcast_source_rows``; the survivors
    broadcast back only when their estimated bytes (manifest
    record_count/file_size widths, inflated) also fit, else that join
    stays unhinted over the two delta-sized frames.
    Returns ``{"snapshot_id", "num_updated", "num_deleted",
    "num_inserted"}``; a no-change merge commits nothing and returns
    the current snapshot id.
    """
    import uuid as _uuid

    if when_matched not in ("update", "delete"):
        raise ValueError(
            f"when_matched must be 'update' or 'delete', "
            f"got {when_matched!r}"
        )

    def attempt():
        latest, meta, snaps, cur_sid = _load_v2_table(root, "merge_iceberg")

        schema = _table_schema(meta)
        table_cols = [f.name for f in schema.fields]
        bad_on = [c for c in on if c not in table_cols]
        if not on or bad_on:
            raise ValueError(
                f"merge keys {on} must be non-empty table columns "
                f"(schema: {table_cols})"
            )
        extra = [c for c in source.columns if c not in table_cols]
        missing = [c for c in table_cols if c not in source.columns]
        if extra or missing:
            raise IcebergProtocolError(
                f"source must carry exactly the table's columns; "
                f"extra={extra} missing={missing}"
            )
        src = source.select([
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ])
        # duplicate-key gate in ONE aggregate (count vs distinct null-safe
        # key structs) whose row count also drives the join strategy below
        row = src.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.struct(*[F.col(c) for c in on])).alias("nd"),
        ).collect()[0]
        if int(row["nd"]) != int(row["n"]):
            raise IcebergProtocolError(
                f"source has duplicate key tuples under {on}; MERGE "
                "requires at most one source row per target row"
            )
        n_src = int(row["n"])

        fpk, posk = "__ice_dml_file", "__ice_dml_pos"
        # byte-gate the rest of the merge (merge_delta's rule): inputs are
        # the snapshot's live files plus the source delta, both bounded
        # driver-side; `sess` and `src` are the AQE-off pinned clone
        # when small, the caller's session and frame otherwise
        from .io import BROADCAST_INFLATION
        from .io import schema_row_bytes as _srb

        # ONE manifest resolution serves the session gate here AND the
        # broadcast gates below (tot_bytes/tot_rows). A file without a
        # record_count makes the ROW total unknown but must never truncate
        # the BYTE total (est_broadcast_bytes' unknown-rows fallback bounds
        # by the whole table's inflated bytes).
        tot_bytes = tot_rows = 0
        data_files, _p, _e, _d = _live_files(meta, root, cur_sid)
        for _path, _pv, _seq, st, _sid, _frid in data_files:
            tot_bytes += int(st.get("file_size_in_bytes") or 0)
            nr = st.get("record_count")
            if nr is None or tot_rows < 0:
                tot_rows = -1  # any file without a count: row total unknown
            else:
                tot_rows += int(nr)
        tot_rows = max(tot_rows, 0)

        ctx = small_plan_session(
            src,
            est_bytes=BROADCAST_INFLATION * tot_bytes + n_src * _srb(schema),
        )
        sess, (src,) = ctx.__enter__()
        try:
            tgt = read_iceberg(
                sess, root, snapshot_id=cur_sid, _keep_keys=(fpk, posk)
            )
            s = src.alias("s")
            t = tgt.alias("t")
            cond = F.lit(True)
            for k in on:
                cond = cond & F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}"))
            # ONE source-sized join; every downstream frame projects from it.
            # Delta-sized sources (the normal case) take the low-shuffle shape
            # (optimization guide §3.2): a broadcast semi join on the source
            # keys pre-filters the target scan to matched rows — the target is
            # never shuffled — and the <=|source| survivors broadcast back for
            # the left join; table-sized sources keep the shuffled fallback.
            # Both broadcasts are gated on estimated BYTES as well as rows
            # (guide §3.1): the manifests' record_count/file_size_in_bytes
            # give the observed row width, so a wide table stops the
            # broadcast-back even under the row cap (the semi pre-filter stays
            # — keys are schema-width small).
            from .io import est_broadcast_bytes, schema_row_bytes
            from pyspark.sql.types import StructType as _ST

            key_schema = _ST([f for f in schema.fields if f.name in on])
            # tot_bytes/tot_rows computed once above, before the gate
            can_semi = (
                n_src <= broadcast_source_rows
                and n_src * schema_row_bytes(key_schema) <= broadcast_bytes
            )
            can_back = can_semi and est_broadcast_bytes(
                n_src, schema_row_bytes(schema), tot_bytes, tot_rows
            ) <= broadcast_bytes
            if can_semi:
                keys = src.select(*on).alias("s")
                t_hits = t.join(F.broadcast(keys), cond, "left_semi").alias("t")
                rhs = F.broadcast(t_hits) if can_back else t_hits
                j = s.join(rhs, cond, "left").persist()
            else:
                j = s.join(t, cond, "left").persist()
            try:
                matched = j.filter(F.col(fpk).isNotNull())
                unmatched = j.filter(F.col(fpk).isNull())
                s_cols = [F.col(f"s.{c}").alias(c) for c in table_cols]

                new_rows = unmatched.select(*s_cols) if insert else None
                if when_matched == "update":
                    upd = matched.select(*s_cols)
                    new_rows = (
                        upd if new_rows is None else new_rows.unionByName(upd)
                    )

                res = _stage_and_commit(
                    sess, root, latest, meta, snaps, cur_sid,
                    _uuid.uuid4().hex[:12],
                    matched.select(
                        F.col(fpk).alias("file_path"),
                        F.col(posk).alias("pos"),
                    ),
                    new_rows, "merge",
                    lambda n_m, n_n: {
                        "operation": "overwrite",
                        "merged-rows": str(n_m),
                        "added-rows": str(n_n),
                    },
                )
            finally:
                j.unpersist()
        finally:
            ctx.__exit__(None, None, None)
        if res is None:
            # refresh-and-reattempt against the new current snapshot:
            # the matched set may have changed, so the whole merge
            # re-runs (the source frame is unchanged)
            return Retry(IcebergProtocolError(
                "merge_iceberg lost the metadata CAS ten times in a "
                "row; a foreign writer is committing faster than the "
                "merge can refresh"
            ))
        sid, n_matched, n_new = res
        return {
            "snapshot_id": sid,
            "num_updated": n_matched if when_matched == "update" else 0,
            "num_deleted": n_matched if when_matched == "delete" else 0,
            "num_inserted": (
                n_new - (n_matched if when_matched == "update" else 0)
                if insert else 0
            ),
        }

    return optimistic_commit(attempt)


def update_iceberg(
    spark: SparkSession, root: str, predicate: str,
    assignments: dict[str, str],
) -> dict:
    """``UPDATE <iceberg table at root> SET <col = expr, ...> WHERE
    <predicate>`` as one row-delta snapshot: matched rows' (file,
    ordinal) pairs become a POSITION-DELETE file and their updated
    values land as new data files, both at the new snapshot's
    sequence number. Every SET expression evaluates against the
    PRE-update row (``SET a = b, b = a`` swaps); the predicate scan is
    ONE pass over the current snapshot with existing deletes applied.

    Returns ``{"snapshot_id", "num_updated"}``; a predicate matching
    nothing commits NOTHING. Conflicts follow the same metadata CAS
    as :func:`merge_iceberg`."""
    import uuid as _uuid

    def attempt():
        latest, meta, snaps, cur_sid = _load_v2_table(
            root, "update_iceberg"
        )
        schema = _table_schema(meta)
        table_cols = [f.name for f in schema.fields]
        if not assignments:
            raise ValueError("UPDATE needs at least one SET assignment")
        bad = [c for c in assignments if c not in table_cols]
        if bad:
            raise ValueError(
                f"SET columns {bad} not in the table schema "
                f"(columns: {table_cols})"
            )
        fpk, posk = "__ice_dml_file", "__ice_dml_pos"
        # byte-gate the whole op (merge_iceberg's rule): every frame below
        # is built from `sess` and consumed inside this op
        sess = small_plan_spark(
            spark, est_bytes=_table_bytes_est(meta, root, cur_sid)
        )
        tgt = read_iceberg(
            sess, root, snapshot_id=cur_sid, _keep_keys=(fpk, posk)
        )
        # PERSISTED: the pos-delete write and the new-rows write both read
        # this one evaluation — a nondeterministic predicate can never
        # strike one row set and rewrite a different one, and the
        # snapshot scans once, not per consumer (merge_iceberg's rule)
        matched = tgt.filter(F.expr(predicate)).persist()
        try:
            # all SET expressions see the PRE-update row: one projection
            new_rows = matched.select(*[
                (F.expr(assignments[f.name]).cast(f.dataType)
                 if f.name in assignments else F.col(f.name)).alias(f.name)
                for f in schema.fields
            ])
            res = _stage_and_commit(
                sess, root, latest, meta, snaps, cur_sid,
                _uuid.uuid4().hex[:12],
                matched.select(
                    F.col(fpk).alias("file_path"), F.col(posk).alias("pos")
                ),
                new_rows, "update",
                lambda n_m, _n_n: {
                    "operation": "overwrite",
                    "updated-rows": str(n_m),
                },
            )
        finally:
            matched.unpersist()
        if res is None:
            return Retry(IcebergProtocolError(
                "update_iceberg lost the metadata CAS ten times in a "
                "row; a foreign writer is committing faster than the "
                "update can refresh"
            ))
        sid, n_matched, _n_new = res
        return {"snapshot_id": sid, "num_updated": n_matched}

    return optimistic_commit(attempt)


def delete_from_iceberg(
    spark: SparkSession, root: str, predicate: str,
) -> dict:
    """``DELETE FROM <iceberg table at root> WHERE <predicate>`` as
    one row-delta snapshot: the doomed rows' (file, ordinal) pairs
    land as a POSITION-DELETE file whose manifest carries the new
    snapshot's sequence number — no data file is rewritten, time
    travel to prior snapshots is untouched, and
    :func:`~.iceberg.read_iceberg_changelog` replays the snapshot as
    exact deleted rows. The predicate scan is ONE pass over the
    current snapshot with existing deletes already applied (a dead row
    can never be re-deleted, so changelog replay stays exact).

    Returns ``{"snapshot_id", "num_deleted"}``; a predicate matching
    nothing commits NOTHING and returns the current snapshot id.
    Conflicts follow the same metadata CAS as :func:`merge_iceberg`
    (lost races refresh and re-run, bounded)."""
    import uuid as _uuid

    def attempt():
        latest, meta, snaps, cur_sid = _load_v2_table(
            root, "delete_from_iceberg"
        )
        fpk, posk = "__ice_dml_file", "__ice_dml_pos"
        # byte-gate the whole op (merge_iceberg's rule)
        sess = small_plan_spark(
            spark, est_bytes=_table_bytes_est(meta, root, cur_sid)
        )
        tgt = read_iceberg(
            sess, root, snapshot_id=cur_sid, _keep_keys=(fpk, posk)
        )
        matched = tgt.filter(F.expr(predicate)).select(
            F.col(fpk).alias("file_path"), F.col(posk).alias("pos")
        )
        res = _stage_and_commit(
            sess, root, latest, meta, snaps, cur_sid,
            _uuid.uuid4().hex[:12], matched, None, "delete",
            lambda n_m, _n_n: {
                "operation": "delete",
                "deleted-rows": str(n_m),
            },
        )
        if res is None:
            return Retry(IcebergProtocolError(
                "delete_from_iceberg lost the metadata CAS ten times "
                "in a row; a foreign writer is committing faster than "
                "the delete can refresh"
            ))
        sid, n_matched, _n_new = res
        return {"snapshot_id": sid, "num_deleted": n_matched}

    return optimistic_commit(attempt)
