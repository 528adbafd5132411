"""Delta ROW-LEVEL DML — DELETE via deletion vectors and MERGE INTO
emitting the change data feed (PROTOCOL.md "Deletion Vectors",
"Add File and Remove File", "Change Data Files", "Writer Requirements
for Deletion Vectors"). The reference notebook mutates pandas frames
in place (e.g. dropping rows / reassigning labels, py:150-166); a
lakehouse user's equivalent is DELETE / MERGE against a Delta table —
the most common write operation this engine's read side
(DV-aware scans, CDF reader, checkpoints carrying DVs) already
understands. This module adds the WRITER half.

Spark-first shape, built for the 100 TB case:

* Finding doomed rows is ONE DataFrame scan over the live files with
  ``_metadata.row_index`` bookkeeping — predicate evaluation is
  JVM-side (``F.expr``), existing DVs are anti-joined so an already
  deleted row is never re-counted, and Catalyst pushes the predicate
  into the parquet scan where it is sargable. The hit set is
  PERSISTED so the CDF images and the DV positions come from ONE
  evaluation (a nondeterministic predicate can never commit images
  that disagree with the vectors).
* DV serialization happens ON EXECUTORS: hit positions group by file
  (``applyInPandas``, one task per touched file) and each task writes
  its roaring bitmap sidecar (:mod:`.dv`); the driver only ever sees
  one summary row per touched file — never a position list.
* The commit is the same put-if-absent CAS every writer in this repo
  uses; a lost race against a commit touching DISJOINT files rebases
  to the next version (blind appends and unrelated deletes don't
  conflict — Delta's WriteSerializable rule), while a raced commit
  touching any of OUR files, or any metaData/protocol change, raises.
* Time travel is untouched by construction (the log is append-only);
  a second DELETE hitting a file that already carries a DV MERGES the
  bitmaps (old positions ∪ new hits) — the spec's requirement that an
  add's DV always describes ALL deleted rows of the file.
* PARTITIONED tables and COLUMN MAPPING follow the read path's
  contract exactly: data and cdc files are written with PHYSICAL
  column names EXCLUDING partition columns, one file set per
  partition tuple, with the tuple recorded in each action's
  ``partitionValues`` (keyed by physical name) — the manifest-join
  read shape of ``read_delta`` / ``read_delta_changes``.

Delta tables written by this engine (``export_delta_log``) don't
declare the feature up front, so ``delete_from_delta`` declares
``deletionVectors`` (reader 3 / writer 7, legacy-implied reader AND
writer features enumerated — the spec's table-features upgrade rule)
and sets ``delta.enableDeletionVectors`` in the SAME commit when
missing: the combined ALTER + DELETE the protocol permits, atomic
either way.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import small_plan_session, small_plan_spark


def _live_bytes_est(root: str, live: dict) -> int:
    """Driver-side byte bound for a DML op over the table's LIVE files
    (disk sizes inflated to in-memory width) — feeds the small-plan
    byte gate: provably-small tables run the op's fixed-shape plan
    AQE-off with an input-derived partition pin; big tables (the
    at-scale regime) keep the caller's session and AQE untouched."""
    from .io import BROADCAST_INFLATION

    return BROADCAST_INFLATION * sum(
        os.path.getsize(ap)
        for rel in live
        for ap in (os.path.join(root, rel),)
        if os.path.exists(ap)
    )
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .commit import Retry, optimistic_commit
from .delta import (
    DELTA_LOG_DIR,
    DeltaProtocolError,
    _commit_actions,
    _commit_info,
    _declared_protocol,
    _dv_positions_df,
    _mapping_info,
    _now_ms,
    _publish_commit,
    _replay_log,
)
from .delta_constraints import (
    _SUPPORTED_WRITER_FEATURES,
    _legacy_writer_features,
)

__all__ = ["delete_from_delta", "merge_delta", "update_delta"]

#: writer features whose ROW-DELETE obligations this path implements:
#: everything the append path supports, plus rowTracking (the re-added
#: file carries its original baseRowId/defaultRowCommitVersion stamps,
#: so row lineage survives — deleted positions simply vanish without
#: renumbering, which is exactly the feature's rule for DVs).
_DML_SUPPORTED_WRITER_FEATURES = _SUPPORTED_WRITER_FEATURES | {
    "rowTracking",
}

#: hive's null-partition sentinel, what write.partitionBy emits for a
#: NULL partition value; Delta serializes null as a null map value
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


class _TableInfo:
    """The per-call resolution of one Delta table's metadata the DML
    paths thread around: logical schema, SCAN schema (physical names
    under name mapping; logical names annotated with parquet field ids
    under id mapping), column-mapping maps, mapping mode, and partition
    columns (``_mapping_info``'s tuple, named)."""

    __slots__ = (
        "meta", "schema", "phys_schema", "phys_of", "pv_key_of",
        "part_cols", "mode",
    )

    def __init__(self, spark, meta):
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        (self.schema, self.phys_schema, self.phys_of, self.pv_key_of,
         self.part_cols) = _mapping_info(spark, meta, schema)
        self.mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        self.meta = meta


def _gate_writer_features(log_dir: str, supported: frozenset | set) -> dict:
    """Refuse to write into a table declaring writer features whose
    obligations we don't implement; returns the declared protocol."""
    proto = _declared_protocol(log_dir) or {}
    if int(proto.get("minWriterVersion", 1)) >= 7:
        unsupported = set(proto.get("writerFeatures") or []) - set(supported)
        if unsupported:
            raise DeltaProtocolError(
                f"table declares writer features {sorted(unsupported)} "
                "whose write obligations this DML path does not "
                "implement; refusing to commit a non-conforming change"
            )
    return proto


def _legacy_reader_features(min_reader_version: int) -> set[str]:
    """The reader features a LEGACY minReaderVersion implies (the
    reader half of PROTOCOL.md's table-features upgrade rule — a v2
    reader's columnMapping obligation must be enumerated when moving
    to reader version 3, or a conforming v3 reader legally ignores
    the mapping and reads physical names as logical). Version 3 IS
    table-features mode: its obligations are already enumerated in
    ``readerFeatures``, so it implies nothing — adding columnMapping
    to a v3 table that never mapped would force conforming foreign
    readers to refuse it."""
    implied: set[str] = set()
    if min_reader_version == 2:
        implied |= {"columnMapping"}
    return implied


def _dv_feature_actions(proto: dict, meta: dict) -> tuple[list, dict | None]:
    """Protocol / metaData actions needed before this table may carry
    deletion vectors: declare the ``deletionVectors`` reader+writer
    feature (enumerating legacy-implied reader AND writer features,
    the spec's upgrade rule) and set ``delta.enableDeletionVectors``.
    Empty when already declared."""
    actions: list[dict] = []
    mrv = int(proto.get("minReaderVersion", 1))
    mwv = int(proto.get("minWriterVersion", 1))
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    if mrv < 3 or mwv < 7 or "deletionVectors" not in rf \
            or "deletionVectors" not in wf:
        wf |= _legacy_writer_features(mwv)
        rf |= _legacy_reader_features(mrv)
        wf.add("deletionVectors")
        rf.add("deletionVectors")
        actions.append({"protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rf),
            "writerFeatures": sorted(wf),
        }})
    conf = dict(meta.get("configuration") or {})
    meta_action = None
    if str(conf.get("delta.enableDeletionVectors", "")).lower() != "true":
        conf["delta.enableDeletionVectors"] = "true"
        meta_action = {**meta, "configuration": conf}
    return actions, meta_action


def _scan_with_positions(
    spark: SparkSession, root: str, info: _TableInfo, live: dict,
    dvs: dict, key: str, posk: str,
) -> DataFrame:
    """ONE DataFrame over the live files carrying every LOGICAL column
    plus (decoded file path, parquet row ordinal) bookkeeping, with
    existing deletion vectors already anti-joined — the snapshot a
    row-level DML evaluates its predicate against. Mirrors
    ``read_delta``'s scan shape (single scan node, partition values
    attached via a broadcast manifest join, column mapping
    resolved)."""
    from .io import decoded_file_path

    schema, phys_of, pv_key_of, part_cols = (
        info.schema, info.phys_of, info.pv_key_of, info.part_cols
    )
    # data files store only non-partition columns, under the SCAN
    # schema's names (the _mapping_info resolution _TableInfo holds)
    data_schema = StructType([
        pf for f, pf in zip(schema.fields, info.phys_schema.fields)
        if f.name not in part_cols
    ])
    paths = sorted(
        os.path.abspath(os.path.join(root, rel)) for rel in live
    )
    df = spark.read.schema(data_schema).parquet(*paths).select(
        *[F.col(f.name) for f in data_schema.fields],
        decoded_file_path(F.input_file_name()).alias(key),
        F.col("_metadata.row_index").alias(posk),
    )
    dv_live = {rel: d for rel, d in dvs.items() if rel in live}
    if dv_live:
        dels = _dv_positions_df(spark, root, dv_live, key, posk)
        df = df.join(F.broadcast(dels), [key, posk], "left_anti")
    if part_cols:
        phys_parts = [phys_of[c] for c in part_cols]
        pv_schema = StructType(
            [StructField(key, StringType(), False)]
            + [StructField(c, StringType(), True) for c in phys_parts]
        )
        pv_rows = [
            tuple(
                [os.path.abspath(os.path.join(root, rel))]
                + [
                    (None if pv.get(pv_key_of[c], pv.get(c)) is None
                     else str(pv.get(pv_key_of[c], pv.get(c))))
                    for c in part_cols
                ]
            )
            for rel, pv in live.items()
        ]
        pv_df = spark.createDataFrame(pv_rows, pv_schema)
        df = df.join(F.broadcast(pv_df), key, "left")
    return df.select(
        *[
            F.col(phys_of[f.name]).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ],
        F.col(key),
        F.col(posk),
    )


def _write_dvs_for_hits(
    hits: DataFrame, root: str, live: dict, dvs: dict, key: str, posk: str,
) -> list[dict]:
    """Serialize one MERGED deletion vector per touched file, on
    executors (one ``applyInPandas`` task per file): new hit positions
    ∪ the file's existing DV positions. Returns one driver-side summary
    dict per touched file — never a position list."""
    root_abs = os.path.abspath(root)
    #: abs data path -> (rel path, existing descriptor JSON | None);
    #: driver-built metadata captured by the task closure (O(files),
    #: KBs per thousand files — the same scale as the log itself)
    desc_of = {
        os.path.abspath(os.path.join(root, rel)): (
            rel, json.dumps(dvs[rel]) if rel in dvs else None
        )
        for rel in live
    }
    out_schema = StructType([
        StructField("file", StringType(), False),
        StructField("dv_rel", StringType(), False),
        StructField("size_bytes", LongType(), False),
        StructField("cardinality", LongType(), False),
        StructField("new_deletes", LongType(), False),
    ])

    def write_group(pdf):
        import uuid as _uuid

        import pandas as pd

        from predicting_hospital_readmission_using_mimic_database_spark.sources.dv import (
            read_dv_descriptor,
            write_dv_file,
        )

        fp = pdf[key].iloc[0]
        _rel, old_json = desc_of[fp]
        old = (
            read_dv_descriptor(json.loads(old_json), root_abs)
            if old_json else []
        )
        merged = sorted(set(old) | {int(p) for p in pdf[posk]})
        # attempt-unique name: a retried task writes a fresh sidecar
        # and the loser's bytes stay unreferenced (vacuum collects)
        dv_rel = f"deletion_vector_{_uuid.uuid4().hex}.bin"
        desc = write_dv_file(os.path.join(root_abs, dv_rel), merged)
        return pd.DataFrame([{
            "file": fp,
            "dv_rel": dv_rel,
            "size_bytes": int(desc["sizeInBytes"]),
            "cardinality": int(desc["cardinality"]),
            "new_deletes": int(len(merged) - len(old)),
        }])

    return [
        r.asDict()
        for r in hits.groupBy(key).applyInPandas(
            write_group, out_schema
        ).collect()
    ]


def _needs_nested_ids(dt) -> bool:
    """True when an id-mapped write of this type would need parquet
    field ids BELOW the top level (struct fields anywhere inside) —
    the alias-metadata stamping in :func:`_data_write_cols` covers
    only top-level columns."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return True
    if isinstance(dt, T.ArrayType):
        return _needs_nested_ids(dt.elementType)
    if isinstance(dt, T.MapType):
        return _needs_nested_ids(dt.keyType) or _needs_nested_ids(
            dt.valueType
        )
    return False


def _data_write_cols(
    spark: SparkSession, info: _TableInfo, extra_cols: tuple = (),
) -> list:
    """The SELECT list that lands table files in the READ PATH's
    contract: scan-schema column names, partition columns excluded,
    and — under ``id`` column mapping — each column's
    ``parquet.field.id`` re-attached via alias metadata with the
    session's field-id WRITER enabled, so the table's own
    field-id-resolving readers accept the new files (transformed
    frames lose the scan schema's metadata; a plain alias would write
    id-less files the id-mode read path refuses)."""
    if info.mode == "id":
        for f in info.schema.fields:
            if _needs_nested_ids(f.dataType):
                raise DeltaProtocolError(
                    f"column mapping is 'id' and column {f.name!r} "
                    "contains nested struct fields; stamping NESTED "
                    "parquet field ids on DML-written files is not "
                    "implemented — the files would be unreadable by "
                    "id resolution, refusing to write them"
                )
        spark.conf.set(
            "spark.sql.parquet.fieldId.write.enabled", "true"
        )
    cols = []
    for f, pf in zip(info.schema.fields, info.phys_schema.fields):
        if f.name in info.part_cols:
            continue
        cols.append(
            F.col(f.name).alias(pf.name, metadata=dict(pf.metadata))
            if pf.metadata
            else F.col(f.name).alias(pf.name)
        )
    return cols + [F.col(c) for c in extra_cols]


def _place_files(
    spark: SparkSession, root: str, df: DataFrame, info: _TableInfo,
    subdir: str, prefix: str, extra_cols: tuple = (),
) -> list[tuple[str, dict]]:
    """Write ``df`` (logical columns [+ ``extra_cols`` passthroughs
    like ``_change_type``]) the way the READ PATH expects table files:
    PHYSICAL column names (field ids stamped under id mapping),
    partition columns EXCLUDED from the file bytes, one file set per
    partition tuple. Returns the placed
    ``[(rel path, partitionValues map keyed by physical name)]``.
    ``subdir`` prefixes the placement (e.g. ``_change_data``; empty
    for data files)."""
    import glob as _glob
    import shutil as _shutil

    part_cols, pv_key_of = info.part_cols, info.pv_key_of
    data_cols = _data_write_cols(spark, info, extra_cols)
    stage = os.path.join(root, f".stage-{prefix}-{uuid.uuid4().hex}")
    placed: list[tuple[str, dict]] = []
    try:
        if not part_cols:
            df.select(*data_cols).write.parquet(stage)
            parts = sorted(
                _glob.glob(os.path.join(stage, "part-*.parquet"))
            )
            for part in parts:
                rel = os.path.join(
                    subdir, f"{prefix}-{uuid.uuid4().hex}.parquet"
                ) if subdir else f"{prefix}-{uuid.uuid4().hex}.parquet"
                os.makedirs(
                    os.path.dirname(os.path.join(root, rel)) or root,
                    exist_ok=True,
                )
                _shutil.move(part, os.path.join(root, rel))
                placed.append((rel, {}))
            return placed
        # partitioned: stage with partitionBy on the PARTITION VALUE
        # serialization (one string column per partition col), then
        # place each tuple's files under hive-style dirs — the
        # spec's string round-trip, same shape read_delta casts back
        pv_cols = [
            F.col(c).cast("string").alias("__pv_" + pv_key_of[c])
            for c in part_cols
        ]
        (
            df.select(*data_cols, *pv_cols)
            .write.partitionBy([f"__pv_{pv_key_of[c]}" for c in part_cols])
            .parquet(stage)
        )
        for part in sorted(_glob.glob(
            os.path.join(stage, *(["*"] * len(part_cols)), "part-*.parquet")
        )):
            reld = os.path.relpath(os.path.dirname(part), stage)
            pv: dict = {}
            dirs = []
            for comp in reld.split(os.sep):
                k, _, v = comp.partition("=")
                k = k[len("__pv_"):]
                v = unquote(v)
                pv[k] = None if v == _HIVE_NULL else v
                dirs.append(f"{k}={v}")
            rel = os.path.join(
                *( [subdir] if subdir else [] ), *dirs,
                f"{prefix}-{uuid.uuid4().hex}.parquet",
            )
            os.makedirs(os.path.dirname(os.path.join(root, rel)),
                        exist_ok=True)
            _shutil.move(part, os.path.join(root, rel))
            placed.append((rel, pv))
        return placed
    finally:
        _shutil.rmtree(stage, ignore_errors=True)


def _stage_cdc_files(
    spark: SparkSession, root: str, cdf: DataFrame, info: _TableInfo,
) -> tuple[list[dict], list[str]]:
    """Write ``cdf`` (logical columns + ``_change_type``) under
    ``_change_data/`` in the READER's shape — physical names, no
    partition columns in-file, per-partition files with the tuple in
    each cdc action's ``partitionValues`` — and return (cdc actions,
    written rel paths). An empty frame still lands one empty change
    file — a cdc-carrying commit means "these ARE the changes"
    (spec)."""
    placed = _place_files(
        spark, root, cdf, info, "_change_data", "cdc",
        extra_cols=("_change_type",),
    )
    if not placed:
        empty = cdf.limit(0)
        data_cols = _data_write_cols(
            spark, info, extra_cols=("_change_type",)
        )
        import glob as _glob
        import shutil as _shutil

        stage = os.path.join(root, f".stage-cdc0-{uuid.uuid4().hex}")
        empty.select(*data_cols).coalesce(1).write.parquet(stage)
        (part,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
        rel = f"_change_data/cdc-{uuid.uuid4().hex}.parquet"
        os.makedirs(os.path.join(root, "_change_data"), exist_ok=True)
        _shutil.move(part, os.path.join(root, rel))
        _shutil.rmtree(stage)
        placed = [(rel, {})]
    actions, rels = [], []
    for rel, pv in placed:
        actions.append({"cdc": {
            "path": rel,
            "partitionValues": pv,
            "size": os.path.getsize(os.path.join(root, rel)),
            "dataChange": False,
        }})
        rels.append(rel)
    return actions, rels


def _loose_stats(raw: str | None) -> str | None:
    """An add re-published with a deletion vector keeps its stats but
    marks them ``tightBounds: false`` (spec: min/max still bound the
    PHYSICAL rows, some of which are now dead — data skipping stays
    correct, exact-count shortcuts don't)."""
    if not raw:
        return None
    try:
        st = json.loads(raw)
    except ValueError:
        return None
    st["tightBounds"] = False
    return json.dumps(st)


def _dv_remove_add_actions(
    root: str, results: list[dict], live: dict, dvs: dict,
    stats_of: dict, rowids: dict, rt_enforced: bool,
) -> tuple[list[dict], list[dict], list[str], int, int, int]:
    """Per touched file, the spec's remove/re-add pair: remove the old
    add (carrying its prior DV, if any), re-add the SAME data file
    with the merged DV descriptor (stats loosened, rowTracking stamps
    carried) — or, when the merged cardinality equals the file's
    physical row count, remove the file outright and reclaim the
    fresh sidecar. Returns (removes, dv_adds, kept sidecar rels,
    n_new_deletes, n_files_with_dvs, n_files_removed). Shared by
    DELETE and MERGE — the spec obligations live in one place."""
    import pyarrow.parquet as pq

    abs_to_rel = {
        os.path.abspath(os.path.join(root, rel)): rel for rel in live
    }
    now = _now_ms()
    removes: list[dict] = []
    dv_adds: list[dict] = []
    dv_rels: list[str] = []
    n_deleted = n_dv = n_gone = 0
    for r in sorted(results, key=lambda r: r["file"]):
        rel = abs_to_rel[r["file"]]
        n_phys = pq.read_metadata(os.path.join(root, rel)).num_rows
        if r["cardinality"] > n_phys:
            raise DeltaProtocolError(
                f"deletion vector for {rel} marks {r['cardinality']} "
                f"rows but the file holds {n_phys}; refusing to commit "
                "a corrupt descriptor"
            )
        n_deleted += int(r["new_deletes"])
        pv = dict(live[rel])
        rm = {
            "path": rel,
            "deletionTimestamp": now,
            "dataChange": True,
            "partitionValues": pv,
        }
        if rel in dvs:
            rm["deletionVector"] = dict(dvs[rel])
        removes.append({"remove": rm})
        if r["cardinality"] == n_phys:
            # every physical row is now dead: drop the file entirely —
            # and the just-written sidecar, which nothing references
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(root, r["dv_rel"]))
            n_gone += 1
            continue
        n_dv += 1
        dv_rels.append(r["dv_rel"])
        add = {
            "path": rel,
            "partitionValues": pv,
            "size": os.path.getsize(os.path.join(root, rel)),
            "modificationTime": 0,
            "dataChange": True,
            "deletionVector": {
                "storageType": "p",
                "pathOrInlineDv": r["dv_rel"],
                "offset": 1,
                "sizeInBytes": int(r["size_bytes"]),
                "cardinality": int(r["cardinality"]),
            },
        }
        st = _loose_stats(stats_of.get(rel))
        if st:
            add["stats"] = st
        if rel in rowids:
            add["baseRowId"], add["defaultRowCommitVersion"] = rowids[rel]
        elif rt_enforced:
            raise DeltaProtocolError(
                f"table enables rowTracking but live file {rel} "
                "carries no baseRowId stamp; cannot re-add it without "
                "breaking row lineage"
            )
        dv_adds.append({"add": add})
    return removes, dv_adds, dv_rels, n_deleted, n_dv, n_gone


def _commit_file_level_cas(
    log_dir: str, root: str, start_version: int, build_actions,
    our_paths: set, exclusive: bool, cleanup_rels: list[str],
) -> int:
    """Put-if-absent CAS with Delta's file-level conflict rule: a lost
    race rebases to the next version when the raced commit touched
    only DISJOINT files (blind appends / unrelated row deletes don't
    conflict under WriteSerializable); any raced metaData/protocol
    change, any overlap with ``our_paths``, or ``exclusive`` (this
    commit itself changes metadata/protocol) raises. On raise, every
    path in ``cleanup_rels`` (our staged DV / cdc / data files —
    referenced by nothing) is removed."""
    version = start_version

    def attempt():
        nonlocal version
        if _publish_commit(log_dir, version, build_actions(version)):
            return version
        raced = _commit_actions(log_dir, version)
        if any("metaData" in a or "protocol" in a for a in raced):
            raise DeltaProtocolError(
                f"lost the commit race at version {version} to a "
                "concurrent metaData/protocol change; re-validate "
                "against the new rules and re-run"
            )
        if exclusive:
            raise DeltaProtocolError(
                f"lost the commit race at version {version} while "
                "upgrading the table protocol/metadata for deletion "
                "vectors; re-run against the new state"
            )
        raced_paths = set()
        for a in raced:
            if "add" in a:
                raced_paths.add(unquote(a["add"]["path"]))
            elif "remove" in a:
                raced_paths.add(unquote(a["remove"]["path"]))
        overlap = sorted(raced_paths & our_paths)
        if overlap:
            raise DeltaProtocolError(
                f"concurrent commit {version} modified file(s) "
                f"{overlap[:3]} this DML also rewrites; re-run against "
                "the new snapshot"
            )
        version += 1
        return Retry(DeltaProtocolError(
            f"lost the commit race ten times in a row starting at "
            f"version {start_version}"
        ))

    try:
        return optimistic_commit(attempt)
    except DeltaProtocolError:
        for rel in cleanup_rels:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(root, rel))
        raise


def _rt_enforced(proto: dict, conf: dict) -> bool:
    """rowTracking SUPPORTED but not ENABLED imposes nothing (files
    may legally lack stamps); enabled lineage must survive a
    re-add."""
    return (
        "rowTracking" in set(proto.get("writerFeatures") or [])
        and str(conf.get("delta.enableRowTracking", "")).lower() == "true"
    )


class _DmlBase:
    """The per-call state every row-level DML op resolves the same
    way: one log replay (with stats/rowid harvest) plus the
    appendOnly and writer-feature gates. One prologue to audit, not
    three."""

    __slots__ = (
        "meta", "live", "dvs", "last", "log_dir", "conf", "proto",
        "stats_of", "rowids",
    )

    def __init__(self, root: str, op: str):
        self.stats_of = {}
        self.rowids = {}
        self.meta, self.live, self.dvs, self.last = _replay_log(
            root, stats_out=self.stats_of, rowids_out=self.rowids
        )
        self.log_dir = os.path.join(root, DELTA_LOG_DIR)
        self.conf = self.meta.get("configuration") or {}
        if str(self.conf.get("delta.appendOnly", "")).lower() == "true":
            raise DeltaProtocolError(
                f"table declares delta.appendOnly=true; {op} writes "
                "remove actions, which append-only tables forbid"
            )
        self.proto = _gate_writer_features(
            self.log_dir, _DML_SUPPORTED_WRITER_FEATURES
        )

    def cdf_on(self) -> bool:
        return str(self.conf.get("delta.enableChangeDataFeed", "")
                   ).lower() == "true"


def _commit_row_delta(
    root: str, base: _DmlBase, operation: str,
    results: list[dict], placed: list[tuple[str, dict]],
    cdc_actions: list[dict], cdc_rels: list[str],
    rt_enforced: bool,
) -> tuple[int, int, int, int, int] | None:
    """The commit half every row-level DML op shares: prune zero-row
    placed files BEFORE deciding anything (a no-change op must commit
    NOTHING, not a junk commitInfo-only version), assemble the
    remove/re-add DV pairs and new adds, ride the protocol/property
    upgrade only when a DV actually lands, and publish under the
    file-level CAS. Returns ``(version, n_deleted, n_dv, n_gone,
    n_new)`` — or ``None`` for the no-change case, with the staged cdc
    files already reclaimed (the caller returns its own noop dict)."""
    from .delta_constraints import _file_stats

    import pyarrow.parquet as pq

    new_adds: list[dict] = []
    new_rels: list[str] = []
    n_new = 0
    for rel, pv in placed:
        n = pq.read_metadata(os.path.join(root, rel)).num_rows
        if not n:
            os.remove(os.path.join(root, rel))
            continue
        n_new += n
        new_rels.append(rel)
        new_adds.append({"add": {
            "path": rel,
            "partitionValues": pv,
            "size": os.path.getsize(os.path.join(root, rel)),
            "modificationTime": 0,
            "dataChange": True,
            "stats": _file_stats(os.path.join(root, rel)),
        }})

    if not results and not new_adds:
        for rel in cdc_rels:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(root, rel))
        return None

    removes, dv_adds, dv_rels, n_deleted, n_dv, n_gone = (
        _dv_remove_add_actions(
            root, results, base.live, base.dvs, base.stats_of,
            base.rowids, rt_enforced,
        )
    )
    # only whole-file removes / pure inserts: no DV lands, no upgrade
    proto_actions, meta_action = (
        _dv_feature_actions(base.proto, base.meta)
        if n_dv else ([], None)
    )
    ict_on = str(base.conf.get("delta.enableInCommitTimestamps", "")
                 ).lower() == "true"

    def build(v: int) -> list[dict]:
        return [
            _commit_info(base.log_dir, v, operation, ict_on),
            *proto_actions,
            *([{"metaData": meta_action}] if meta_action else []),
            *cdc_actions,
            *removes,
            *new_adds,
            *dv_adds,
        ]

    version = _commit_file_level_cas(
        base.log_dir, root, base.last + 1, build,
        our_paths={a["remove"]["path"] for a in removes},
        exclusive=bool(proto_actions or meta_action),
        cleanup_rels=dv_rels + cdc_rels + new_rels,
    )
    return version, n_deleted, n_dv, n_gone, n_new


def delete_from_delta(
    spark: SparkSession, root: str, predicate: str,
) -> dict:
    """``DELETE FROM <table at root> WHERE <predicate>`` via deletion
    vectors: no data file is rewritten — each touched file is
    re-added with a roaring-bitmap sidecar marking its doomed row
    ordinals, committed atomically as remove/add pairs (module
    docstring for the full shape). A file whose EVERY live row matches
    is removed outright (no DV). When the table declares
    ``delta.enableChangeDataFeed``, the commit also stages the deleted
    row images under ``_change_data/`` (spec writer requirement), so
    :func:`~.delta.read_delta_changes` replays the DELETE exactly.

    Returns ``{"version", "num_deleted", "files_with_dvs",
    "files_removed"}``; a predicate matching nothing commits NOTHING
    and returns the current version with ``num_deleted`` 0.

    Survivor rows are NOT re-validated against CHECK constraints —
    deleting rows cannot create a violation (the spec imposes no
    delete-time scan), so a DELETE costs one predicate scan + O(hit
    files) sidecar writes no matter what the table declares.
    """
    base = _DmlBase(root, "DELETE")
    noop = {
        "version": base.last, "num_deleted": 0,
        "files_with_dvs": 0, "files_removed": 0,
    }
    if not base.live:
        return noop

    # every frame below is built from `spark` and consumed inside this
    # op: byte-gate the whole computation (see _live_bytes_est)
    spark = small_plan_spark(
        spark, est_bytes=_live_bytes_est(root, base.live)
    )
    info = _TableInfo(spark, base.meta)
    key, posk = "__dml_file", "__dml_pos"
    scan = _scan_with_positions(
        spark, root, info, base.live, base.dvs, key, posk
    )
    # ONE evaluation of the predicate serves both the CDF images and
    # the DV positions (persisted): a nondeterministic predicate can
    # never commit images that disagree with the vectors, and the
    # doomed-row scan runs once, not per consumer
    hits = scan.filter(F.expr(predicate)).persist()
    try:
        cdc_actions: list[dict] = []
        cdc_rels: list[str] = []
        if base.cdf_on():
            images = hits.select(
                *[F.col(f.name) for f in info.schema.fields],
                F.lit("delete").alias("_change_type"),
            )
            cdc_actions, cdc_rels = _stage_cdc_files(
                spark, root, images, info
            )

        results = _write_dvs_for_hits(
            hits.select(key, posk), root, base.live, base.dvs, key, posk
        )
    finally:
        hits.unpersist()

    out = _commit_row_delta(
        root, base, "DELETE", results, [], cdc_actions, cdc_rels,
        _rt_enforced(base.proto, base.conf),
    )
    if out is None:
        return noop
    version, n_deleted, n_dv, n_gone, _n_new = out
    return {
        "version": version,
        "num_deleted": n_deleted,
        "files_with_dvs": n_dv,
        "files_removed": n_gone,
    }


def update_delta(
    spark: SparkSession, root: str, predicate: str,
    assignments: dict[str, str],
) -> dict:
    """``UPDATE <table at root> SET <col = expr, ...> WHERE
    <predicate>`` — the row-delta shape: matched rows die via DELETION
    VECTORS on their files, their updated values land as NEW parquet
    files, one commit. Every SET expression is evaluated against the
    PRE-update row (standard UPDATE semantics — ``SET a = b, b = a``
    swaps), generated columns are RECOMPUTED from their declared
    expressions (assigning one directly refuses, as does assigning an
    identity column), and the updated rows are validated against the
    table's CHECK / invariant / NOT NULL rules in one aggregate pass —
    a violation commits nothing. Updating a PARTITION column moves the
    row: the new file lands under the new partition tuple while the DV
    kills the old row in place.

    When the table declares ``delta.enableChangeDataFeed``, the commit
    stages exact update_preimage / update_postimage rows under
    ``_change_data/`` from the SAME persisted hit evaluation that
    produced the vectors. Conflicts follow the file-level CAS rules of
    :func:`delete_from_delta`.

    Returns ``{"version", "num_updated", "files_with_dvs",
    "files_removed"}``; a predicate matching nothing commits NOTHING.
    """
    from .delta_constraints import delta_table_constraints

    base = _DmlBase(root, "UPDATE")
    if _rt_enforced(base.proto, base.conf):
        raise DeltaProtocolError(
            "table enables rowTracking; UPDATE would need fresh "
            "baseRowId allocation for its rewritten rows — not "
            "implemented, refusing to break row lineage"
        )
    rules = delta_table_constraints(root, meta=base.meta)
    info = _TableInfo(spark, base.meta)
    table_cols = [f.name for f in info.schema.fields]
    if not assignments:
        raise ValueError("UPDATE needs at least one SET assignment")
    bad = [c for c in assignments if c not in table_cols]
    if bad:
        raise ValueError(
            f"SET columns {bad} not in the table schema "
            f"(columns: {table_cols})"
        )
    for c in assignments:
        if c in rules["generated"]:
            raise DeltaProtocolError(
                f"column {c!r} is GENERATED ALWAYS AS "
                f"({rules['generated'][c]}); it is recomputed, not "
                "assigned — drop it from SET"
            )
        if c in rules["identity"]:
            raise DeltaProtocolError(
                f"column {c!r} is an IDENTITY column; UPDATE-time "
                "identity assignment is not implemented"
            )

    noop = {
        "version": base.last, "num_updated": 0,
        "files_with_dvs": 0, "files_removed": 0,
    }
    if not base.live:
        return noop

    # byte-gate the whole op (delete_from_delta's rule)
    spark = small_plan_spark(
        spark, est_bytes=_live_bytes_est(root, base.live)
    )
    key, posk = "__dml_file", "__dml_pos"
    scan = _scan_with_positions(
        spark, root, info, base.live, base.dvs, key, posk
    )
    # ONE persisted evaluation serves the DV positions AND both CDF
    # image sets (delete_from_delta's rule)
    hits = scan.filter(F.expr(predicate)).persist()
    try:
        # SET expressions all see the PRE-update row (one projection);
        # generated columns recompute over the POST-set row after it
        updated = hits.select(
            *[
                (F.expr(assignments[f.name]).cast(f.dataType)
                 if f.name in assignments else F.col(f.name)
                 ).alias(f.name)
                for f in info.schema.fields
            ],
            F.col(key), F.col(posk),
        )
        for gcol, gexpr in sorted(rules["generated"].items()):
            gtype = info.schema[gcol].dataType
            updated = updated.withColumn(
                gcol, F.expr(gexpr).cast(gtype)
            )
        _validate_row_rules(
            updated.select(*table_cols), rules, "UPDATE"
        )

        cdc_actions: list[dict] = []
        cdc_rels: list[str] = []
        if base.cdf_on():
            images = hits.select(
                *[F.col(c) for c in table_cols],
                F.lit("update_preimage").alias("_change_type"),
            ).unionByName(updated.select(
                *[F.col(c) for c in table_cols],
                F.lit("update_postimage").alias("_change_type"),
            ))
            cdc_actions, cdc_rels = _stage_cdc_files(
                spark, root, images, info
            )

        results = _write_dvs_for_hits(
            hits.select(key, posk), root, base.live, base.dvs, key, posk
        )
        placed = (
            _place_files(
                spark, root, updated.select(*table_cols), info,
                "", "update",
            )
            if results else []
        )
    finally:
        hits.unpersist()

    out = _commit_row_delta(
        root, base, "UPDATE", results, placed, cdc_actions, cdc_rels,
        _rt_enforced(base.proto, base.conf),
    )
    if out is None:
        return noop
    version, n_updated, n_dv, n_gone, _n_new = out
    return {
        "version": version,
        "num_updated": n_updated,
        "files_with_dvs": n_dv,
        "files_removed": n_gone,
    }


def _validate_row_rules(df: DataFrame, rules: dict, what: str) -> None:
    """ONE aggregate pass over the rows a MERGE is about to land,
    counting violations of every declared CHECK / invariant / NOT NULL
    / generated-column rule — the same single-job shape as
    ``append_delta``'s batch validation (identity columns are gated
    before this runs). Raises naming the first violated rule."""
    from .delta_constraints import rule_violation_aggs

    aggs, labels = rule_violation_aggs(rules)
    if not aggs:
        return
    counts = df.agg(
        *[a.alias(f"v{i}") for i, a in enumerate(aggs)]
    ).collect()[0]
    for i, (kind, rule) in enumerate(labels):
        if counts[i]:
            raise DeltaProtocolError(
                f"{what} violates {kind} {rule}: {counts[i]} row(s) "
                "fail it; nothing was committed"
            )


def merge_delta(
    spark: SparkSession, root: str, source: DataFrame, on: list[str],
    when_matched: str = "update", insert: bool = True,
    not_matched_by_source: str | None = None,
    broadcast_source_rows: int = 1_000_000,
    broadcast_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Delta-native ``MERGE INTO <table at root> t USING <source> s ON
    <equi-keys>`` — the row-delta shape: matched target rows die via
    DELETION VECTORS on their files (never a whole-file rewrite of
    carried rows), their replacement values plus the not-matched
    inserts land as NEW parquet files, and everything commits as ONE
    version. The parquet-era ``merge_upsert`` (s6,
    reference ``py:150-166``'s whole-frame reassignment) rewrites the
    full table; this writes O(changed rows) data + O(touched files)
    sidecars.

    ``when_matched``: ``"update"`` (matched rows take the source's
    values — classic upsert) or ``"delete"`` (matched rows are
    removed). ``insert=False`` drops not-matched source rows instead
    of inserting them. ``not_matched_by_source="delete"`` adds the
    FULL-SYNC clause (``WHEN NOT MATCHED BY SOURCE THEN DELETE``):
    target rows absent from the source die too — after the merge the
    table holds exactly the source's key set. The join widens to a
    full outer for it (the clause inherently reads the whole target;
    without it the join stays source-sized). Source must carry exactly
    the table's columns, with UNIQUE key tuples under ``on`` (a
    duplicate key would make the merge non-deterministic — refused,
    the ANSI MERGE rule). Partitioned tables and column mapping follow
    the read path's file contract (module docstring).

    When the table declares ``delta.enableChangeDataFeed``, the commit
    stages exact row images under ``_change_data/`` —
    update_preimage / update_postimage / delete / insert — so
    :func:`~.delta.read_delta_changes` replays the merge exactly
    (never deriving spurious pairs from carried rows).

    Join strategy is size-adaptive, gated on estimated BYTES as well
    as rows (guide §3.1 — a row cap alone lets 1M wide rows build a
    multi-GB broadcast): a source whose KEY tuples fit under
    ``broadcast_bytes`` (and ``broadcast_source_rows``) takes the
    LOW-SHUFFLE path — the target scan is pre-filtered to matched rows
    by a broadcast semi-join on the source keys (map-only, the target
    is never shuffled). The ≤|source| surviving target rows broadcast
    back for the left join only when their estimated bytes
    (rows x observed live-file width, inflated; see
    ``io.est_broadcast_bytes``) also fit — wider survivors keep the
    semi pre-filter and join unhinted, shuffling only the delta-sized
    frames. A source too big even for the key broadcast falls back to
    the fully shuffled join. The full-sync clause always joins full
    outer (it inherently reads the whole target).

    Declared CHECK / NOT NULL / invariant / generated rules are
    enforced on the LANDING rows (updates + inserts) in one aggregate
    pass; a violation commits nothing. Identity-column tables refuse
    (assignment under merge is not implemented). Conflicts follow the
    same file-level CAS as :func:`delete_from_delta`: disjoint raced
    commits rebase, overlapping ones raise.

    Returns ``{"version", "num_updated", "num_deleted",
    "num_inserted", "files_with_dvs", "files_removed"}``; a merge that
    changes nothing (no matched rows, nothing to insert) commits
    NOTHING and returns the current version with zero counts — the
    same rule as :func:`delete_from_delta`.
    """
    from .delta_constraints import delta_table_constraints

    if when_matched not in ("update", "delete"):
        raise ValueError(
            f"when_matched must be 'update' or 'delete', "
            f"got {when_matched!r}"
        )
    if not_matched_by_source not in (None, "delete"):
        raise ValueError(
            f"not_matched_by_source must be None or 'delete', "
            f"got {not_matched_by_source!r}"
        )
    base = _DmlBase(root, "MERGE")
    if _rt_enforced(base.proto, base.conf):
        raise DeltaProtocolError(
            "table enables rowTracking; MERGE would need fresh "
            "baseRowId allocation for its new files — not implemented, "
            "refusing to break row lineage"
        )
    rules = delta_table_constraints(root, meta=base.meta)
    if rules["identity"]:
        raise DeltaProtocolError(
            f"table declares identity column(s) "
            f"{sorted(rules['identity'])}; MERGE-time identity "
            "assignment is not implemented — use append_delta for "
            "inserts or drop the identity declaration"
        )
    info = _TableInfo(spark, base.meta)
    schema = info.schema
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
        raise DeltaProtocolError(
            f"source must carry exactly the table's columns; "
            f"extra={extra} missing={missing}"
        )
    src = source.select([
        F.col(f.name).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ])

    key, posk = "__dml_file", "__dml_pos"
    reserved = {"__s", key, posk} & set(table_cols)
    if reserved:
        raise DeltaProtocolError(
            f"table column name(s) {sorted(reserved)} are reserved by "
            "the MERGE implementation's bookkeeping; rename the "
            "column(s)"
        )
    noop = {
        "version": base.last, "num_updated": 0, "num_deleted": 0,
        "num_inserted": 0, "files_with_dvs": 0, "files_removed": 0,
    }
    # duplicate-key gate + the one join the merge needs: source LEFT
    # JOIN target — matched rows carry (file, pos) for the DV side and
    # the target's values for preimages; unmatched rows are inserts.
    # Persisted: every downstream frame is a projection of it. Its
    # size is |source| (delta-sized, never table-sized) — EXCEPT under
    # the full-sync clause, whose full outer join inherently carries
    # the whole target. The gate is ONE aggregate (count vs distinct
    # null-safe key structs) whose row count also drives the join
    # strategy below.
    row = src.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.struct(*[F.col(c) for c in on])).alias("nd"),
    ).collect()[0]
    if int(row["nd"]) != int(row["n"]):
        raise DeltaProtocolError(
            f"source has duplicate key tuples under {on}; MERGE "
            "requires at most one source row per target row"
        )
    n_src = int(row["n"])
    # byte-gate the rest of the merge (delete_from_delta's rule): the
    # plan's inputs are the live files plus the source delta, both
    # bounded driver-side; `spark` and `src` are re-bound to the
    # AQE-off pinned clone when small, unchanged otherwise
    from .io import BROADCAST_INFLATION
    from .io import schema_row_bytes as _srb

    # ONE getsize pass over the live files serves BOTH byte gates (the
    # session gate here and the broadcast-back gate below)
    tot_bytes = 0
    for rel in base.live:
        try:
            tot_bytes += os.path.getsize(os.path.join(root, rel))
        except OSError:
            pass
    est_plan = BROADCAST_INFLATION * tot_bytes + n_src * _srb(schema)
    ctx = small_plan_session(src, est_bytes=est_plan)
    spark, (src,) = ctx.__enter__()
    try:
        tgt = (
            _scan_with_positions(
                spark, root, info, base.live, base.dvs, key, posk
            )
            if base.live else None
        )
        s = src.withColumn("__s", F.lit(True)).alias("s")
        if tgt is not None:
            t = tgt.alias("t")
            cond = F.lit(True)
            for k in on:
                cond = cond & F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}"))
            # byte gates (guide §3.1): keys are schema-width small; the
            # broadcast-BACK carries full target rows, so its estimate
            # combines the live files' observed disk width (inflated) with
            # the schema floor — a wide table stops the broadcast even
            # under the row cap
            from .io import est_broadcast_bytes, schema_row_bytes

            key_schema = StructType(
                [f for f in schema.fields if f.name in on]
            )
            # tot_bytes was accumulated over ALL live files above — a
            # stats-less file may make the ROW total unknown, but must
            # never truncate the byte total (est_broadcast_bytes'
            # unknown-rows fallback bounds by the WHOLE table's
            # inflated bytes; a partial sum would re-open the
            # oversized-broadcast hole the byte gate exists to close)
            tot_rows = 0
            for rel in base.live:
                st = base.stats_of.get(rel)
                nr = None
                if st:
                    try:
                        nr = json.loads(st).get("numRecords")
                    except (ValueError, TypeError):
                        nr = None
                if nr is None:
                    tot_rows = 0  # any file without stats: row total unknown
                    break
                tot_rows += int(nr)
            can_semi = (
                n_src <= broadcast_source_rows
                and n_src * schema_row_bytes(key_schema) <= broadcast_bytes
            )
            can_back = can_semi and est_broadcast_bytes(
                n_src, schema_row_bytes(schema), tot_bytes, tot_rows
            ) <= broadcast_bytes
            # the full-sync clause must SEE unmatched target rows: full
            # outer; otherwise the join stays source-sized (left)
            if not_matched_by_source:
                j = s.join(t, cond, "full_outer").persist()
            elif can_semi:
                # low-shuffle merge (optimization guide §3.2): the target
                # is never shuffled — its scan is pre-filtered to the
                # matched rows by a broadcast SEMI join on the source's
                # key tuples (map-only pass over the live files); the
                # ≤|source| surviving target rows broadcast back onto the
                # source for the left join when they fit (zero exchanges
                # end to end), else that one join stays unhinted — the
                # planner shuffles only the two delta-sized frames, never
                # the table
                keys = src.select(*on).alias("s")
                t_hits = t.join(F.broadcast(keys), cond, "left_semi").alias("t")
                rhs = F.broadcast(t_hits) if can_back else t_hits
                j = s.join(rhs, cond, "left").persist()
            else:
                # table-sized source: fall back to the shuffled join —
                # broadcasting it would OOM the executors
                j = s.join(t, cond, "left").persist()
        else:
            j = s.select(
                "*",
                F.lit(None).cast("string").alias(key),
                F.lit(None).cast("long").alias(posk),
            ).persist()
        try:
            present = F.col("__s").isNotNull() if tgt is not None \
                else F.lit(True)
            matched = j.filter(present & F.col(key).isNotNull())
            unmatched = j.filter(present & F.col(key).isNull())
            # target rows with NO source match (full-outer only)
            by_source = (
                j.filter(F.col("__s").isNull())
                if tgt is not None and not_matched_by_source else None
            )
            s_cols = [F.col(f"s.{c}").alias(c) for c in table_cols] \
                if tgt is not None else [F.col(c) for c in table_cols]
            t_cols = [F.col(f"t.{c}").alias(c) for c in table_cols]

            new_rows = unmatched.select(*s_cols) if insert else None
            if when_matched == "update":
                upd = matched.select(*s_cols)
                new_rows = (
                    upd if new_rows is None else new_rows.unionByName(upd)
                )
            if new_rows is not None:
                _validate_row_rules(
                    new_rows, rules,
                    "MERGE update" if when_matched == "update" else "MERGE insert",
                )

            cdc_actions: list[dict] = []
            cdc_rels: list[str] = []
            if base.cdf_on():
                ct = F.lit
                pieces = []
                # t_cols resolve only against a real target scan; with no
                # live files there are no matched rows to image anyway
                if tgt is not None:
                    if when_matched == "update":
                        pieces.append(matched.select(
                            *t_cols,
                            ct("update_preimage").alias("_change_type")))
                        pieces.append(matched.select(
                            *s_cols,
                            ct("update_postimage").alias("_change_type")))
                    else:
                        pieces.append(matched.select(
                            *t_cols, ct("delete").alias("_change_type")))
                    if by_source is not None:
                        pieces.append(by_source.select(
                            *t_cols, ct("delete").alias("_change_type")))
                if insert:
                    pieces.append(unmatched.select(
                        *s_cols, ct("insert").alias("_change_type")))
                if pieces:
                    images = pieces[0]
                    for p in pieces[1:]:
                        images = images.unionByName(p)
                    cdc_actions, cdc_rels = _stage_cdc_files(
                        spark, root, images, info
                    )

            # DV side: matched target positions per file, plus — under the
            # full-sync clause — the source-less target rows
            doomed = matched.select(F.col(key), F.col(posk))
            n_by_source = 0
            if by_source is not None:
                n_by_source = by_source.count()
                doomed = doomed.unionByName(
                    by_source.select(F.col(key), F.col(posk))
                )
            results = (
                _write_dvs_for_hits(
                    doomed, root, base.live, base.dvs, key, posk,
                )
                if tgt is not None else []
            )
            n_matched = sum(
                int(r["new_deletes"]) for r in results
            ) - n_by_source

            # new-file side: updates + inserts, placed in the read path's
            # file contract (physical names, partition split)
            placed: list[tuple[str, dict]] = []
            if new_rows is not None:
                placed = _place_files(
                    spark, root, new_rows, info, "", "merge"
                )
        finally:
            j.unpersist()

        # MERGE refused rt-enforced tables above, so the re-adds carry no
        # lineage obligation (rt_enforced=False)
        out = _commit_row_delta(
            root, base, "MERGE", results, placed, cdc_actions, cdc_rels,
            rt_enforced=False,
        )
        if out is None:
            return noop
        version, _n_del, n_dv, n_gone, n_new = out
        n_ins = n_new - (n_matched if when_matched == "update" else 0)
        return {
            "version": version,
            "num_updated": n_matched if when_matched == "update" else 0,
            "num_deleted": (
                (n_matched if when_matched == "delete" else 0) + n_by_source
            ),
            "num_inserted": n_ins if insert else 0,
            "files_with_dvs": n_dv,
            "files_removed": n_gone,
        }
    finally:
        ctx.__exit__(None, None, None)
