"""Delta WRITER CONSTRAINTS — CHECK constraints, NOT NULL column
invariants, and GENERATED columns, enforced on an append write path
(PROTOCOL.md "CHECK Constraints", "Column Invariants", "Generated
Columns"). The reference notebook has no write path at all; this is
the engine-side surface a real ingestion pipeline needs: a table owner
declares row-level rules once, and every writer — batch or streaming —
either satisfies them or fails LOUDLY naming the rule, instead of
poisoning 100 TB silently.

Spark-first posture: every rule is evaluated as a JVM column
expression over the incoming DataFrame (``F.expr`` on the declared
SQL string) and all rules are checked in ONE aggregate pass — a single
map-side-combinable job over the batch, no Python UDFs, no driver
loop. The commit is the same put-if-absent CAS every writer in this
repo uses.

Semantics (matching delta-io):

* **CHECK** (``delta.constraints.<name>`` table configuration): a row
  VIOLATES when the expression evaluates to FALSE; NULL passes (SQL
  three-valued logic, the spec's rule). Adding a constraint validates
  the EXISTING table first.
* **NOT NULL** (schema field ``nullable: false``): any NULL in the
  column (top-level or nested, dotted path) rejects the batch.
* **Legacy invariants** (field metadata ``delta.invariants``, the
  ``{"expression": {"expression": <sql>}}`` JSON): enforced like
  CHECK.
* **GENERATED** (field metadata ``delta.generationExpression``): a
  missing column is COMPUTED from the expression; a provided column
  must EQUAL it (null-safe) row-for-row — the spec's writer
  obligation.

``append_delta`` also gates the protocol honestly: a foreign log
declaring writer features this writer does not implement (e.g.
``rowTracking``'s stamp obligations) refuses up front instead of
committing a non-conforming file.
"""

from __future__ import annotations

import contextlib
import glob as _glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .commit import Retry, optimistic_commit
from .delta import (
    DELTA_LOG_DIR,
    DeltaProtocolError,
    _commit_actions,
    _commit_info,
    _declared_protocol,
    _publish_commit,
    _replay_log,
    read_delta,
)

__all__ = [
    "append_delta",
    "delta_table_constraints",
    "drop_delta_check_constraint",
    "set_delta_check_constraint",
]

#: writer features whose obligations this append path implements. An
#: append never rewrites or removes files, so deletionVectors /
#: v2Checkpoint / domainMetadata / typeWidening carry no append-time
#: obligation; rowTracking DOES (baseRowId stamps) and is gated.
_SUPPORTED_WRITER_FEATURES = frozenset({
    "appendOnly",
    "invariants",
    "checkConstraints",
    "generatedColumns",
    "changeDataFeed",
    "inCommitTimestamp",
    "columnMapping",
    "typeWidening",
    "timestampNtz",
    "v2Checkpoint",
    "domainMetadata",
    "deletionVectors",
    "identityColumns",
})

_CHECK_PREFIX = "delta.constraints."


def _legacy_writer_features(min_writer_version: int) -> set[str]:
    """The writer features a LEGACY minWriterVersion implies (PROTOCOL.md
    table-features upgrade rule: converting to minWriterVersion 7 must
    enumerate them, or foreign writers legally drop the obligations).
    Version 7 IS table-features mode — its obligations already live in
    ``writerFeatures``, so it implies nothing (re-deriving the legacy
    set for a v7 table would declare features it never used)."""
    implied: set[str] = set()
    if min_writer_version >= 7:
        return implied
    if min_writer_version >= 2:
        implied |= {"appendOnly", "invariants"}
    if min_writer_version >= 3:
        implied |= {"checkConstraints"}
    if min_writer_version >= 4:
        implied |= {"changeDataFeed", "generatedColumns"}
    if min_writer_version >= 5:
        implied |= {"columnMapping"}
    if min_writer_version >= 6:
        implied |= {"identityColumns"}
    return implied


def delta_table_constraints(root: str, meta: dict | None = None) -> dict:
    """The table's declared row-level rules, parsed from the latest
    metaData: ``{"checks": {name: sql}, "not_null": [dotted paths],
    "invariants": {column: sql}, "generated": {column: sql},
    "identity": {column: {start, step, allowExplicit, highWaterMark}}}``.
    Driver-side metadata only. ``meta`` skips the log replay when the
    caller already holds the replayed metaData action (the hot append
    path replays exactly once)."""
    if meta is None:
        meta, _live, _dvs, _last = _replay_log(root)
    checks = {
        k[len(_CHECK_PREFIX):]: v
        for k, v in (meta.get("configuration") or {}).items()
        if k.startswith(_CHECK_PREFIX)
    }
    schema = json.loads(meta["schemaString"])
    not_null: list[str] = []
    invariants: dict[str, str] = {}
    generated: dict[str, str] = {}
    identity: dict[str, dict] = {}

    def walk(fields: list, prefix: str) -> None:
        for f in fields:
            path = prefix + f["name"]
            if f.get("nullable") is False:
                not_null.append(path)
            md = f.get("metadata") or {}
            if "delta.identity.start" in md:
                if prefix:
                    raise DeltaProtocolError(
                        f"identity column {path!r} is nested — the spec "
                        "allows identity on top-level columns only"
                    )
                step = int(md.get("delta.identity.step", 1))
                if step == 0:
                    raise DeltaProtocolError(
                        f"identity column {path!r} declares step 0"
                    )
                hwm = md.get("delta.identity.highWaterMark")
                allow = md.get("delta.identity.allowExplicitInsert", False)
                if isinstance(allow, str):
                    # foreign logs serialize booleans as strings —
                    # bool("false") is True, which would silently flip
                    # GENERATED ALWAYS to BY DEFAULT
                    allow = allow.strip().lower() == "true"
                identity[path] = {
                    "start": int(md["delta.identity.start"]),
                    "step": step,
                    "allowExplicit": bool(allow),
                    "highWaterMark": int(hwm) if hwm is not None else None,
                }
            if "delta.invariants" in md:
                inv = md["delta.invariants"]
                if isinstance(inv, str):
                    inv = json.loads(inv)
                expr = (inv.get("expression") or {}).get("expression")
                if not expr:
                    raise DeltaProtocolError(
                        f"field {path!r} carries a delta.invariants "
                        "annotation without an expression — malformed "
                        "invariant cannot be enforced, refusing to write"
                    )
                invariants[path] = expr
            if "delta.generationExpression" in md:
                generated[path] = md["delta.generationExpression"]
            t = f.get("type")
            if isinstance(t, dict) and t.get("type") == "struct":
                walk(t.get("fields", []), path + ".")

    walk(schema.get("fields", []), "")
    return {
        "checks": checks,
        "not_null": not_null,
        "invariants": invariants,
        "generated": generated,
        "identity": identity,
    }


class _TxnAlreadyCommitted(Exception):
    """A raced foreign commit carries our (appId, version) txn — a
    ZOMBIE twin of this sink already committed the micro-batch."""

    def __init__(self, version: int):
        self.version = version


def _commit_with_cas(
    log_dir: str, start_version: int, build_actions, *,
    metadata_change: bool, operation: str, ict_on: bool,
    txn: tuple[str, int] | None = None,
) -> int:
    """Publish ``build_actions(version)`` at the first free version at
    or after ``start_version`` (put-if-absent CAS; Delta's optimistic
    concurrency). A raced commit that changed metaData or protocol
    raises — the rules this writer validated against may have changed,
    so the caller must re-validate, never silently retry. With ``txn``
    set, a raced commit carrying the SAME (appId, >= version) txn
    raises :class:`_TxnAlreadyCommitted` instead of retrying — the
    zombie-writer race real Delta's conflict resolution re-checks:
    two instances of one streaming query both pass the dedup pre-check,
    and without this the loser would double-append the batch."""
    version = start_version

    def attempt():
        nonlocal version
        actions = [
            _commit_info(log_dir, version, operation, ict_on),
            *build_actions(version),
        ]
        if _publish_commit(log_dir, version, actions):
            return version
        raced = _commit_actions(log_dir, version)
        if txn is not None:
            for a in raced:
                t = a.get("txn")
                if (t and t.get("appId") == str(txn[0])
                        and int(t.get("version", -1)) >= int(txn[1])):
                    raise _TxnAlreadyCommitted(version)
        if any("metaData" in a or "protocol" in a for a in raced):
            raise DeltaProtocolError(
                f"lost the commit race at version {version} to a "
                "concurrent METADATA/protocol change; re-validate "
                "against the new rules and re-run"
            )
        if metadata_change:
            raise DeltaProtocolError(
                f"lost the commit race at version {version} while "
                "changing table metadata; re-run against the new state"
            )
        version += 1
        return Retry(DeltaProtocolError(
            f"lost the commit race ten times in a row starting at "
            f"version {start_version}"
        ))

    return optimistic_commit(attempt)


def set_delta_check_constraint(
    spark: SparkSession, root: str, name: str, expr: str,
) -> int:
    """ADD CONSTRAINT ``name`` CHECK (``expr``): validates the
    EXISTING data first (one Spark aggregate over the table — the
    spec's rule: a constraint may only be added when current rows
    satisfy it), then commits the ``delta.constraints.<name>``
    configuration plus a protocol upgrade declaring the
    ``checkConstraints`` writer feature. Returns the commit version."""
    if not name or not name.replace("_", "").isalnum():
        raise ValueError(f"constraint name {name!r} must be identifier-like")
    meta, _live, _dvs, last = _replay_log(root)
    conf = dict(meta.get("configuration") or {})
    key = _CHECK_PREFIX + name
    if key in conf:
        raise DeltaProtocolError(
            f"constraint {name!r} already exists: {conf[key]!r}"
        )
    bad = read_delta(spark, root).filter(F.expr(expr) == F.lit(False))
    n_bad = bad.count()
    if n_bad:
        raise DeltaProtocolError(
            f"cannot add CHECK constraint {name!r} ({expr}): {n_bad} "
            "existing row(s) violate it"
        )
    conf[key] = expr
    new_meta = {**meta, "configuration": conf}
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    proto = _declared_protocol(log_dir) or {
        "minReaderVersion": 1, "minWriterVersion": 2,
    }
    wf = set(proto.get("writerFeatures") or [])
    mwv = int(proto.get("minWriterVersion", 1))
    actions_proto = []
    if mwv < 7 or "checkConstraints" not in wf:
        # upgrading a legacy protocol to table features must ENUMERATE
        # every feature the old minWriterVersion implied (spec rule) —
        # declaring only checkConstraints would let a spec-conforming
        # foreign writer legally skip the invariants / generation
        # expressions the legacy version obligated
        wf |= _legacy_writer_features(mwv)
        wf.add("checkConstraints")
        actions_proto.append({"protocol": {
            "minReaderVersion": int(proto.get("minReaderVersion", 1)),
            "minWriterVersion": 7,
            **({"readerFeatures": proto["readerFeatures"]}
               if proto.get("readerFeatures") else {}),
            "writerFeatures": sorted(wf),
        }})
    ict_on = str(conf.get("delta.enableInCommitTimestamps", "")
                 ).lower() == "true"
    return _commit_with_cas(
        log_dir, last + 1,
        lambda v: [*actions_proto, {"metaData": new_meta}],
        metadata_change=True, operation="ADD CONSTRAINT", ict_on=ict_on,
    )


def drop_delta_check_constraint(root: str, name: str) -> int:
    """DROP CONSTRAINT: removes ``delta.constraints.<name>`` (unknown
    names raise). The feature declaration stays — other constraints
    may exist, and feature removal is a separate protocol operation."""
    meta, _live, _dvs, last = _replay_log(root)
    conf = dict(meta.get("configuration") or {})
    key = _CHECK_PREFIX + name
    if key not in conf:
        raise DeltaProtocolError(f"constraint {name!r} not found")
    del conf[key]
    new_meta = {**meta, "configuration": conf}
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    ict_on = str(conf.get("delta.enableInCommitTimestamps", "")
                 ).lower() == "true"
    return _commit_with_cas(
        log_dir, last + 1, lambda v: [{"metaData": new_meta}],
        metadata_change=True, operation="DROP CONSTRAINT", ict_on=ict_on,
    )


def rule_violation_aggs(
    rules: dict,
) -> tuple[list, list[tuple[str, str]]]:
    """One aggregate column per declared CHECK / invariant / NOT NULL /
    generated rule, counting its violating rows — the single-pass
    validation every row-landing write path (append, MERGE) runs over
    its batch. Returns ``(agg columns, (kind, label) pairs)`` in
    matching order. SQL three-valued logic: only FALSE violates a
    boolean rule; NULL passes."""
    aggs = []
    labels: list[tuple[str, str]] = []
    for name, expr in sorted(rules["checks"].items()):
        aggs.append(F.count_if(F.expr(expr) == F.lit(False)))
        labels.append(("CHECK constraint", f"{name} ({expr})"))
    for col, expr in sorted(rules["invariants"].items()):
        aggs.append(F.count_if(F.expr(expr) == F.lit(False)))
        labels.append(("column invariant", f"{col} ({expr})"))
    for col in rules["not_null"]:
        aggs.append(F.count_if(F.col(col).isNull()))
        labels.append(("NOT NULL constraint", col))
    for col, gexpr in sorted(rules["generated"].items()):
        aggs.append(F.count_if(
            ~F.col(col).eqNullSafe(F.expr(gexpr))
        ))
        labels.append(("generated column", f"{col} = {gexpr}"))
    return aggs, labels


def _physical_names(meta: dict) -> dict[str, str] | None:
    """{logical: physical} for top-level fields under column mapping
    (``None`` when the table doesn't map). Nested structs under
    mapping are gated — this writer only renames top-level columns."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode == "none":
        return None
    out: dict[str, str] = {}
    for f in json.loads(meta["schemaString"]).get("fields", []):
        md = f.get("metadata") or {}
        phys = md.get("delta.columnMapping.physicalName")
        if not phys:
            raise DeltaProtocolError(
                f"column mapping mode {mode!r} but field "
                f"{f['name']!r} lacks a physicalName annotation"
            )
        if isinstance(f.get("type"), dict):
            raise DeltaProtocolError(
                f"writing NESTED field {f['name']!r} under column "
                "mapping is not supported by this append path"
            )
        out[f["name"]] = phys
    return out


def _file_stats(path: str) -> str:
    """Delta ``add.stats`` JSON from the written file's parquet footer
    (numRecords + min/max/nullCount) — the data-skipping tier
    ``read_delta(predicates=)`` prunes on, at zero extra I/O.

    Same safety rules as the SnapshotTable harvester
    (``table.py _harvest_stats``): string/binary/decimal bounds are
    DISCARDED (parquet writers may truncate them — a truncated max can
    sort below the true max, and pruning on it would silently drop
    matching files), and a column whose stats are absent in ANY row
    group publishes no bounds at all (partial bounds would understate
    the file's true range — same silent-drop failure). Missing stats
    read as "file may match": conservative, never wrong."""
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

    md = pq.read_metadata(path)
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    bad_bounds: set[str] = set()
    bad_nulls: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested: skip (top-level skipping only)
                continue
            st = col.statistics
            if st is None:
                bad_bounds.add(name)
                bad_nulls.add(name)
                continue
            if st.null_count is None:
                bad_nulls.add(name)
            else:
                nulls[name] = nulls.get(name, 0) + int(st.null_count)
            lo = _norm(st.min) if st.has_min_max else None
            hi = _norm(st.max) if st.has_min_max else None
            if lo is None or hi is None:
                bad_bounds.add(name)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    for name in bad_bounds:
        mins.pop(name, None)
        maxs.pop(name, None)
    for name in bad_nulls:
        nulls.pop(name, None)
    return json.dumps({
        "numRecords": md.num_rows,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    })


def append_delta(
    spark: SparkSession, root: str, df: DataFrame,
    operation: str = "WRITE", txn: tuple[str, int] | None = None,
    identity_order: list[str] | None = None,
) -> int:
    """APPEND ``df`` to the Delta table at ``root``, enforcing every
    declared writer constraint (module docstring) in ONE aggregate
    pass; a violating batch raises :class:`DeltaProtocolError` NAMING
    the rule and commits NOTHING (the staged files are cleaned up).
    Schema-enforced: the batch must provide exactly the table's
    non-generated columns (missing generated columns are computed).
    Returns the committed version.

    ``txn=(app_id, version)`` records the spec's ``setTransaction``
    action and makes the append IDEMPOTENT per (app_id, version) — the
    streaming-sink contract: a foreachBatch replay of an
    already-committed micro-batch returns the table version without
    writing (exactly-once under sink retries).

    IDENTITY columns (``delta.identity.*`` field metadata) are
    assigned when the batch omits them — distributed two-pass
    numbering beyond the recorded high watermark, ordered by
    ``identity_order`` (default: the other table columns) — and the
    new watermark commits ATOMICALLY with the rows. GENERATED ALWAYS
    refuses provided values; BY DEFAULT accepts them and advances the
    watermark past the provided extreme.

    Scale: validation is a single JVM aggregate (map-side combinable)
    over the batch; the write is the caller's partitioning (repartition
    upstream for file sizing); the commit is O(files) metadata."""
    txns: dict[str, int] = {}
    meta, _live, _dvs, last = _replay_log(root, txns_out=txns)
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    if txn is not None:
        seen = txns.get(str(txn[0]))
        if seen is not None and int(txn[1]) <= seen:
            return last  # replayed micro-batch: already committed
    proto = _declared_protocol(log_dir) or {}
    if int(proto.get("minWriterVersion", 1)) >= 7:
        unsupported = set(
            proto.get("writerFeatures") or []
        ) - _SUPPORTED_WRITER_FEATURES
        if unsupported:
            raise DeltaProtocolError(
                f"table declares writer features {sorted(unsupported)} "
                "whose write obligations this append path does not "
                "implement; refusing to commit a non-conforming file"
            )
    rules = delta_table_constraints(root, meta=meta)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    table_cols = [f.name for f in schema.fields]

    extra = [c for c in df.columns if c not in table_cols]
    if extra:
        raise DeltaProtocolError(
            f"batch carries columns {extra} not in the table schema "
            "(schema enforcement; evolve the table first)"
        )
    for col, gexpr in rules["generated"].items():
        if "." in col:
            continue  # nested generated: validated below, never filled
        if col not in df.columns:
            df = df.withColumn(col, F.expr(gexpr))

    # IDENTITY columns (writer feature identityColumns): a missing
    # column is ASSIGNED values strictly beyond the recorded high
    # watermark along the step direction — a distributed two-pass
    # numbering (operators.relational.global_index: range-partition +
    # per-partition row_number + broadcast offsets; no single-task
    # window), ordered by ``identity_order`` (default: every other
    # table column — deterministic for deterministic input). GENERATED
    # ALWAYS (allowExplicitInsert=false) refuses a provided column; BY
    # DEFAULT accepts it and the watermark advances past the provided
    # extreme. The committed metaData records the new watermark.
    identity_hwm_updates: dict[str, int] = {}
    identity_assigned: dict[str, tuple[int, int]] = {}  # col -> (base, step)
    provided_identity_aggs: list[tuple[str, object]] = []
    for col, ident in sorted(rules["identity"].items()):
        step, hwm = ident["step"], ident["highWaterMark"]
        if col in df.columns:
            if not ident["allowExplicit"]:
                raise DeltaProtocolError(
                    f"identity column {col} is GENERATED ALWAYS "
                    "(allowExplicitInsert=false): the batch must not "
                    "provide it"
                )
            provided_identity_aggs.append(
                (col, F.max(col) if step > 0 else F.min(col))
            )
        else:
            from ..operators.relational import global_index

            order = identity_order or [
                c for c in df.columns if c not in rules["identity"]
            ]
            base = (hwm + step) if hwm is not None else ident["start"]
            tmp = f"__identity_{col}"
            df = global_index(df, order, out=tmp).withColumn(
                col,
                (F.lit(base) + F.lit(step) * (F.col(tmp) - 1)
                 ).cast("long"),
            ).drop(tmp)
            identity_assigned[col] = (base, step)
    missing = [c for c in table_cols if c not in df.columns]
    if missing:
        raise DeltaProtocolError(
            f"batch is missing table columns {missing}"
        )
    df = df.select([
        F.col(f.name).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ])

    # ONE aggregate pass over the batch counts every rule's violations
    # (plus the provided-identity extremes for the watermark)
    aggs, labels = rule_violation_aggs(rules)
    n_rules = len(aggs)
    aggs.extend(a for _c, a in provided_identity_aggs)
    if aggs:
        counts = df.agg(*[a.alias(f"v{i}") for i, a in enumerate(aggs)]
                        ).collect()[0]
        for i, (kind, what) in enumerate(labels):
            if counts[i]:
                raise DeltaProtocolError(
                    f"append violates {kind} {what}: {counts[i]} "
                    "row(s) in the batch fail it; nothing was committed"
                )
        for j, (col, _a) in enumerate(provided_identity_aggs):
            extreme = counts[n_rules + j]
            if extreme is None:
                continue
            ident = rules["identity"][col]
            hwm, step = ident["highWaterMark"], ident["step"]
            if hwm is None or (step > 0 and extreme > hwm) or (
                    step < 0 and extreme < hwm):
                identity_hwm_updates[col] = int(extreme)

    phys = _physical_names(meta)
    out = df
    if phys:
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        id_of: dict[str, int] = {}
        if mode == "id":
            # id-resolution readers refuse id-less files: stamp each
            # column's parquet field id via alias metadata with the
            # session's field-id writer enabled (nested structs are
            # gated in _physical_names)
            spark.conf.set(
                "spark.sql.parquet.fieldId.write.enabled", "true"
            )
            for f in json.loads(meta["schemaString"]).get("fields", []):
                fid = (f.get("metadata") or {}).get(
                    "delta.columnMapping.id"
                )
                if fid is None:
                    raise DeltaProtocolError(
                        f"column mapping mode 'id' but field "
                        f"{f['name']!r} lacks a delta.columnMapping.id"
                    )
                id_of[f["name"]] = int(fid)
        out = df.select([
            F.col(c).alias(
                phys[c], metadata={"parquet.field.id": id_of[c]}
            )
            if mode == "id" else F.col(c).alias(phys[c])
            for c in df.columns
        ])
    stage = os.path.join(root, f".stage-append-{uuid.uuid4().hex}")
    out.write.parquet(stage)
    rels: list[str] = []
    try:
        return _place_and_commit(
            root, log_dir, stage, rels, meta, last, operation,
            txn, identity_assigned, identity_hwm_updates,
        )
    except _TxnAlreadyCommitted as done:
        # a zombie twin of this sink won the race with the same batch:
        # our staged files must not leak (nothing references them)
        for rel in rels:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(root, rel))
        return done.version
    except BaseException:
        # NOTHING committed (protocol refusal, raced commit, or a
        # mid-move I/O error): every already-placed append-*.parquet
        # is unreferenced — reclaim them all, not just the
        # DeltaProtocolError path
        for rel in rels:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(root, rel))
        raise


def _place_and_commit(
    root, log_dir, stage, rels, meta, last, operation,
    txn, identity_assigned, identity_hwm_updates,
):
    """Move staged parts into the table root (appending each placed
    name to the CALLER-OWNED ``rels`` so the caller can reclaim them on
    ANY failure) and run the CAS commit. Split out of
    :func:`append_delta` so one exception boundary covers the whole
    place-then-commit span."""
    try:
        for part in sorted(_glob.glob(os.path.join(stage, "part-*.parquet"))):
            rel = f"append-{uuid.uuid4().hex}.parquet"
            shutil.move(part, os.path.join(root, rel))
            rels.append(rel)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    conf = meta.get("configuration") or {}
    ict_on = str(conf.get("delta.enableInCommitTimestamps", "")
                 ).lower() == "true"
    if identity_assigned:
        # batch size from the written footers (no extra Spark job):
        # the assigned ids were base, base+step, ..., base+step*(n-1)
        import pyarrow.parquet as _pq

        n_rows = sum(
            _pq.read_metadata(os.path.join(root, rel)).num_rows
            for rel in rels
        )
        if n_rows:
            for col, (base, step) in identity_assigned.items():
                identity_hwm_updates[col] = base + step * (n_rows - 1)
    meta_action = None
    if identity_hwm_updates:
        sj = json.loads(meta["schemaString"])
        for f in sj.get("fields", []):
            if f["name"] in identity_hwm_updates:
                md = dict(f.get("metadata") or {})
                md["delta.identity.highWaterMark"] = (
                    identity_hwm_updates[f["name"]]
                )
                f["metadata"] = md
        meta_action = {**meta, "schemaString": json.dumps(sj)}

    def build(v: int) -> list[dict]:
        actions: list[dict] = []
        if txn is not None:
            actions.append(
                {"txn": {"appId": str(txn[0]), "version": int(txn[1])}}
            )
        if meta_action is not None:
            # the new identity high watermark rides the SAME commit as
            # the rows it covers (real Delta's shape): a crash between
            # them can never hand out duplicate ids
            actions.append({"metaData": meta_action})
        actions.extend(
            {"add": {
                "path": rel,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(root, rel)),
                "modificationTime": 0,
                "dataChange": True,
                "stats": _file_stats(os.path.join(root, rel)),
            }}
            for rel in rels
        )
        return actions

    return _commit_with_cas(
        log_dir, last + 1, build,
        metadata_change=False, operation=operation, ict_on=ict_on,
        txn=txn,
    )
