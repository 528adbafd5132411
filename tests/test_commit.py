"""Crash matrix at the optimistic-commit seam (``sources/commit.py``).

Every table format's row-update commit — SnapshotTable ``merge``, Delta
``update_delta``, Iceberg ``update_iceberg``, Hudi MOR ``update_hudi``
— runs under each fault between staging and a landed claim:

* ``staged``: the writer dies after staging its files, before the claim;
* ``torn``: the writer dies mid-claim, its entry half written;
* ``foreign``: a foreign writer claims the same entry first with a
  change that CONFLICTS with this commit (where the format tells
  conflicts apart), and its entry must survive untouched;
* ``retry``: a foreign writer claims the entry first with a change that
  COMMUTES: formats that rebase (Delta, Iceberg) retry inside the
  commit; formats whose rule is to raise on any lost claim (a
  SnapshotTable merge, Hudi) raise, and the caller's re-run retries.

After every fault three things hold: readers see the last committed
snapshot; the format's own GC (``SnapshotTable.vacuum``,
``vacuum_delta``, ``remove_orphan_iceberg_files``, ``rollback_hudi``)
reclaims whatever the dead or losing attempt staged; and a retried
commit lands once.

Faults are injected at the claim's file write — the n-th text-mode
write the committer opens in its log directory — so the matrix needs
no hook inside the code under test. A dying writer is modelled by
:class:`_Killed`, a ``BaseException``: no ``except Exception`` cleanup
of the writer runs, as none would after a real kill.
"""

from __future__ import annotations

import builtins
import contextlib
import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from predicting_hospital_readmission_using_mimic_database_spark.sources.delta import (
    DeltaProtocolError,
    read_delta,
)
from predicting_hospital_readmission_using_mimic_database_spark.sources.delta_dml import (
    update_delta,
)
from predicting_hospital_readmission_using_mimic_database_spark.sources.delta_optimize import (
    vacuum_delta,
)
from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
    HudiProtocolError,
    read_hudi,
)
from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
    export_hudi,
    rollback_hudi,
    update_hudi,
)
from predicting_hospital_readmission_using_mimic_database_spark.sources.iceberg import (
    export_iceberg,
    read_iceberg,
)
from predicting_hospital_readmission_using_mimic_database_spark.sources.iceberg_dml import (
    update_iceberg,
)
from predicting_hospital_readmission_using_mimic_database_spark.sources.iceberg_rewrite import (
    NO_AGE_PROTECTION,
    remove_orphan_iceberg_files,
)
from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
    ConcurrentWriteError,
    SnapshotTable,
)

SCHEMA = "k bigint, v double"
N = 20
KEYS = (3, 4)
WHERE, SET = f"k IN {KEYS}", {"v": "-1.0"}
BASE = sorted((k, k * 2.0) for k in range(N))
AFTER = sorted((k, -1.0 if k in KEYS else k * 2.0) for k in range(N))
FAULTS = ("staged", "torn", "foreign", "retry")


class _Killed(BaseException):
    """The committing process dies here."""


class _TornFile:
    """An entry file whose writer dies after half of its first write."""

    def __init__(self, f):
        self._f = f

    def write(self, text):
        self._f.write(text[: max(1, len(text) // 2)])
        self._f.close()
        raise _Killed("killed mid-claim")

    def writelines(self, lines):
        for line in lines:
            self.write(line)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._f.close()
        return False

    def __getattr__(self, name):
        return getattr(self._f, name)


@contextlib.contextmanager
def _fault_at_claim(log_dir: str, nth: int, fault: str, foreign):
    """Fire ``fault`` at the ``nth`` text-mode write opened directly in
    ``log_dir`` (the commit's claim): raise before writing (``staged``),
    tear the write (``torn``), or let ``foreign()`` claim the entry
    first (``foreign`` / ``retry``)."""
    real_open = builtins.open
    log_dir = os.path.abspath(log_dir)
    state = {"n": 0, "fired": False}

    def fake_open(file, mode="r", *a, **kw):
        if (
            not state["fired"]
            and isinstance(file, (str, os.PathLike))
            and ("w" in mode or "x" in mode)
            and "b" not in mode
            and os.path.dirname(os.path.abspath(file)) == log_dir
        ):
            state["n"] += 1
            if state["n"] == nth:
                state["fired"] = True
                if fault == "staged":
                    raise _Killed("killed after staging, before the claim")
                if fault == "torn":
                    return _TornFile(real_open(file, mode, *a, **kw))
                foreign()
        return real_open(file, mode, *a, **kw)

    builtins.open = fake_open
    try:
        yield state
    finally:
        builtins.open = real_open


def _files_under(root: str, skip: tuple[str, ...]) -> set[str]:
    out = set()
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d not in skip]
        out.update(os.path.join(dirpath, f) for f in files)
    return out


def _base_frame(spark):
    return spark.createDataFrame(BASE, SCHEMA)


def _update_frame(spark):
    return spark.createDataFrame([(k, -1.0) for k in KEYS], SCHEMA)


class _SnapshotTableFmt:
    """SnapshotTable MERGE: claims ``_log/<v>.json``; any lost race
    raises (a merge read the snapshot it rewrites)."""

    name = "snapshot_table"
    conflict = ConcurrentWriteError
    lost = {"foreign": "conflict", "retry": "conflict"}

    def build(self, spark, root):
        SnapshotTable.create(
            spark, root, SCHEMA, bucket_key=["k"], num_buckets=2
        ).append(_base_frame(spark))

    def open(self, spark, root):
        self.root, self.log_dir = root, os.path.join(root, "_log")
        self.t = SnapshotTable(spark, root)

    def claim_index(self, fault):
        return 1

    def op(self, spark):
        return self.t.merge(_update_frame(spark))

    def rows(self, spark):
        return sorted(tuple(r) for r in SnapshotTable(spark, self.root)
                      .read().collect())

    def data_files(self):
        return {p for p in _files_under(self.root, ("_log",))
                if p.endswith(".parquet")}

    def foreign(self, conflicting):
        t = SnapshotTable(self.t.spark, self.root)
        v = t.version + 1
        rec = {"version": v, "op": "append", "add": [], "remove": []}
        if conflicting:  # a schema-preserving metadata commit
            rec.update(op="set_meta", meta=t._meta)
        path = os.path.join(self.log_dir, f"{v:020d}.json")
        with open(path, "x") as f:
            json.dump(rec, f)
        return path

    def gc(self, spark):
        SnapshotTable(spark, self.root).vacuum(min_age_seconds=0)

    def landed(self):
        return sum(h["op"] == "merge"
                   for h in SnapshotTable(self.t.spark, self.root).history())


class _DeltaFmt:
    """Delta UPDATE: claims ``_delta_log/<v>.json``; rebases over
    disjoint foreign commits, raises on an overlapping one."""

    name = "delta"
    conflict = DeltaProtocolError
    lost = {"foreign": "conflict", "retry": "landed"}

    def build(self, spark, root):
        self.open(spark, root)
        os.makedirs(self.log_dir)
        for rel, chunk in zip(self.rels, (BASE[: N // 2], BASE[N // 2:])):
            pq.write_table(
                pa.table({"k": pa.array([k for k, _ in chunk], pa.int64()),
                          "v": pa.array([v for _, v in chunk])}),
                os.path.join(root, rel),
            )
        schema = _base_frame(spark).schema.json()
        # deletion vectors declared up front: the update is a pure data
        # commit, so a commuting foreign commit rebases instead of
        # tripping the protocol-upgrade rule
        actions = [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
            {"metaData": {"id": "crash", "format": {"provider": "parquet",
                                                    "options": {}},
                          "schemaString": schema, "partitionColumns": [],
                          "configuration": {
                              "delta.enableDeletionVectors": "true"}}},
        ] + [
            {"add": {"path": rel, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}}
            for rel in self.rels
        ]
        self._write(0, actions)

    def open(self, spark, root):
        self.root, self.log_dir = root, os.path.join(root, "_delta_log")
        self.rels = ["f0.parquet", "f1.parquet"]

    def _write(self, version, actions):
        path = os.path.join(self.log_dir, f"{version:020d}.json")
        with open(path, "x") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        return path

    def claim_index(self, fault):
        return 1

    def op(self, spark):
        return update_delta(spark, self.root, WHERE, SET)

    def rows(self, spark):
        return sorted(tuple(r) for r in read_delta(spark, self.root)
                      .select("k", "v").collect())

    def data_files(self):
        return {p for p in _files_under(self.root, ("_delta_log",))
                if p.endswith((".parquet", ".bin"))}

    def foreign(self, conflicting):
        v = max(int(n[:20]) for n in os.listdir(self.log_dir)
                if re.match(r"^\d{20}\.json$", n)) + 1
        actions = [{"commitInfo": {"operation": "WRITE",
                                   "engineInfo": "foreign"}}]
        if conflicting:
            # re-adds the file the update rewrites (keys 3 and 4): the
            # file-level conflict rule must refuse to rebase over it
            actions.append({"add": {
                "path": self.rels[0], "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": False}})
        return self._write(v, actions)

    def gc(self, spark):
        vacuum_delta(self.root, retention_hours=0.0)

    def landed(self):
        n = 0
        for name in os.listdir(self.log_dir):
            if re.match(r"^\d{20}\.json$", name):
                with open(os.path.join(self.log_dir, name)) as f:
                    n += any(json.loads(line).get("commitInfo", {})
                             .get("operation") == "UPDATE"
                             for line in f if line.strip())
        return n


class _IcebergFmt:
    """Iceberg UPDATE: claims ``metadata/v<N>.metadata.json``; any lost
    race refreshes and re-runs the update."""

    name = "iceberg"
    conflict = None
    lost = {"foreign": "landed", "retry": "landed"}

    def build(self, spark, root):
        t = SnapshotTable.create(
            spark, root, SCHEMA, bucket_key=["k"], num_buckets=2
        )
        t.append(_base_frame(spark))
        export_iceberg(t)

    def open(self, spark, root):
        self.root, self.log_dir = root, os.path.join(root, "metadata")

    def claim_index(self, fault):
        return 1

    def op(self, spark):
        return update_iceberg(spark, self.root, WHERE, SET)

    def rows(self, spark):
        return sorted(tuple(r) for r in read_iceberg(spark, self.root)
                      .select("k", "v").collect())

    def data_files(self):
        # orphan GC's scope: the data/ directory the DML writers use
        return _files_under(os.path.join(self.root, "data"), ())

    def _versions(self):
        return sorted(
            (int(m.group(1)), os.path.join(self.log_dir, n))
            for n in os.listdir(self.log_dir)
            for m in (re.match(r"^v(\d+)\.metadata\.json$", n),) if m
        )

    def foreign(self, conflicting):
        # a foreign commit of the next metadata version (the current
        # snapshot carried forward): Iceberg's rule is refresh-and-
        # re-attempt whatever the foreign change was
        v, latest = self._versions()[-1]
        path = os.path.join(self.log_dir, f"v{v + 1}.metadata.json")
        shutil.copyfile(latest, path)
        return path

    def gc(self, spark):
        remove_orphan_iceberg_files(self.root, older_than_ms=NO_AGE_PROTECTION)

    def landed(self):
        with open(self._versions()[-1][1]) as f:
            meta = json.load(f)
        return sum("updated-rows" in (s.get("summary") or {})
                   for s in meta["snapshots"])


class _HudiFmt:
    """Hudi MOR UPDATE: claims ``.hoodie/<instant>.deltacommit`` after
    its requested and inflight markers; a lost claim raises (Hudi's
    multi-writer rule is a lock provider, never a rebase)."""

    name = "hudi"
    conflict = HudiProtocolError
    lost = {"foreign": "conflict", "retry": "conflict"}

    def build(self, spark, root):
        t = SnapshotTable.create(
            spark, root + "-src", SCHEMA, bucket_key=["k"], num_buckets=2
        )
        t.append(_base_frame(spark))
        export_hudi(t, root, table_type="MERGE_ON_READ")

    def open(self, spark, root):
        self.root, self.log_dir = root, os.path.join(root, ".hoodie")

    def claim_index(self, fault):
        # a dying writer dies at the completed marker (its log blocks
        # are written); a foreign writer takes the requested instant
        return 3 if fault in ("staged", "torn") else 1

    def op(self, spark):
        return update_hudi(spark, self.root, WHERE, SET)

    def rows(self, spark):
        return sorted(tuple(r) for r in read_hudi(spark, self.root)
                      .select("k", "v").collect())

    def data_files(self):
        return _files_under(self.root, (".hoodie",))

    def _instants(self):
        return [m.groups() for n in os.listdir(self.log_dir)
                for m in (re.match(r"^(\d+)\.(.+)$", n),) if m]

    def foreign(self, conflicting):
        inst = max(int(i) for i, _a in self._instants()) + 1
        path = os.path.join(self.log_dir, f"{inst:014d}.deltacommit.requested")
        with open(path, "x") as f:
            json.dump({"action": "foreign"}, f)
        return path

    def gc(self, spark):
        done = {i for i, a in self._instants() if a == "deltacommit"}
        for inst in sorted({i for i, a in self._instants()
                            if a == "deltacommit.requested"} - done):
            rollback_hudi(self.root, inst)

    def landed(self):
        return sum(a == "deltacommit" for _i, a in self._instants())


FORMATS = (_SnapshotTableFmt, _DeltaFmt, _IcebergFmt, _HudiFmt)


@pytest.fixture(scope="module")
def fresh_table(spark, tmp_path_factory):
    """Each format's base table is built once; every case gets it back
    pristine AT THE SAME PATH (Iceberg manifests hold absolute paths)."""
    base = tmp_path_factory.mktemp("commit")

    def get(fmt) -> str:
        root, pristine = str(base / fmt.name), str(base / f"{fmt.name}.0")
        if not os.path.exists(pristine):
            fmt.build(spark, root)
            shutil.copytree(root, pristine)
        shutil.rmtree(root)
        shutil.copytree(pristine, root)
        return root

    return get


@pytest.mark.parametrize("fault", FAULTS)
@pytest.mark.parametrize("fmt_cls", FORMATS, ids=lambda c: c.name)
def test_commit_crash_matrix(spark, fresh_table, fmt_cls, fault):
    fmt = fmt_cls()
    fmt.open(spark, fresh_table(fmt))
    landed0 = fmt.landed()
    before = fmt.data_files()
    foreign_entry = {}

    def foreign():
        path = fmt.foreign(conflicting=fault == "foreign")
        with open(path, "rb") as f:
            foreign_entry[path] = f.read()

    with _fault_at_claim(
        fmt.log_dir, fmt.claim_index(fault), fault, foreign
    ) as state:
        try:
            fmt.op(spark)
            outcome = "landed"
        except _Killed:
            outcome = "killed"
        except Exception as e:  # the format's own conflict
            assert fmt.conflict is not None and isinstance(e, fmt.conflict), e
            outcome = "conflict"
    assert state["fired"], f"the fault never reached the {fmt.name} claim"
    assert outcome == fmt.lost.get(fault, "killed")

    # a claimed entry is never clobbered, and no temp file outlives it
    for path, body in foreign_entry.items():
        with open(path, "rb") as f:
            assert f.read() == body
    assert not [n for n in os.listdir(fmt.log_dir) if n.startswith(".tmp-")]

    # readers see the last committed snapshot (for a landed commit the
    # read after GC below shows it)
    if outcome != "landed":
        assert fmt.rows(spark) == BASE

    # the format's GC reclaims what the dead or losing attempt staged
    staged = fmt.data_files() - before
    if outcome == "killed":
        assert staged, "the dead attempt staged nothing; fault fired early"
    fmt.gc(spark)
    if outcome != "landed":
        assert not fmt.data_files() & staged
        assert before <= fmt.data_files()  # nothing committed was lost

    # a retried commit lands exactly once
    if outcome != "landed":
        fmt.op(spark)
    assert fmt.rows(spark) == AFTER
    assert fmt.landed() == landed0 + 1
