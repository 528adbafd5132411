"""The benchmark's three workloads.

Each workload calls the engine the way a user does, on inputs the
generator wrote, and checks every output it gets back. A workload is
built once per run (``prepare`` holds per-run set-up that is not part
of a pass) and then runs passes on a fresh engine, as a batch job does;
``run_pass`` returns a :class:`PassResult` whose failures count against
``error_rate``. Result rows that must repeat exactly are compared with
the reference kept for the seed (:class:`Reference`), so the check runs
on every pass, not only from a run's second pass on.

``span(layer, name)`` is the tracer's span factory in traced mode and a
no-op otherwise. The workloads open spans only from their own code:
around their output checks (the ``bench`` pseudo-layer), around the
action that materializes a lazy result an engine function returned
(charged to that function's layer, since the action runs its plan), and
around stream drains, which reach the stream-source layer through
Spark's reader API rather than an engine function.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

PACKAGE = "predicting_hospital_readmission_using_mimic_database_spark"


@dataclass
class PassResult:
    failed_ops: int = 0
    failures: list = field(default_factory=list)  # one message per failed check
    info: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok


class Reference:
    """Result rows kept per workload and seed in one JSON file. The
    first pass of a seed in a checkout records them; every later pass
    of that seed, in this run or another, must return them unchanged."""

    def __init__(self, path: str):
        self.path = path
        self.status: dict = {}  # key -> "recorded" | "matched" | "differs"

    def same(self, key: str, value) -> bool:
        value = json.loads(json.dumps(value))  # tuples -> lists, as stored
        try:
            with open(self.path) as f:
                kept = json.load(f)
        except FileNotFoundError:
            kept = {}
        if key in kept:
            self.status[key] = "matched" if kept[key] == value else "differs"
            return kept[key] == value
        kept[key] = value
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = f"{self.path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(kept, f, sort_keys=True)
        os.replace(tmp, self.path)
        self.status[key] = "recorded"
        return True


def _import(name: str):
    import importlib

    return importlib.import_module(f"{PACKAGE}.{name}")


# ---------------------------------------------------------------------------
# readmit: the paper's workflow
# ---------------------------------------------------------------------------

#: the per-user label rule of the readmission plan, re-derived in DuckDB
#: straight from the generated parquet
_LABEL_SQL = """
WITH led AS (
  SELECT user_id, ts, event_id,
         lead(ts) OVER w AS next_ts, lead(event_type) OVER w AS next_type
  FROM read_parquet('{path}')
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
filled AS (
  SELECT user_id, ts,
         first_value(CASE WHEN next_type = 'signup' THEN NULL ELSE next_ts END
                     IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
  FROM led
),
u AS (
  SELECT user_id,
         CASE WHEN avg((epoch_us(nxt) - epoch_us(ts)) / 86400000000.0) < {thr}
              THEN 1 ELSE 0 END AS label
  FROM filled GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(label) AS BIGINT) AS n_positive,
       round(avg(label), 4) AS prevalence
FROM u
"""

STRATEGIES = ("base", "undersample", "oversample", "smote", "nearmiss")


class Readmit:
    """``run_pipeline`` (RF, 50 trees, undersampled train) then the
    five-strategy L1-LR ``strategy_comparison``, as one pass."""

    name = "readmit"
    ops_per_pass = 2

    def __init__(self, spark, inputs: str, manifest: dict, seed: int, span, ref: Reference):
        self.spark, self.inputs, self.seed, self.span, self.ref = spark, inputs, seed, span, ref
        self.input_rows = manifest["tables"]["events"]["rows"]
        self.expected = None

    def prepare(self) -> dict:
        import duckdb

        thr = _import("plans.full_pipeline").FREQUENT_READMIT_DAYS
        path = os.path.join(self.inputs, "events.parquet")
        con = duckdb.connect()
        try:
            n, pos, prev = con.execute(_LABEL_SQL.format(path=path, thr=thr)).fetchone()
        finally:
            con.close()
        self.expected = {"n_users": int(n), "n_positive": int(pos), "prevalence": float(prev)}
        return dict(self.expected)

    def _run(self, sf_dir: str):
        fp = _import("plans.full_pipeline")
        summary = fp.run_pipeline(self.spark, sf_dir)
        strategies = fp.strategy_comparison(self.spark, sf_dir)
        with self.span("plans", "collect"):
            return summary.collect(), strategies.collect()

    def run_pass(self, i: int) -> PassResult:
        res = PassResult()
        try:
            summary, strategies = self._run(self.inputs)
        finally:
            self.spark.catalog.clearCache()
        with self.span("bench", "check"):
            s = summary[0].asDict()
            exp = self.expected
            ok_pipe = all([
                res.check(s["n_users"] == exp["n_users"], "run_pipeline: n_users != DuckDB"),
                res.check(abs(s["prevalence"] - exp["prevalence"]) < 1e-9,
                          "run_pipeline: prevalence != DuckDB"),
                res.check(bool(s["train_class_balanced"]), "run_pipeline: train not balanced"),
                res.check(s["n_test"] > 0 and s["auc"] is not None and 0.0 <= s["auc"] <= 1.0,
                          "run_pipeline: bad held-out AUC"),
            ])
            names = tuple(r["strategy"] for r in strategies)
            ok_strat = all([
                res.check(names == STRATEGIES, f"strategy_comparison: rows {names}"),
                res.check(all(r["n_train"] > 0 and r["auc"] is not None
                              and 0.0 <= r["auc"] <= 1.0 for r in strategies),
                          "strategy_comparison: bad n_train/AUC"),
            ])
            ok_pipe = res.check(
                self.ref.same("run_pipeline", [tuple(r) for r in summary]),
                "run_pipeline: result rows differ from the seed's reference") and ok_pipe
            ok_strat = res.check(
                self.ref.same("strategy_comparison", [tuple(r) for r in strategies]),
                "strategy_comparison: result rows differ from the seed's reference") and ok_strat
            res.failed_ops = int(not ok_pipe) + int(not ok_strat)
            res.info = {"auc": s["auc"], "prevalence": s["prevalence"],
                        "reference": dict(self.ref.status)}
        return res


# ---------------------------------------------------------------------------
# text_curation: the NLP / LLM-data path
# ---------------------------------------------------------------------------


def _gopher_expected(texts: dict, ts) -> dict:
    """The Gopher keep verdict per doc, recomputed in Python from the
    rule's published constants (whitespace words, mean word length,
    distinct stopword hits)."""
    out = {}
    stops = set(ts.GOPHER_STOPWORDS)
    for doc_id, text in texts.items():
        words = text.split()
        n = len(words)
        mwl = sum(len(w) for w in words) / n if n else None
        keep = (
            ts.GOPHER_MIN_WORDS <= n <= ts.GOPHER_MAX_WORDS
            and mwl is not None
            and ts.GOPHER_MIN_MEAN_WORD_LEN <= mwl <= ts.GOPHER_MAX_MEAN_WORD_LEN
            and len(stops.intersection(words)) >= ts.GOPHER_MIN_STOP_HITS
        )
        out[doc_id] = bool(keep)
    return out


class TextCuration:
    """tokens -> CountVectorizer (vocab 3000) -> TF-IDF -> MinHash pairs
    -> connected-component dedup -> Gopher quality flags."""

    name = "text_curation"
    ops_per_pass = 5

    def __init__(self, spark, inputs: str, manifest: dict, seed: int, span, ref: Reference):
        self.spark, self.inputs, self.seed, self.span, self.ref = spark, inputs, seed, span, ref
        doc = manifest["tables"]["documents"]
        self.input_rows = doc["rows"]
        self.exact = {int(k): v for k, v in doc["exact_dups"].items()}
        self.near = {int(k): v for k, v in doc["near_dups"].items()}

    def prepare(self) -> dict:
        t = pq.read_table(os.path.join(self.inputs, "documents.parquet"),
                          columns=["doc_id", "text"]).to_pydict()
        texts = dict(zip(t["doc_id"], t["text"]))
        self.keep_expected = _gopher_expected(texts, _import("operators.textstats"))
        return {"exact_dups": len(self.exact), "near_dups": len(self.near)}

    def _chain(self, sf_dir: str):
        from pyspark.sql import functions as F

        io = _import("sources.io")
        fe = _import("ml.features")
        dd = _import("operators.dedup")
        ts = _import("operators.textstats")
        docs = fe.tokens_df(io.read_table(self.spark, sf_dir, "documents")).cache()
        out = {}
        model, _tf = fe.fit_count_vectorizer(docs, "tokens", vocab_size=3000)
        out["vocab"] = len(model.vocabulary)
        weights = fe.tfidf(docs, "doc_id", "tokens")
        with self.span("ml.features", "tfidf.collect"):
            row = weights.agg(F.count("*").alias("n"),
                              F.countDistinct("token").alias("terms"),
                              F.sum("tf").alias("tf")).collect()[0]
        out["tfidf"] = row.asDict()
        pairs = dd.minhash_dup_pairs(docs, "doc_id", "tokens")
        with self.span("operators.dedup", "pairs.collect"):
            pairs = pairs.cache()
            out["pairs"] = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
        kept = dd.dedup_clusters(docs, pairs, "doc_id")
        flags = ts.gopher_quality_flags(F.col("text"))
        with self.span("operators.dedup", "kept.collect"):
            out["kept"] = {r["doc_id"]: r["keep"]
                           for r in kept.select("doc_id", flags["keep"].alias("keep")).collect()}
        return out

    def run_pass(self, i: int) -> PassResult:
        res = PassResult()
        try:
            out = self._chain(self.inputs)
        finally:
            self.spark.catalog.clearCache()
        with self.span("bench", "check"):
            failed = 0
            tfidf = out["tfidf"]
            failed += not res.check(
                out["vocab"] == min(3000, tfidf["terms"]),
                f"fit_count_vectorizer: vocab {out['vocab']} for {tfidf['terms']} terms")
            failed += not res.check(tfidf["n"] > 0 and tfidf["tf"] >= tfidf["n"],
                                    "tfidf: empty or inconsistent weights")
            failed += not res.check(
                all((src, dup) in out["pairs"] for dup, src in self.exact.items()),
                "minhash_dup_pairs: a planted exact pair is missing")
            kept = out["kept"]
            failed += not res.check(
                not any(d in kept for d in self.exact)
                and all(s in kept for s in self.exact.values()),
                "dedup_clusters: a planted exact duplicate survived or its source was dropped")
            failed += not res.check(
                all(kept[d] == self.keep_expected[d] for d in kept),
                "gopher_quality_flags: keep verdict differs from the rule")
            failed += not res.check(
                self.ref.same("kept", sorted(kept.items())),
                "dedup_clusters: kept rows differ from the seed's reference")
            near_removed = sum(1 for d in self.near if d not in kept)
            res.failed_ops = min(failed, self.ops_per_pass)
            res.info = {
                "near_dup_recall": near_removed / len(self.near) if self.near else 1.0,
                "kept": len(kept),
                "quality_keep": sum(kept.values()),
                "pairs": len(out["pairs"]),
                "reference": dict(self.ref.status),
            }
        return res


# ---------------------------------------------------------------------------
# lakehouse_cdc: the write path beside the read path
# ---------------------------------------------------------------------------

_SCHEMA = "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
_PRE = ("update_preimage", "delete")
_POST = ("update_postimage", "insert")


class LakehouseCdc:
    """A keyed ``SnapshotTable`` published as Delta, Iceberg and Hudi
    MOR; each pass is one round: per format one small upsert, a
    snapshot read checked against the benchmark's own pandas model, and
    an ``availableNow`` drain of the format's change feed checked
    against the applied batch. Every check compares with that model, so
    the seed reference goes unused here."""

    name = "lakehouse_cdc"
    ops_per_pass = 9
    formats = ("delta", "iceberg", "hudi")

    def __init__(self, spark, inputs: str, manifest: dict, seed: int, span, ref: Reference):
        self.spark, self.inputs, self.seed, self.span = spark, inputs, seed, span
        cust = manifest["tables"]["customer"]
        self.keys_per_commit = cust["keys_per_commit"]
        self.input_rows = cust["rows"] * len(self.formats)
        self.work = os.path.join(os.path.dirname(inputs.rstrip("/")), "tables")
        self.latency = {f: {"commit": [], "read": [], "drain": []} for f in self.formats}

    def prepare(self) -> dict:
        table = _import("sources.table")
        delta = _import("sources.delta")
        iceberg = _import("sources.iceberg")
        hudi_export = _import("sources.hudi_export")
        path = os.path.join(self.inputs, "customer.parquet")
        self.root = os.path.join(self.work, "customer")
        self.hudi_root = os.path.join(self.work, "customer_hudi")
        t0 = time.perf_counter()
        t = table.SnapshotTable.create(self.spark, self.root, _SCHEMA,
                                       bucket_key=["c_custkey"], num_buckets=4)
        t.append(self.spark.read.parquet(path))
        dv = delta.export_delta_log(t)
        sid = iceberg.export_iceberg(t)
        inst = hudi_export.export_hudi(t, self.hudi_root, table_type="MERGE_ON_READ")
        publish_s = time.perf_counter() - t0
        table_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _s, fs in os.walk(self.root) for f in fs if f.endswith(".parquet")
        )
        _import("sources.delta_stream").register_delta_stream(self.spark)
        _import("sources.iceberg_stream").register_iceberg_stream(self.spark)
        _import("sources.hudi_stream").register_hudi_stream(self.spark)
        self.stream_opts = {
            "delta": ("delta_stream", {"path": self.root, "readChangeFeed": "true",
                                       "startingVersion": str(dv + 1)}),
            "iceberg": ("iceberg_stream", {"path": self.root, "changelog": "true",
                                           "startingSnapshotCount": "1"}),
            "hudi": ("hudi_stream", {"path": self.hudi_root, "incrementalFormat": "cdc",
                                     "startingInstant": inst}),
        }
        model = pq.read_table(path).to_pandas()
        self.model = model.set_index("c_custkey", drop=False).sort_index()
        return {"publish_s": publish_s, "delta_version": dv, "iceberg_snapshot": sid,
                "hudi_instant": inst, "table_rows": len(self.model), "table_bytes": table_bytes}

    # -- one format's commit, read and drain ------------------------------
    def _commit(self, fmt: str, keys, src_df, delta_bal: float) -> dict:
        spark = self.spark
        if fmt == "delta":
            return _import("sources.delta_dml").merge_delta(
                spark, self.root, src_df, on=["c_custkey"])
        if fmt == "iceberg":
            return _import("sources.iceberg_dml").merge_iceberg(
                spark, self.root, src_df, on=["c_custkey"])
        pred = f"c_custkey IN ({','.join(str(int(k)) for k in keys)})"
        return _import("sources.hudi_export").update_hudi(
            spark, self.hudi_root, pred,
            {"c_acctbal": f"c_acctbal + CAST({delta_bal!r} AS DOUBLE)"})

    def _read(self, fmt: str):
        if fmt == "delta":
            df = _import("sources.delta").read_delta(self.spark, self.root)
        elif fmt == "iceberg":
            df = _import("sources.iceberg").read_iceberg(self.spark, self.root)
        else:
            df = _import("sources.hudi").read_hudi(self.spark, self.hudi_root)
        with self.span(f"sources.{fmt}", "read.collect"):
            return df.select(*_COLS).toPandas()

    def _drain(self, fmt: str) -> list:
        source, opts = self.stream_opts[fmt]
        got: list = []

        def sink(batch, _bid):
            got.extend(tuple(r) for r in batch.collect())

        with self.span("sources.stream", f"{source}.availableNow") as sp:
            reader = self.spark.readStream.format(source)
            for k, v in opts.items():
                reader = reader.option(k, v)
            q = (
                reader.load().writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(self.work, f"ck_{fmt}"))
                .trigger(availableNow=True)
                .start()
            )
            if sp is not None:
                # the query runs its batches under its own job group
                sp.aliases.append(str(q.runId))
            try:
                if not q.awaitTermination(120):
                    raise TimeoutError(f"{source} drain did not finish in 120 s")
            finally:
                q.stop()
        return got

    @staticmethod
    def _images(rows: list) -> tuple[set, set]:
        """(pre-images + deletes, post-images + inserts) of a change
        feed; each row is the table's five columns then its change
        type."""
        pre, post = set(), set()
        for r in rows:
            kind = r[5]
            if kind in _PRE:
                pre.add(tuple(r[:5]))
            elif kind in _POST:
                post.add(tuple(r[:5]))
            else:
                post.add(("unexpected", kind))
        return pre, post

    def run_pass(self, i: int) -> PassResult:
        res = PassResult()
        rng = np.random.default_rng([self.seed, i, 17])
        keys = np.sort(rng.choice(self.model.index.to_numpy(), self.keys_per_commit,
                                  replace=False))
        delta_bal = int(rng.integers(1, 100_000)) / 100.0
        before = self.model.loc[keys]
        after = before.copy()
        after["c_acctbal"] = after["c_acctbal"] + delta_bal
        new_model = self.model.copy()
        new_model.loc[keys, "c_acctbal"] = after["c_acctbal"]
        with self.span("bench", "batch"):
            src_df = self.spark.createDataFrame(after.reset_index(drop=True)[_COLS], _SCHEMA)
        pre_exp = set(before[_COLS].itertuples(index=False, name=None))
        post_exp = set(after[_COLS].itertuples(index=False, name=None))
        expect_rows = new_model[_COLS].reset_index(drop=True)
        failed = 0
        for fmt in self.formats:
            t0 = time.perf_counter()
            try:
                out = self._commit(fmt, keys, src_df, delta_bal)
                self.latency[fmt]["commit"].append(time.perf_counter() - t0)
                n = out.get("num_updated")
                failed += not res.check(n == len(keys),
                                        f"{fmt} upsert: {n} rows, expected {len(keys)}")
            except Exception:
                traceback.print_exc()
                failed += 1
                res.failures.append(f"{fmt} upsert commit raised")
            t0 = time.perf_counter()
            try:
                got = self._read(fmt)
                self.latency[fmt]["read"].append(time.perf_counter() - t0)
                with self.span("bench", "check"):
                    got = got.sort_values("c_custkey").reset_index(drop=True)
                    ok = (got.shape == expect_rows.shape
                          and got.astype(expect_rows.dtypes).equals(expect_rows))
                failed += not res.check(ok, f"{fmt} snapshot != model after upsert")
            except Exception:
                traceback.print_exc()
                failed += 1
                res.failures.append(f"{fmt} snapshot read raised")
            t0 = time.perf_counter()
            try:
                rows = self._drain(fmt)
                self.latency[fmt]["drain"].append(time.perf_counter() - t0)
                with self.span("bench", "check"):
                    pre, post = self._images(rows)
                failed += not res.check(pre == pre_exp and post == post_exp,
                                        f"{fmt} change feed != applied upsert batch")
            except Exception:
                traceback.print_exc()
                failed += 1
                res.failures.append(f"{fmt} change feed drain raised")
        self.model = new_model
        res.failed_ops = failed
        res.info = {"keys": len(keys)}
        return res

    def latency_summary(self) -> dict:
        """Median seconds per format and step (``delta.commit_s``, ...),
        one sample per pass; 0.0 for a step that never succeeded."""
        return {
            f"{fmt}.{step}_s": statistics.median(v) if v else 0.0
            for fmt, steps in self.latency.items() for step, v in steps.items()
        }


WORKLOADS = {w.name: w for w in (Readmit, TextCuration, LakehouseCdc)}
