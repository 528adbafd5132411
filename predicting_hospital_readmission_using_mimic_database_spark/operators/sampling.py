"""Sampling / rebalancing operators U2-U8 (SURVEY.md §2.8).

Reference shapes: 80/20 split + index anti-join (py:428-431), exact-n
undersample (py:447), RandomOverSampler (py:683-684), SMOTE / NearMiss /
RandomUnderSampler (py:772-817).

Scale posture:
- exact-n selection uses ``orderBy(rand).limit(n)`` which Spark compiles to
  TakeOrderedAndProject — each partition keeps only its top-n, so no global
  sort materializes;
- SMOTE / NearMiss run on approximate kNN via BucketedRandomProjectionLSH
  ``approxSimilarityJoin`` — candidate pairs come from LSH buckets, NEVER
  the all-pairs cross join (the same substrate backs the north-star
  similarity-search operators in operators/similarity.py);
- determinism: fixed seeds give reproducible results for a fixed input
  partitioning (SURVEY §7 hard-part 3) — invariants (counts, balance,
  bounds), not row identity, are the tested contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def shuffle_rows(df: DataFrame, seed: int = 42) -> DataFrame:
    """U2 (engine primitive) — redistribute rows pseudo-randomly WITHOUT a
    global sort: rand-keyed round-robin repartition. ``orderBy(rand)``
    (the pandas-parity form in qdefs u2) is a full range sort — wasted
    work at scale when nothing downstream is order-sensitive."""
    return df.repartition(F.spark_partition_id().bitwiseXOR(F.floor(F.rand(seed) * (1 << 30)).cast("int")))


def random_split(
    df: DataFrame, weights=(0.8, 0.2), seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """U3 — train/test split (py:428-431). ``randomSplit`` gives both
    sides in one pass; no anti-join needed (the J7 form exists for parity)."""
    train, test = df.randomSplit(list(weights), seed=seed)
    return train, test


def stratified_split(
    df: DataFrame, label: Column | str, weights=(0.8, 0.2), seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Per-class train/test split: each class is randomSplit separately so
    both sides keep every class's presence (an unstratified split of a
    small or skewed frame can hand the test side a single class, making
    AUC undefined). Same one-pass-per-side plan shape as random_split —
    the class filters are pushed into the scans."""
    lab = F.col(label) if isinstance(label, str) else label
    classes = [r[0] for r in df.select(lab.alias("__lab")).distinct().collect()]
    trains, tests = [], []
    for c in classes:
        part = df.filter(lab.eqNullSafe(F.lit(c)))
        tr, te = part.randomSplit(list(weights), seed=seed)
        trains.append(tr)
        tests.append(te)
    train = trains[0]
    test = tests[0]
    for t in trains[1:]:
        train = train.unionByName(t)
    for t in tests[1:]:
        test = test.unionByName(t)
    return train, test


def undersample_fraction(
    df: DataFrame, n: int, seed: int = 42, total: int | None = None
) -> DataFrame:
    """U4 scale path — ~n uniform rows via map-side Bernoulli sampling.

    No shuffle, no single-task merge: every partition keeps ~fraction of
    its rows independently. Row count is binomial around ``n`` (documented
    approximate). ``total`` skips the count job when the caller already
    knows it.
    """
    total = total if total is not None else df.count()
    if total <= n:
        return df
    return df.sample(withReplacement=False, fraction=n / total, seed=seed)


def balance_undersample(
    df: DataFrame, label: Column | str, seed: int = 42, exact: bool = True
) -> DataFrame:
    """U4/U8 composition — 1:1 class balance by downsampling every class
    to the global minority count (py:447; RandomUnderSampler py:773,817).

    One pass to count classes (tiny aggregate, collected — class
    cardinality is human-scale), then:

    - ``exact=True`` (default): per-class TakeOrdered unioned — exactly
      n_min rows per class, but each class's final merge lands on one
      task; right whenever n_min fits a task (the reference's regime).
    - ``exact=False`` (scale path): one ``sampleBy`` pass with fraction
      n_min/n_c per class — approximate counts, zero extra shuffles, no
      single-task stage at any scale.
    """
    lab = F.col(label) if isinstance(label, str) else label
    counts = df.groupBy(lab.alias("__lab")).agg(F.count("*").alias("n")).collect()
    n_min = min(r["n"] for r in counts)
    if not exact:
        # sampleBy keys on the column's values; NULL is a valid key only
        # via eqNullSafe filtering — handle the (rare) NULL class apart
        fractions = {
            r["__lab"]: min(1.0, n_min / r["n"])
            for r in counts
            if r["__lab"] is not None
        }
        sampled = df.sampleBy(lab, fractions=fractions, seed=seed)
        null_rows = [r for r in counts if r["__lab"] is None]
        if null_rows:
            null_part = df.filter(lab.isNull()).sample(
                withReplacement=False,
                fraction=min(1.0, n_min / null_rows[0]["n"]),
                seed=seed,
            )
            sampled = sampled.unionByName(null_part)
        return sampled
    out = None
    for r in counts:
        # eqNullSafe: a NULL-label class is a real class, not a dropped one
        part = df.filter(lab.eqNullSafe(F.lit(r["__lab"]))).orderBy(F.rand(seed)).limit(n_min)
        out = part if out is None else out.unionByName(part)
    return out


def oversample_with_replacement(
    df: DataFrame, label: Column | str, seed: int = 42, exact: bool = False
) -> DataFrame:
    """U5 — RandomOverSampler(ratio=1) parity (py:683-684): resample every
    minority class WITH replacement up to the majority count.

    ``exact=False`` (fraction-based): approximate n, exact in
    expectation — one map-only Poisson sample per deficient class.

    ``exact=True`` (imblearn's byte-exact contract): every class lands on
    EXACTLY the majority count — originals all kept, plus exactly
    ``n_max - n_c`` with-replacement draws. Distributed construction, no
    driver-side materialization of picks:

    1. number the class rows 1..n_c with the two-pass
       :func:`~.relational.global_index` substrate (rand-keyed — no
       single-task window);
    2. derive the deficit draws as ``xxhash64(i, seed) mod n_c`` over a
       ``spark.range(deficit)`` (pure generator, scans no data);
    3. equi-join draws to positions — the join itself emits each drawn
       row once per draw, streaming (no per-row multiplicity array to
       materialize, unlike an ``explode(sequence(...))`` form).

    Skew note: draw positions are uniform, so join-key load is balanced
    whenever ``deficit`` is within a few orders of ``n_c``; the
    pathological case (a near-empty class under a huge majority, every
    draw landing on a handful of positions) concentrates OUTPUT rows,
    which no construction avoids — prefer :func:`smote` there.
    """
    lab = F.col(label) if isinstance(label, str) else label
    counts = df.groupBy(lab.alias("__lab")).agg(F.count("*").alias("n")).collect()
    n_max = max(r["n"] for r in counts)
    spark = df.sparkSession
    out = None
    for r in counts:
        part = df.filter(lab.eqNullSafe(F.lit(r["__lab"])))
        if r["n"] < n_max:
            if exact:
                from .relational import global_index

                deficit = n_max - r["n"]
                idx = global_index(
                    part.withColumn("__r", F.rand(seed)), ["__r"], out="__pos"
                ).drop("__r")
                picks = spark.range(deficit).select(
                    (
                        F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(r["n"]))
                        + 1
                    ).alias("__pos")
                )
                extra = idx.join(picks, "__pos").drop("__pos")
                part = part.unionByName(extra)
            else:
                # imblearn semantics: KEEP every original row and append
                # the with-replacement resamples (a bare Poisson sample
                # can drop originals entirely)
                extra = part.sample(
                    withReplacement=True, fraction=n_max / r["n"] - 1.0, seed=seed
                )
                part = part.unionByName(extra)
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# LSH-kNN substrate (U6/U7) — approximate neighbors, never all-pairs
# ---------------------------------------------------------------------------


def _knn_pairs_mllib(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    features_col: str,
    k: int,
    threshold: float,
    bucket_length: float,
    num_hash_tables: int,
    seed: int,
) -> DataFrame:
    """k nearest right-neighbors per left row via BRP-LSH similarity join.

    Returns (a_id, b_id, dist, rn<=k) with self-pairs removed. Candidate
    generation is bucket-joined (LSH), so cost scales with collisions, not
    |left|x|right|.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    brp = BucketedRandomProjectionLSH(
        inputCol=features_col,
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = brp.fit(left)
    pairs = (
        model.approxSimilarityJoin(left, right, threshold, distCol="__dist")
        .select(
            F.col(f"datasetA.{id_col}").alias("a_id"),
            F.col(f"datasetB.{id_col}").alias("b_id"),
            F.col("__dist").alias("dist"),
        )
        .filter(F.col("a_id") != F.col("b_id"))
    )
    w = Window.partitionBy("a_id").orderBy("dist", "b_id")
    return pairs.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)


def smote(
    df: DataFrame,
    id_col: str,
    array_col: str,
    label_col: str,
    minority_value,
    k: int = 3,
    seed: int = 42,
    threshold: float | None = None,
    bucket_length: float | None = None,
    num_hash_tables: int = 3,
    target_ratio: float | None = None,
    method: str = "exact",
) -> DataFrame:
    """U6 — SMOTE (py:772,814).

    For each minority row, pick its k nearest minority neighbors
    and emit one synthetic row per neighbor pair:
    ``synth = a + u * (b - a)`` with u ~ U(0,1) — elementwise via
    ``zip_with`` (JVM-side, no UDF). Output schema: (id_col
    negative-numbered, array_col, label_col) for the synthetic rows,
    unioned with the originals.

    ``method="exact"`` (default) uses
    :func:`~.similarity.knn_join_broadcast` — the minority class is by
    definition the bounded side, so broadcast + Arrow-batched BLAS gives
    the TRUE kNN (imblearn parity) with zero shuffle.
    ``method="lsh"`` keeps the banded approximate path for minorities too
    large to broadcast; there ``threshold``/``bucket_length`` default to
    a data-derived estimate
    (:func:`~.similarity.tune_brp_params` — sampled k-th-NN distance
    quantile), so a new corpus never inherits constants measured on an
    old one.

    ``target_ratio=None`` (default) emits every kNN interpolation —
    synthetic count <= k * |minority|. ``target_ratio=r`` matches
    imblearn's ``ratio=r`` (py:683-684,772): a seeded exact-n sample of
    the synthetic pool so that minority + synthetics = r * |majority| —
    exactly the deficit at r=1. If the pool is smaller than the deficit
    (k too small), the whole pool is kept.
    """
    from .similarity import brp_knn_pairs, knn_join_broadcast, tune_brp_params

    # the minority frame feeds several plan branches (dim probe, the kNN,
    # and the a/b feature rejoins) — without a cache each branch
    # re-scans the input source; by definition it is the SMALL class, so
    # caching it is the same decision SURVEY §4.2 makes for ML reuse
    mino = (
        df.filter(F.col(label_col) == F.lit(minority_value))
        .select(id_col, array_col, label_col)
        .cache()
    )
    first = mino.select(array_col).first()
    if first is None or first[0] is None:
        raise ValueError(
            f"smote: no rows with {label_col} == {minority_value!r} (or a NULL "
            "feature array on the first row) — nothing to interpolate"
        )
    dim = len(first[0])
    if method == "exact":
        knn = knn_join_broadcast(
            mino, mino, id_col, array_col, k=k, exclude_self=True
        )
    else:
        if threshold is None or bucket_length is None:
            thr, bl = tune_brp_params(mino, array_col, k=k, seed=seed)
            threshold = thr if threshold is None else threshold
            bucket_length = bl if bucket_length is None else bucket_length
        # multiprobe off: the table count provides the recall; probing would
        # triple the candidate set that exact re-ranking has to score
        knn = brp_knn_pairs(
            mino, mino, id_col, array_col, dim, k=k, threshold=threshold,
            bucket_length=bucket_length, n_tables=num_hash_tables, seed=seed,
            probe_adjacent=False,
        )
    a = mino.select(
        F.col(id_col).alias("a_id"), F.col(array_col).alias("__arr_a")
    )
    b = mino.select(
        F.col(id_col).alias("b_id"), F.col(array_col).alias("__arr_b")
    )
    synth = (
        knn.join(a, "a_id")
        .join(b, "b_id")
        .withColumn("__u", F.rand(seed))
        .select(
            # negative synthetic ids, unique per (a, rank)
            (-(F.col("a_id") * (k + 1) + F.col("rank")) - 1).alias(id_col),
            F.zip_with(
                "__arr_a",
                "__arr_b",
                lambda x, y: x + F.col("__u") * (y - x),
            ).alias(array_col),
            F.lit(minority_value).alias(label_col),
        )
    )
    if target_ratio is not None:
        from .relational import global_index

        counts = (
            df.groupBy(F.col(label_col).alias("__lab"))
            .agg(F.count("*").alias("n"))
            .collect()
        )
        n_min = sum(r["n"] for r in counts if r["__lab"] == minority_value)
        n_maj = max(
            (r["n"] for r in counts if r["__lab"] != minority_value), default=0
        )
        deficit = max(0, int(round(target_ratio * n_maj)) - n_min)
        if deficit == 0:
            # already at (or past) the target ratio: imblearn emits no
            # synthetics — skip the whole kNN/interpolation pipeline
            out = df.select(id_col, array_col, label_col)
            out._aux_caches = [mino]
            return out
        # cache the pool FIRST: global_index makes two passes (partition
        # counts + rejoin) and the final union a third — without this
        # cache each pass re-runs the whole LSH-kNN pipeline
        pool = synth.cache()
        aux_caches = [mino, pool]
        # exact-n pick from the pool, distributed: rand-keyed global rank
        # (range partition + broadcast offsets — no single-task TakeOrdered
        # merge when the deficit is itself big data)
        synth = (
            global_index(
                pool.withColumn("__r", F.rand(seed + 1)), ["__r", id_col]
            )
            .filter(F.col("__pos") <= deficit)
            .select(id_col, array_col, label_col)
        )
    else:
        aux_caches = [mino]
    out = df.select(id_col, array_col, label_col).unionByName(synth)
    # these caches stay pinned for the lifetime of the returned (lazy)
    # frame; callers that fully materialize the result can release them
    # afterwards via this attribute (plans/full_pipeline does)
    out._aux_caches = aux_caches
    return out


def nearmiss(
    df: DataFrame,
    id_col: str,
    array_col: str,
    label_col: str,
    minority_value,
    k: int = 3,
    seed: int = 42,
    threshold: float | None = None,
    bucket_length: float | None = None,
    num_hash_tables: int = 3,
    method: str = "exact",
) -> DataFrame:
    """U7 — NearMiss-1 undersampling (py:773,816): keep the majority rows
    whose mean distance to their k nearest minority neighbors is smallest,
    exactly |minority| of them; union with the minority.

    ``method="exact"`` (default): the minority is the bounded reference
    set, so :func:`~.similarity.knn_join_broadcast` streams the (big)
    majority once against a broadcast minority matrix — true kNN, no
    shuffle, imblearn-exact ranking. ``method="lsh"`` keeps the
    approximate banded path; there ``threshold``/``bucket_length``
    default to a data-derived estimate of the CROSS-class k-th-NN
    distance quantile (majority -> minority), via
    :func:`~.similarity.tune_brp_params`."""
    from .similarity import brp_knn_pairs, knn_join_broadcast, tune_brp_params

    base = df.select(id_col, array_col, label_col)
    mino = base.filter(F.col(label_col) == F.lit(minority_value))
    maj = base.filter(F.col(label_col) != F.lit(minority_value))
    n_min = mino.count()
    if n_min == 0:
        raise ValueError(
            f"nearmiss: no rows with {label_col} == {minority_value!r} — "
            "no minority to rank the majority against"
        )
    if method == "exact":
        knn = knn_join_broadcast(maj, mino, id_col, array_col, k=k)
    else:
        dim = len(mino.select(array_col).first()[0])
        if threshold is None or bucket_length is None:
            thr, bl = tune_brp_params(maj, array_col, k=k, right=mino, seed=seed)
            threshold = thr if threshold is None else threshold
            bucket_length = bl if bucket_length is None else bucket_length
        knn = brp_knn_pairs(
            maj, mino, id_col, array_col, dim, k=k, threshold=threshold,
            bucket_length=bucket_length, n_tables=num_hash_tables, seed=seed,
            probe_adjacent=False,
        )
    scores = knn.groupBy("a_id").agg(F.avg("dist").alias("__mean_dist"))
    # distributed top-n_min: rank with the two-pass global_index substrate
    # (range partition + per-partition row_number + broadcast offsets)
    # instead of orderBy().limit(n_min), whose final merge materializes all
    # n_min rows on one task — a straggler when the minority count is big
    # data itself. Tie-break on a_id keeps the selection deterministic and
    # identical to the TakeOrdered form.
    from .relational import global_index

    picked = global_index(scores, ["__mean_dist", "a_id"], out="__pos").filter(
        F.col("__pos") <= n_min
    )
    kept = maj.join(
        picked.select(F.col("a_id").alias(id_col)), id_col, "left_semi"
    )
    return kept.unionByName(mino)


def _hash_prefilter(
    df: DataFrame,
    group_col: str,
    h: Column,
    quotas: dict,
    prefilter_above: int | None,
    oversample: float = 4.0,
) -> DataFrame:
    """Bound a per-group rank window's input: for groups whose row count
    exceeds ``prefilter_above``, keep only rows whose 32-bit hash prefix
    falls under a threshold sized to admit ~``oversample * quota`` rows
    BEFORE the window. The n smallest hashes all survive any threshold
    that admits >= n rows, so the ranked result is IDENTICAL to the
    unfiltered version (up to the astronomically unlikely event that
    fewer than n of the ~4n expected survivors materialize — Chernoff
    bound ~exp(-n)). One cheap count aggregate; map-only filter.

    Driver footprint: with a CONSTANT quota (:class:`_ConstQuota` — the
    per-domain-cap-over-the-open-web shape, where group cardinality is
    unbounded) the thresholds are computed ENTIRELY as a plan — a
    payload-free count aggregate joined back broadcast, no ``collect()``
    of a per-group dict (O(#groups) driver memory at 10^8 domains). The
    joined threshold frame holds only groups ABOVE ``prefilter_above``,
    so its size is bounded by |rows| / prefilter_above regardless of how
    many groups exist. A dict ``quotas`` is bounded by definition
    (caller-supplied weights) and keeps the collected fast path."""
    import math

    if prefilter_above is None:
        return df
    if isinstance(quotas, _ConstQuota):
        q = quotas.get(None)
        h32 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
        counts = df.groupBy(F.col(group_col).alias("__g")).agg(
            F.count("*").alias("__n")
        )
        big = counts.filter(
            (F.col("__n") > F.lit(prefilter_above)) & (F.lit(q) < F.col("__n"))
        ).select(
            "__g",
            F.least(
                F.lit(1 << 32),
                F.ceil(
                    F.lit(oversample * q)
                    / F.col("__n").cast("double")
                    * F.lit(4294967296.0)
                ),
            )
            .cast("long")
            .alias("__t"),
        )
        joined = df.join(
            F.broadcast(big), F.col(group_col).eqNullSafe(F.col("__g")), "left"
        )
        return joined.filter(F.col("__t").isNull() | (h32 < F.col("__t"))).drop(
            "__g", "__t"
        )
    counts = {
        r["__g"]: r["n"]
        for r in df.groupBy(F.col(group_col).alias("__g"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    big = {
        g: min(1 << 32, int(math.ceil(oversample * quotas.get(g, 0) / n_g * (1 << 32))))
        for g, n_g in counts.items()
        if n_g > prefilter_above and quotas.get(g, 0) < n_g
    }
    if not big:
        return df
    spark = df.sparkSession
    from pyspark.sql.types import LongType, StructField, StructType

    g_type = df.select(F.col(group_col).alias("__g")).schema[0].dataType
    tdf = spark.createDataFrame(
        [(g, t) for g, t in big.items()],
        StructType([StructField("__g", g_type), StructField("__t", LongType())]),
    )
    h32 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    joined = df.join(
        F.broadcast(tdf), F.col(group_col).eqNullSafe(F.col("__g")), "left"
    )
    return joined.filter(F.col("__t").isNull() | (h32 < F.col("__t"))).drop(
        "__g", "__t"
    )


def quota_sample(
    df: DataFrame,
    group_col: str,
    n: int,
    key_col: str,
    salt: str = "",
    out_rank: str | None = None,
    prefilter_above: int | None = 5_000_000,
) -> DataFrame:
    """Deterministic per-group quota sample: keep up to ``n`` rows per
    group, chosen by md5-hash rank of ``key_col`` (optionally salted).

    The corpus-curation "cap every language/source at N docs" step.
    Hash-rank selection is (a) uniform over the group, (b) seedable via
    ``salt``, (c) reproducible on ANY engine/partitioning — no rand(),
    no global sort. One shuffle on ``group_col``.

    Scale guard: a group BIGGER than ``prefilter_above`` would route all
    its rows through the one task its window lands on; those groups are
    first cut by a deterministic hash threshold sized to ~4n expected
    survivors (:func:`_hash_prefilter` — same final kept set), so the
    window input is bounded regardless of group skew. Costs one count
    aggregate; pass ``prefilter_above=None`` to skip it on corpora known
    to be small.
    """
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    src = _hash_prefilter(df, group_col, h, _ConstQuota(n), prefilter_above)
    w = Window.partitionBy(group_col).orderBy(h)
    ranked = src.withColumn("__qr", F.row_number().over(w)).filter(F.col("__qr") <= n)
    if out_rank:
        return ranked.withColumnRenamed("__qr", out_rank)
    return ranked.drop("__qr")


class _ConstQuota(dict):
    """dict that answers every .get with one constant quota."""

    def __init__(self, n: int):
        super().__init__()
        self._n = n

    def get(self, key, default=None):  # noqa: D102
        return self._n


def mixture_sample(
    df: DataFrame,
    group_col: str,
    weights: dict,
    total: int,
    key_col: str,
    salt: str = "",
    prefilter_above: int | None = 5_000_000,
) -> DataFrame:
    """x7 — deterministic DATASET MIXING: compose a training corpus of
    ~``total`` rows with per-group proportions ``weights`` (the
    "40% web, 30% code, 20% books, 10% wiki" curation step).

    Group quota = round(weight * total); within each group the kept rows
    are the ``quota`` smallest salted-md5 hashes of ``key_col`` — the
    same engine-independent, partitioning-independent selection rule as
    :func:`quota_sample`, so reruns and other engines keep the identical
    set. A group smaller than its quota passes through whole (the rank
    filter self-caps); groups absent from ``weights`` are dropped
    (weight 0).

    One shuffle on ``group_col``; the quota table is a literal broadcast
    (len(weights) rows). Groups larger than ``prefilter_above`` are
    hash-threshold prefiltered to ~4x their quota before the rank window
    (:func:`_hash_prefilter` — identical kept set, bounded task input);
    pass ``prefilter_above=None`` to skip its count pass.
    """
    spark = df.sparkSession
    quotas = {g: int(round(w * total)) for g, w in weights.items()}
    from pyspark.sql.types import LongType, StructField, StructType

    # quota frame typed from df's actual group column (int source ids,
    # dates, ... join correctly instead of assuming string)
    g_type = df.select(F.col(group_col)).schema[0].dataType
    quota = spark.createDataFrame(
        [(g, q) for g, q in quotas.items()],
        StructType(
            [StructField(group_col, g_type), StructField("__quota", LongType())]
        ),
    )
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    src = _hash_prefilter(df, group_col, h, quotas, prefilter_above)
    w = Window.partitionBy(group_col).orderBy(h)
    return (
        src.join(F.broadcast(quota), group_col)
        .withColumn("__mr", F.row_number().over(w))
        .filter(F.col("__mr") <= F.col("__quota"))
        .drop("__mr", "__quota")
    )


def stratified_hash_split(
    df: DataFrame,
    label: Column | str,
    key_col: str,
    test_frac: float = 0.2,
    salt: str = "split",
    exact_below: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic per-class train/test split that GUARANTEES class
    presence on both sides (for every class with >= 2 rows) at any scale.

    ``randomSplit``/Bernoulli sampling assigns rows independently, so a
    small class can land entirely on one side (observed: a 7-row class
    with an empty test split -> undefined AUC). Here assignment is a
    pure function of ``md5(key || salt)`` — seedable via salt and
    independent of partitioning — with two regimes:

    - classes with < ``exact_below`` rows rank by the hash and send
      EXACTLY ``clamp(round(test_frac * n_c), 1, n_c - 1)`` rows to
      test (one per-class window; bounded by ``exact_below`` rows per
      task, so no task ever sees more than that);
    - classes at or above ``exact_below`` use a MAP-ONLY hash
      threshold (first 8 hash hex digits < frac * 2^32): no window, no
      funnel — at 100 TB a 2-class label would otherwise route the
      whole table through two tasks. Test size is then binomial around
      ``test_frac * n_c`` (tight at that scale), and class presence on
      both sides is a near-certainty rather than a construction.

    One tiny class-count collect; classes with a single row stay in
    train.
    """
    lab = F.col(label) if isinstance(label, str) else label
    counts = df.groupBy(lab.alias("__lab")).agg(F.count("*").alias("n")).collect()
    quota = {
        r["__lab"]: (
            0 if r["n"] < 2 else min(r["n"] - 1, max(1, int(round(test_frac * r["n"]))))
        )
        for r in counts
    }
    big = {r["__lab"] for r in counts if r["n"] >= exact_below}
    from pyspark.sql.types import BooleanType, LongType, StructField, StructType

    spark = df.sparkSession
    lab_type = df.select(lab.alias("__lab")).schema[0].dataType
    qdf = spark.createDataFrame(
        [(k, v, k in big) for k, v in quota.items()],
        StructType(
            [
                StructField("__lab", lab_type),
                StructField("__tq", LongType()),
                StructField("__big", BooleanType()),
            ]
        ),
    )
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    joined = df.join(F.broadcast(qdf), lab.eqNullSafe(F.col("__lab")))
    thresh = int(test_frac * float(1 << 32))
    big_test = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") < F.lit(thresh)
    if big:
        # rank ONLY the bounded classes; big classes never enter the window
        w = Window.partitionBy(lab).orderBy(h)
        small_part = joined.filter(~F.col("__big"))
        ranked = small_part.withColumn("__sr", F.row_number().over(w))
        small_test = ranked.filter(F.col("__sr") <= F.col("__tq"))
        small_train = ranked.filter(F.col("__sr") > F.col("__tq"))
        big_part = joined.filter(F.col("__big"))
        test = small_test.drop("__sr").unionByName(big_part.filter(big_test))
        train = small_train.drop("__sr").unionByName(big_part.filter(~big_test))
        drop = ("__lab", "__tq", "__big")
        return train.drop(*drop), test.drop(*drop)
    w = Window.partitionBy(lab).orderBy(h)
    ranked = joined.withColumn("__sr", F.row_number().over(w))
    test = ranked.filter(F.col("__sr") <= F.col("__tq")).drop("__sr", "__lab", "__tq", "__big")
    train = ranked.filter(F.col("__sr") > F.col("__tq")).drop("__sr", "__lab", "__tq", "__big")
    return train, test


def weighted_priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    salt: str = "",
    out_rank: str = "rank",
) -> DataFrame:
    """x14 — weighted sampling WITHOUT replacement via Efraimidis–
    Spirakis priority sampling (A-ES, Inf. Proc. Letters 2006 — public
    algorithm): each row gets priority ``u^(1/w)`` (equivalently ranked
    by ``ln(u)/w``) with ``u`` a uniform in (0, 1); the top ``n``
    priorities are EXACTLY a weight-proportional without-replacement
    draw. The corpus-curation "sample documents proportional to length /
    quality mass" step.

    ``u`` is a DETERMINISTIC md5-hash uniform of ``key_col`` + ``salt``
    (first 8 hex chars -> 32-bit int -> (v + 0.5) / 2^32, strictly
    inside (0,1)) — the same engine-independent idiom as
    :func:`quota_sample`: reproducible on any partitioning and
    recomputable by the SQL oracle, no ``rand()``. Selection is
    ``orderBy(priority).limit(n)`` — Spark plans TakeOrderedAndProject
    (per-partition top-n, merge at the driver: no global sort, no
    single-task window at any corpus size); the rank column is assigned
    on the n-row result only. Rows with weight <= 0 are never sampled
    (the w -> 0+ limit of the priority) and are filtered up front.

    Determinism under ties: ``u`` carries 32 bits of the md5, so
    priority collisions are EXPECTED at corpus scale (birthday bound
    ~80k rows, sooner with equal integer weights); both the top-n cut
    and the rank ordering therefore tie-break on ``key_col`` ascending —
    without it, ``limit(n)`` across a tie straddling the boundary would
    pick a partitioning-dependent winner. The oracle must order by the
    same ``(priority DESC, key ASC)``. CONTRACT: ``key_col`` must be
    unique per row (it is the sampling identity, same as
    ``quota_sample``'s) — duplicate keys share u, priority, AND the
    tie-break, so which duplicate survives a boundary cut would again be
    partitioning-dependent; de-duplicate or add a uniquifier first.
    """
    if n <= 0:
        raise ValueError(f"weighted_priority_sample: n must be > 0, got {n}")
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    v = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    u = (v + F.lit(0.5)) / F.lit(4294967296.0)
    w = F.col(weight_col).cast("double")
    pri = F.log(u) / w  # monotone in u^(1/w); better-conditioned doubles
    order = [F.desc("__pri"), F.asc(key_col)]
    top = (
        df.filter(w > 0)
        .withColumn("__pri", pri)
        .orderBy(*order)
        .limit(n)
    )
    return (
        top.withColumn(
            out_rank,
            F.row_number().over(Window.orderBy(*order)).cast("long"),
        )
        .drop("__pri")
    )


def _bounded_fit_frame(norm: DataFrame, id_col: str, cap: int, salt: str) -> DataFrame:
    """Layout-independent bounded fit-sample WITHOUT a full-corpus sort.

    A deterministic md5-threshold prefilter (the :func:`_hash_prefilter`
    pattern — a pure row-wise predicate, so identical on any
    partitioning) admits ~4x``cap`` expected rows map-only; the exact
    ``cap`` smallest (hash, id) rows are then taken from that BOUNDED
    subset via ``orderBy().limit()``, which Spark plans as
    TakeOrderedAndProject — per-partition top-n, merge of ``cap`` rows.
    No global Sort/Exchange(rangepartitioning) ever covers the full
    input frame (the round-6 version paid a full range sort of the
    entire embedding table just to pin a <=100k sample). Corpora already
    within ``cap`` are id-sorted directly (bounded by definition)."""
    import math

    n = norm.count()
    if n <= cap:
        return norm.orderBy(id_col)
    h32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    thresh = min(1 << 32, int(math.ceil(4.0 * cap / n * (1 << 32))))
    return (
        norm.withColumn("__h32", h32)
        .filter(F.col("__h32") < F.lit(thresh))
        .orderBy("__h32", id_col)
        .limit(cap)
        .drop("__h32")
    )


def cluster_balanced_sample(
    emb,
    id_col: str,
    vec_col: str,
    n_clusters: int,
    per_cluster: int,
    seed: int = 42,
    salt: str = "cb",
    centroids=None,
):
    """DIVERSITY (cluster-balanced) sampling over an embedding column:
    cap every semantic region at ``per_cluster`` examples instead of
    letting dense regions dominate a uniform draw — the curation step
    between SemDeDup (drop near-identical) and uniform sampling (ignores
    density).

    Substrate shared with semdedup/IVF: sample-fit centroids
    (similarity._fit_centroids), distributed cell assignment, then the
    engine's deterministic salted-md5-rank quota per CELL (the u9
    machinery keyed on the cell id) — reproducible on any partitioning,
    no counting pass. Returns (id_col, cell, kept). Work is one assign
    pass + one cell-keyed window; nothing is quadratic.

    Pass ``centroids`` (list of vectors) to skip the k-means fit and
    balance against an EXISTING codebook — a pre-fit quantizer, the IVF
    index's cells, or hand-chosen anchors; assignment is then a pure
    deterministic function of the row (argmin distance), which also
    makes the whole kept-set decision recomputable by an external
    oracle.

    Scale note: the default fit path selects its bounded centroid-fit
    sample with a deterministic md5-threshold prefilter
    (:func:`_bounded_fit_frame`) — layout-independent by construction,
    map-only plus a top-``cap`` merge; the FULL corpus is never
    globally sorted.
    """
    from pyspark.sql import Window as W

    from .similarity import (
        _KMEANS_FIT_SAMPLE,
        _fit_centroids,
        assign_cells,
        l2_normalize,
    )

    if per_cluster < 0:
        raise ValueError(f"cluster_balanced_sample: per_cluster >= 0, got {per_cluster}")
    norm = emb.select(
        F.col(id_col), l2_normalize(F.col(vec_col)).alias("__v")
    ).filter(F.col("__v").isNotNull())
    if centroids is not None:
        cents = centroids
    else:
        # fit on a BOUNDED, deterministically-selected, id/hash-ordered
        # frame: _fit_centroids collects its sample in iteration order,
        # and an unordered collect varies with the input partitioning —
        # the md5-prefiltered + TakeOrdered frame pins the centroids
        # (layout-independent) without ever range-sorting the corpus
        cents = _fit_centroids(
            _bounded_fit_frame(norm, id_col, _KMEANS_FIT_SAMPLE, salt + ":fit"),
            "__v",
            n_clusters,
            seed,
        )
    assigned = assign_cells(norm, "__v", [list(map(float, c)) for c in cents], out="cell")
    rank = F.row_number().over(
        W.partitionBy("cell").orderBy(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), F.col(id_col)
        )
    )
    return assigned.select(
        id_col, "cell", (rank <= per_cluster).alias("kept")
    )
