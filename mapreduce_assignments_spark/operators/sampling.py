"""Deterministic sampling / dataset splitting.

Training-data pipelines need samples and train/val/test splits that
are (a) reproducible across runs and engines, (b) computed per-row
with no shuffle and no driver state, and (c) stable under
repartitioning. ``rand(seed)`` fails (a)+(c) — its value depends on
partition layout. The scale-correct primitive is a content hash:
``pmod(md5-prefix(key), B)`` buckets every row into B deterministic
bins; a sample is "bins < fraction·B", a split is a range of bins.

md5 (via functions.hashing.h60) rather than xxhash64 so the DuckDB
oracle reproduces assignments bit-for-bit.

All operators are narrow (zero shuffles) — they compose with any
downstream plan for free.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.hashing import h60

__all__ = [
    "balance_classes",
    "deterministic_sample",
    "dsir_weights",
    "hash_split",
    "per_key_sample",
    "shuffle_shards",
    "stratified_sample",
    "temperature_weights",
    "temporal_split",
    "unimax_allocation",
    "weighted_sample",
]

_BINS = 1_000_000


def _bin(key_col: str) -> F.Column:
    return F.pmod(h60(F.col(key_col).cast("string")), F.lit(_BINS))


def deterministic_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows, decided purely by a
    hash of ``key`` — same rows survive on every run, every engine,
    every partitioning. Narrow (no shuffle, no RNG state)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return df.where(_bin(key) < int(fraction * _BINS))


def hash_split(df: DataFrame, key: str, weights: dict[str, float]) -> DataFrame:
    """Add a deterministic ``split`` column partitioning rows into the
    named fractions (e.g. ``{"train": .8, "val": .1, "test": .1}``).
    Weights must sum to 1 (±1e-9). A row's split never changes across
    runs — the invariant training pipelines depend on to avoid
    train/test leakage when data is re-ingested."""
    if not weights:
        raise ValueError("at least one split required")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    b = _bin(key)
    expr = None
    hi = 0.0
    for name, w in weights.items():
        hi += w
        cond = b < int(round(hi * _BINS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # guard the float edge: the last bin always belongs to the last split
    last = list(weights)[-1]
    return df.withColumn("split", expr.otherwise(F.lit(last)))


def per_key_sample(df: DataFrame, group_col: str, key: str, k: int) -> DataFrame:
    """Deterministic ``k``-row sample PER GROUP: within each
    ``group_col`` value, keep the ``k`` rows whose content hash of
    ``key`` sorts first (hash then key as tiebreak). The classic
    "inspect a few examples from every source/shard" pipeline op —
    reproducible across runs, engines, and partitionings, unlike
    ``rand()``-ranked samples. Adds a 1-based ``sample_rank``.

    Rows with a NULL group or key are excluded (a NULL key has no
    deterministic hash order; consistent with the package's other
    hash-ordered operators).

    Scale: one shuffle on ``group_col`` + an in-group sort. A
    pathological hot group sorts all its rows to take k; at that
    scale pre-thin with :func:`deterministic_sample` (narrow) before
    ranking — the composition preserves determinism because both
    stages order by the same content hash.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        _bin(key).asc(), F.col(key).cast("string").asc()
    )
    return (
        df.where(F.col(group_col).isNotNull() & F.col(key).isNotNull())
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


def shuffle_shards(
    df: DataFrame, key: str, n_shards: int, seed: str = ""
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-order
    randomization: every row gets a ``shard`` in ``[0, n_shards)`` and
    a 1-based ``pos`` within its shard, both pure functions of
    ``(seed, key)`` — rerunning ingestion reproduces the exact epoch
    order, and changing ``seed`` is a fresh permutation. The classic
    "shuffle once at rest, read shards sequentially at train time"
    layout.

    Scale: a TRUE global sort would funnel a total order through a
    range exchange; instead the permutation is hash-split into
    ``n_shards`` independent orders — one shuffle on ``shard``, then
    per-shard in-memory sorts of ~corpus/n_shards rows each. Size
    ``n_shards`` so a shard fits an executor (100 TB / 100k shards =
    1 GB); readers consume shards in any order, which is itself part
    of the shuffle.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    salted = F.concat_ws("|", F.lit(seed), F.col(key).cast("string"))
    h = h60(salted)
    from pyspark.sql.window import Window

    w = Window.partitionBy("shard").orderBy(
        F.col("_h").asc(), F.col(key).cast("string").asc()
    )
    return (
        df.where(F.col(key).isNotNull())
        .withColumn("_h", h)
        .withColumn("shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .drop("_h")
    )


def weighted_sample(df: DataFrame, key: str, weight_col: str, n: int) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, n rows:
    the Efraimidis–Spirakis A-ES scheme with the content hash as the
    uniform draw. Each row gets ``u = (h60(key)+1) / 2^60 ∈ (0, 1]``
    and score ``ln(u) / w`` (a monotone transform of the textbook
    ``u^(1/w)`` that avoids pow's cross-engine rounding wobble); the
    global top-n scores are the sample. Inclusion probability is
    proportional to weight, and — like every operator here — the
    selected set is identical across runs, engines, and partitionings
    because the only randomness is the key hash.

    Rows with NULL or non-positive weight are excluded (they have no
    defined inclusion probability), as are NULL keys (a null hash
    would order differently across engines).

    Scale shape: narrow scoring projection, then ``orderBy().limit(n)``
    — Spark plans that as TakeOrderedAndProject (per-partition
    partial top-n, then an n-row merge on one reducer), so the full
    corpus is never globally sorted and the driver sees only n rows.

    The score is rounded to 9 dp BEFORE ranking (with ``key`` as the
    tiebreak): ln() may differ between engines in the last ulp, and
    ranking raw doubles would let that flip a selection at the top-n
    boundary — on rounded scores both engines resolve ties by the
    same deterministic key order (the q_pagerank round-before-rank
    pattern).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    w = F.col(weight_col).cast("double")
    u = (h60(F.col(key).cast("string")) + 1) / F.lit(float(1 << 60))
    return (
        df.where(w.isNotNull() & (w > 0) & F.col(key).isNotNull())
        .withColumn("__score", F.round(F.log(u) / w, 9))
        .orderBy(F.desc("__score"), F.col(key))
        .limit(n)
        .drop("__score")
    )


def stratified_sample(
    df: DataFrame,
    key: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_fraction: float = 1.0,
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows — the
    "downsample the over-represented language/source" primitive of
    corpus curation (e.g. ``fractions={"en": 0.25}`` keeps a quarter
    of English rows and, with the default, all of everything else).

    Row retention is decided purely by the content hash of ``key``
    against the stratum's threshold, so it inherits every
    ``deterministic_sample`` guarantee (reproducible across runs,
    engines, partitionings) AND a subset property: lowering a
    stratum's fraction only removes rows, never swaps them — two
    curations at different rates stay comparable. Narrow (zero
    shuffles, no per-stratum counting pass).

    Unlisted strata keep ``default_fraction`` of their rows; NULL
    strata are treated as unlisted.
    """
    if not fractions:
        raise ValueError("at least one stratum fraction required")
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} must be in [0, 1], got {frac}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0, 1], got {default_fraction}")
    b = _bin(key)
    threshold = None
    for name, frac in fractions.items():
        cond = F.col(stratum_col) == name
        lim = F.lit(int(frac * _BINS))
        threshold = F.when(cond, lim) if threshold is None else threshold.when(cond, lim)
    threshold = threshold.otherwise(F.lit(int(default_fraction * _BINS)))
    return df.where(b < threshold)


def balance_classes(df: DataFrame, label_col: str, key: str) -> DataFrame:
    """Deterministic class balancing: downsample every class to the
    MINORITY class's size, keeping each class's hash-smallest rows —
    ``(key, label)`` for the kept rows. The class-imbalance fix
    applied before training a classifier head (or mixing data
    sources), made reproducible across runs/engines/partitionings by
    ranking on the content hash instead of ``rand()``.

    Scale shape: one class-count aggregation (map-side partial) whose
    MIN broadcasts back as a one-row crossJoin, then a per-class
    hash-ranked window that Spark plans as WindowGroupLimit — each
    map task keeps only its local candidates before the exchange, so
    a giant majority class never funnels through one task's sort.
    """
    from pyspark.sql.window import Window

    target = df.groupBy(label_col).agg(F.count("*").alias("n")).agg(
        F.min("n").alias("target")
    )
    w = Window.partitionBy(label_col).orderBy(_bin(key), F.col(key))
    ranked = (
        df.select(F.col(key), F.col(label_col))
        .crossJoin(F.broadcast(target))
        .withColumn("__rn", F.row_number().over(w))
    )
    return ranked.where(F.col("__rn") <= F.col("target")).select(key, label_col)


def temporal_split(
    df: DataFrame,
    ts_col: str,
    cutoffs: "list[tuple[str, str]]",
    final_split: str = "test",
) -> DataFrame:
    """Add a time-based ``split`` column: each ``(name, upper_bound)``
    cutoff claims rows with ``ts < upper_bound`` not already claimed;
    the remainder lands in ``final_split``. The standard
    forecast-correct alternative to :func:`hash_split` — a model must
    never train on the future, so the split axis is time, not key
    hash.

    Scale: a narrow CASE over the timestamp — no shuffle, no state,
    and the cutoff literals prune partition-ranged storage when the
    table is date-partitioned.
    """
    if not cutoffs:
        raise ValueError("at least one cutoff required")
    expr = None
    for name, upper in cutoffs:
        cond = F.col(ts_col) < F.lit(upper).cast("timestamp")
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr.otherwise(F.lit(final_split)))


def temperature_weights(
    df: DataFrame,
    group_col: str = "source",
    size_col: str = "n_chars",
    temperature: float = 2.0,
) -> DataFrame:
    """Temperature-scaled source sampling weights — the exponential
    smoothing multilingual pretraining recipes use (public: mBERT's
    exponentially-smoothed sampling, XLM-R's p_i proportional to
    (n_i/N)^(1/T)): a temperature of 1 reproduces natural proportions,
    higher temperatures flatten the mix toward uniform so low-resource
    sources are upsampled.

    Returns one row per group: ``(source, n_units, nat_share, weight,
    upsample_factor)`` where ``weight`` is the normalized temperature
    share and ``upsample_factor = weight / nat_share`` (> 1 means the
    source is oversampled relative to its natural volume). Feed the
    weights to :func:`~..workloads.sampling.q_corpus_mix`'s applier or any
    budgeted sampler.

    Scale shape: ONE partial-aggregated exchange (groupBy source over
    the corpus); everything after runs on the group-cardinality frame,
    where the unpartitioned normalization windows are benign (tens of
    sources, not rows-of-corpus — same argument as the calendar
    windows in docs/SCALE.md).
    """
    from pyspark.sql.window import Window

    g = df.groupBy(group_col).agg(
        F.sum(size_col).cast("long").alias("n_units")
    )
    # bounded-input: one row per source group
    w = Window.partitionBy()
    nat = F.col("n_units") / F.sum("n_units").over(w)
    u = F.pow(nat, 1.0 / temperature)
    weight = u / F.sum(u).over(w)
    return g.select(
        group_col,
        "n_units",
        F.round(nat, 6).alias("nat_share"),
        F.round(weight, 6).alias("weight"),
        F.round(weight / nat, 6).alias("upsample_factor"),
    )


def unimax_allocation(
    df: DataFrame,
    group_col: str = "source",
    size_col: str = "n_chars",
    budget_frac: float = 0.5,
    max_epochs: float = 4.0,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, public
    literature): spread a total training budget as UNIFORMLY as
    possible across sources subject to a per-source epoch cap —
    the closed-form alternative to temperature sampling that never
    over-repeats a low-resource source. Water-filling: sources
    sorted by capacity ``c_i = n_i * max_epochs`` ascending; a
    source is CAPPED (gets exactly ``c_i``) while its capacity fits
    under the uniform share of the budget still unassigned; every
    uncapped source gets the common water level.

    Returns one row per group: ``(source, n_units, capacity,
    capped, allocation, epochs)`` — ``epochs = allocation /
    n_units`` is the repeat factor a sampler applies; uncapped
    sources share one level, capped ones sit at ``max_epochs``.

    The per-row cap test ``c_r * (N - r + 1) <= B - cumsum_prev``
    uses RAW-capacity prefix sums, which is valid because failure
    is monotone along the ascending order (once a capacity exceeds
    the level, every later one does too), so the capped set is
    exactly the maximal passing prefix — no driver-side iteration.

    Scale shape: identical to :func:`temperature_weights` — ONE
    partial-aggregated exchange over the corpus; the water-fill
    windows run on the group-cardinality frame (tens of sources).
    """
    from pyspark.sql.window import Window

    g = df.groupBy(group_col).agg(
        F.sum(size_col).cast("long").alias("n_units")
    )
    # bounded-input: one row per source group (both windows)
    full = Window.partitionBy()
    order = Window.orderBy(F.asc("capacity"), F.asc(group_col))  # bounded-input
    prev = order.rowsBetween(Window.unboundedPreceding, -1)
    budget = F.lit(budget_frac) * F.sum("n_units").over(full)
    t = g.select(
        group_col,
        "n_units",
        (F.col("n_units") * F.lit(max_epochs)).alias("capacity"),
    ).select(
        group_col,
        "n_units",
        "capacity",
        budget.alias("b"),
        F.count("*").over(full).alias("n_src"),
        F.row_number().over(order).alias("r"),
        F.coalesce(F.sum("capacity").over(prev), F.lit(0.0)).alias("cum_prev"),
    )
    capped = F.col("capacity") * (F.col("n_src") - F.col("r") + 1) <= (
        F.col("b") - F.col("cum_prev")
    )
    t = t.withColumn("capped", capped).select(
        group_col,
        "n_units",
        "capacity",
        "b",
        "n_src",
        "capped",
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("capacity"))).over(full),
            F.lit(0.0),
        ).alias("capped_sum"),
        F.sum(F.col("capped").cast("int")).over(full).alias("n_capped"),
    )
    level = (F.col("b") - F.col("capped_sum")) / (
        F.col("n_src") - F.col("n_capped")
    )
    alloc = F.when(F.col("capped"), F.col("capacity")).otherwise(level)
    return t.select(
        group_col,
        "n_units",
        F.round("capacity", 6).alias("capacity"),
        "capped",
        F.round(alloc, 6).alias("allocation"),
        # Guard the 0/0 of a degenerate source whose size_col sums to
        # 0 (capacity 0 => capped with allocation 0): emit NULL in
        # BOTH engines instead of Spark-NULL-vs-DuckDB-NaN (the
        # oracle carries the same CASE WHEN n_units > 0 guard).
        F.when(
            F.col("n_units") > 0, F.round(alloc / F.col("n_units"), 6)
        ).alias("epochs"),
    )


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    n_buckets: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    public literature): score every corpus document by how much more
    likely its hashed-unigram features are under a TARGET-domain
    sample than under the corpus itself. ``(doc_id, n_tokens,
    weight)`` where ``weight`` is the mean per-token importance
    log-ratio ``ln p_target(b) - ln p_corpus(b)`` over the document's
    token buckets ``b = h28(token) % n_buckets``, both distributions
    add-one smoothed. Rank by ``weight`` and keep the top slice to
    tilt a generic crawl toward the target domain.

    Scale shape: the hashed feature space is FIXED (``n_buckets``
    rows), which is the whole point of DSIR — the target/corpus
    bucket tables and the (total, total) scalars are broadcast-sized
    no matter how large either corpus grows. One partial-aggregated
    exchange builds per-doc bucket counts; the log-ratio lookup is a
    broadcast hash join; nothing else shuffles.
    """
    from ..functions.hashing import h28

    def bucketed(df: DataFrame) -> DataFrame:
        from .text import tokens_array

        return df.select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(tokens_array(text_col)).alias("tok"),
        ).where(F.col("tok").isNotNull()).select(
            "doc_id", F.pmod(h28("tok"), F.lit(n_buckets)).alias("b")
        )

    doc_b = bucketed(corpus).groupBy("doc_id", "b").agg(
        F.count("*").alias("tf")
    )
    corpus_b = doc_b.groupBy("b").agg(F.sum("tf").alias("c_cnt"))
    target_b = bucketed(target).groupBy("b").agg(
        F.count("*").alias("t_cnt")
    )
    # lookup table: corpus buckets only (corpus docs are the ones
    # scored, and their buckets always exist corpus-side) — but the
    # TARGET normalizer must count the whole target sample, including
    # tokens hashing to buckets the corpus never hits (the normal DSIR
    # case: curated target, generic crawl), so t_tot is aggregated
    # from target_b directly, NOT from the joined lookup
    buckets = corpus_b.join(target_b, "b", "left").select(
        "b",
        F.col("c_cnt"),
        F.coalesce(F.col("t_cnt"), F.lit(0)).alias("t_cnt"),
    )
    totals = corpus_b.agg(F.sum("c_cnt").alias("c_tot")).crossJoin(
        target_b.agg(
            F.coalesce(F.sum("t_cnt"), F.lit(0)).alias("t_tot")
        )
    )
    ratio = F.log(
        (F.col("t_cnt") + 1.0) / (F.col("t_tot") + F.lit(float(n_buckets)))
    ) - F.log((F.col("c_cnt") + 1.0) / (F.col("c_tot") + F.lit(float(n_buckets))))
    return (
        doc_b.join(F.broadcast(buckets), "b")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("int").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * ratio) / F.sum("tf"), 6).alias("weight"),
        )
    )
