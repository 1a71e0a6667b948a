"""Join strategies for the linking stage: broadcast vs salted shuffle join.

The reference "joins" via in-heap hash maps over merged symbol tables
(``VariableUsageResolver.java:71-73``, ``CallResolver.java:67-69``); at
cluster scale the equivalent is an equi-join whose key (symbol simple name)
is heavily Zipf-skewed — ``print``, ``main``, ``self`` dominate (SURVEY.md
§7.3 "Skew").  Strategy:

* dimension side small (the common case: distinct declarations are tiny
  relative to mentions) → ``F.broadcast`` hash join — no shuffle, skew
  irrelevant;
* dimension side large → salted sort-merge join: the fact side gets a salt
  from a hash of its unique id, the dimension side is exploded ×K
  (``BASELINE north_rule`` demands explicit handling; AQE skew-join stays on
  as backstop — both are reported in stage metrics).

Key columns are passed as (fact_col, dim_col) pairs with distinct names so
no aliasing gymnastics are needed downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# dimension tables below this row count are broadcast.  Measured on this
# box (96k docs, 944k-row symbol dim, warm, best-of-2): broadcast wins at
# 8 threads (71s vs 88s) but LOSES at 32 (42.5s vs 34.4s) — the driver-side
# hash-relation build and per-task broadcast deserialization serialize at
# high parallelism, so pinning broadcast capped 8->32 scaling efficiency at
# 0.42 while the salted shuffle reaches 0.64.  A corpus-proportional symbol
# dimension must therefore shuffle; only genuinely small dims (records,
# enums, imports — thousands of rows) broadcast.  The same logic holds
# harder on a real cluster: a dim that grows with the corpus has no
# business on the driver at 10^12 docs.
BROADCAST_MAX_ROWS = 100_000


def salted_equi_join(
    facts: DataFrame,
    dims: DataFrame,
    key_pairs: list[tuple[str, str]],
    salt_src: str,
    buckets: int = 16,
    how: str = "inner",
    hot_keys: list | None = None,
) -> DataFrame:
    """Equi-join with the fact side salted by ``pmod(xxhash64(salt_src),
    buckets)`` and the dim side exploded × ``buckets`` — spreads each hot
    key over ``buckets`` reducers instead of one.

    ``hot_keys`` (a bounded driver-side list from :func:`hot_fact_keys`)
    restricts the salting to the keys that actually NEED it: only hot-key
    dim rows explode × buckets, the long tail joins with salt 0.  Blanket
    explosion multiplies the ENTIRE dim side's shuffle volume × buckets —
    measured 2x link-stage wall time at local[32] (9.8 s vs 5.1 s, 48k
    docs) — and at corpus scale a symbol dim that shuffles 16x its size is
    the difference between a balanced join and an I/O wall.  ``None``
    keeps the blanket behavior (callers that know their whole key is
    skewed); ``[]`` degenerates to a plain co-partitioned join with AQE
    skew-join as the backstop."""
    fk0, dk0 = key_pairs[0]
    if hot_keys is None:
        f = facts.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(salt_src)), F.lit(buckets)).cast("int"))
        d = dims.withColumn(
            "_dsalt", F.explode(F.array(*[F.lit(i) for i in range(buckets)])))
    else:
        hot = (F.col(fk0).isin(hot_keys) if hot_keys
               else F.lit(False))
        d_hot = (F.col(dk0).isin(hot_keys) if hot_keys
                 else F.lit(False))
        f = facts.withColumn(
            "_salt",
            F.when(hot, F.pmod(F.xxhash64(F.col(salt_src)),
                               F.lit(buckets)).cast("int"))
            .otherwise(F.lit(0)))
        d = dims.withColumn(
            "_dsalt",
            F.explode(F.when(
                d_hot,
                F.sequence(F.lit(0), F.lit(buckets - 1)))
                .otherwise(F.array(F.lit(0)))))
    cond = [F.col(fk) == F.col(dk) for fk, dk in key_pairs]
    cond.append(F.col("_salt") == F.col("_dsalt"))
    return f.join(d, cond, how).drop("_salt", "_dsalt")


def hot_fact_keys(facts: DataFrame, key: str, partitions: int,
                  min_rows: int = 10_000, max_keys: int = 10_000) -> list:
    """Fact-key values whose row count exceeds a single reducer's fair
    share (``total / partitions``, floored at ``min_rows``) — the keys
    that would stall one reducer in an unsalted shuffle join.  Bounded to
    ``max_keys`` hottest (a Zipf head is far smaller); the result rides to
    executors as an ``isin`` literal set, costing no extra join.

    ONE action: a hot key holds more than ``1/partitions`` of the rows,
    so fewer than ``partitions`` keys can be hot, and the top that many
    keys plus the total decide the answer.  Both branches read one
    map-side-combined count exchange (reused), and the driver collects
    at most ``min(partitions, max_keys) + 1`` rows at any corpus size."""
    counts = facts.groupBy(key).count()
    top = (counts.orderBy(F.col("count").desc())
           .limit(min(max(partitions, 1), max_keys))
           .withColumn("_total", F.lit(False)))
    total = (counts.agg(F.sum("count").alias("count"))
             .withColumn("_total", F.lit(True)))
    rows = top.unionByName(total, allowMissingColumns=True).collect()
    tot = next(r["count"] for r in rows if r["_total"])
    if not tot:
        return []
    threshold = max(tot / max(partitions, 1), min_rows)
    return [
        r[key]
        for r in sorted((r for r in rows if not r["_total"]),
                        key=lambda r: -r["count"])
        if r["count"] > threshold and r[key] is not None
    ]


def skew_report(facts: DataFrame, key: str = "name", top_k: int = 8) -> dict:
    """Per-key count histogram of the join key (SURVEY §7.3: 'verify with
    per-key count histograms in metrics').  Returns
    {key: count} for the hottest keys plus the skew ratio
    max_key_count / mean_key_count — the number that decides whether the
    salted path matters."""
    from pyspark.sql import functions as F

    # ONE aggregation job: per-key counts cached, consumed by both the
    # top-k collect and the max/mean stats (the round-1 version ran the
    # groupBy twice)
    counts = facts.groupBy(key).count().persist()
    try:
        rows = counts.orderBy(F.col("count").desc()).limit(top_k).collect()
        stats = counts.agg(
            F.max("count").alias("mx"), F.avg("count").alias("mean")
        ).first()
    finally:
        counts.unpersist()
    return {
        "hot_keys": {r[key]: r["count"] for r in rows},
        "skew_ratio": round(float(stats["mx"]) / max(float(stats["mean"]), 1e-9), 1)
        if stats["mx"] is not None else None,
    }


def linking_join(
    facts: DataFrame,
    dims: DataFrame,
    key_pairs: list[tuple[str, str]],
    salt_src: str,
    strategy: str,
    buckets: int = 16,
    hot_keys: list | None = None,
) -> DataFrame:
    """Inner equi-join by ``strategy``: ``"broadcast"`` broadcasts the
    dim side, ``"salted"`` runs :func:`salted_equi_join`.  ``hot_keys``
    (see :func:`hot_fact_keys`) restricts salting to measured hot keys on
    the salted path."""
    if strategy == "broadcast":
        cond = [F.col(fk) == F.col(dk) for fk, dk in key_pairs]
        return facts.join(F.broadcast(dims), cond, "inner")
    return salted_equi_join(facts, dims, key_pairs, salt_src, buckets=buckets,
                            hot_keys=hot_keys)
