"""Skew histogram metrics (SURVEY §7.3) + salted-vs-broadcast equality on
a Zipf-skewed mention corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from cpg_spark.operators.joins import skew_report
from cpg_spark.operators.parse import parse_docs, split_parse_output
from cpg_spark.synth import generated_docs


def test_skew_report_identifies_zipf_head(spark):
    raw = parse_docs(generated_docs(spark, 200, n_hubs=4)).persist()
    _, _, mentions, _ = split_parse_output(raw)
    rep = skew_report(mentions)
    assert rep["skew_ratio"] is not None and rep["skew_ratio"] >= 1.0
    # the Zipf head (print) must show up among the hot keys
    assert "print" in rep["hot_keys"]
    # hottest first
    counts = list(rep["hot_keys"].values())
    assert counts == sorted(counts, reverse=True)
    raw.unpersist()


def test_hot_key_salting_matches_blanket_and_plain(spark):
    """hot-key-restricted salting must join to exactly the same rows as
    the blanket ×buckets explode and the plain join — only the shuffle
    layout differs — and must explode ONLY the hot dim rows."""
    from cpg_spark.operators.joins import hot_fact_keys, salted_equi_join

    facts = spark.createDataFrame(
        [(i, "hot" if i % 10 < 9 else f"cold{i}") for i in range(1000)],
        "fid long, k string")
    dims = spark.createDataFrame(
        [("hot", 1), ("cold17", 2), ("cold23", 3), ("nomatch", 4)],
        "dk string, v int")

    hot = hot_fact_keys(facts, "k", partitions=4, min_rows=100)
    assert hot == ["hot"]

    def rows(df):
        return sorted((r.fid, r.v) for r in df.select("fid", "v").collect())

    blanket = salted_equi_join(facts, dims, [("k", "dk")], "fid", buckets=8)
    hotted = salted_equi_join(facts, dims, [("k", "dk")], "fid", buckets=8,
                              hot_keys=hot)
    nohot = salted_equi_join(facts, dims, [("k", "dk")], "fid", buckets=8,
                             hot_keys=[])
    plain = facts.join(dims, facts["k"] == dims["dk"])
    assert rows(blanket) == rows(hotted) == rows(nohot) == rows(plain)

    # dim-side explosion: blanket = 4 keys x 8; hot-restricted = 1 hot key
    # x 8 + 3 cold keys x 1
    d_blanket = dims.withColumn(
        "_dsalt", F.explode(F.array(*[F.lit(i) for i in range(8)])))
    assert d_blanket.count() == 32
    d_hot = dims.withColumn(
        "_dsalt",
        F.explode(F.when(F.col("dk").isin(hot),
                         F.sequence(F.lit(0), F.lit(7)))
                  .otherwise(F.array(F.lit(0)))))
    assert d_hot.count() == 8 + 3

    # fact side of the hot path actually spreads over >1 salt bucket
    n_salts = (
        facts.withColumn(
            "_salt",
            F.when(F.col("k").isin(hot),
                   F.pmod(F.xxhash64(F.col("fid")), F.lit(8)).cast("int"))
            .otherwise(F.lit(0)))
        .filter(F.col("k") == "hot").select("_salt").distinct().count())
    assert n_salts > 1


def test_link_all_hot_key_salted_equals_broadcast(spark, monkeypatch):
    """End-to-end: salted link (which auto-measures hot keys), forced by
    a zero broadcast bound, must emit exactly the broadcast plan's edges
    on a Zipf corpus."""
    from cpg_spark.operators import link
    from cpg_spark.operators.link import link_combined, split_linked

    raw = parse_docs(generated_docs(spark, 120, n_hubs=3)).persist()
    try:
        nodes, edges, mentions, symbols = split_parse_output(raw)
        eb, ib = split_linked(link_combined(
            mentions, symbols, nodes, edges)[0])
        monkeypatch.setattr(link, "BROADCAST_MAX_ROWS", 0)
        combined, stats = link_combined(mentions, symbols, nodes, edges)
        assert stats["strategy"] == "salted"
        es, is_ = split_linked(combined)
        key = ["subj", "pred", "obj"]
        assert sorted(map(tuple, eb.select(key).collect())) == \
            sorted(map(tuple, es.select(key).collect()))
        assert sorted(r.node_id for r in ib.select("node_id").collect()) == \
            sorted(r.node_id for r in is_.select("node_id").collect())
    finally:
        raw.unpersist()

