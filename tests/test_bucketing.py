"""Co-partitioned seen set: once a crawl passes the broadcast threshold
the wave loop keeps ``seen`` hash-partitioned on url, so the seen-set
anti-join's seen side needs no Exchange. Proved from the physical plan."""

import pyspark.sql.functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _no_broadcast(spark):
    return {"spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "false"}


def test_prepartitioned_seen_elides_join_exchange(spark):
    """A persisted seen set hash-partitioned on the join key (what
    plans/crawl.py maintains once the crawl enters the shuffle-hash
    regime, and what perfbench's wave_bulk input mirrors) satisfies the
    anti-join's required distribution THROUGH the url->clean_url alias,
    so only the candidate side's keep-first aggregate exchange remains
    in the wave plan."""
    from librecrawl_spark.operators.frontier import anti_join_seen

    n_shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    seen = spark.range(30_000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 11).cast("string"),
                 F.lit(".example/p/"), F.col("id").cast("string")).alias("url"))
    cand = spark.range(9_000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 11).cast("string"),
                 F.lit(".example/p/"), (F.col("id") * 2).cast("string"))
        .alias("clean_url"),
        F.col("id").alias("src_seq"))
    first = cand.groupBy("clean_url").agg(F.min("src_seq").alias("_p"))
    with _conf(spark, _no_broadcast(spark)):
        plain = _plan(anti_join_seen(first, seen.persist(), big=True))
        pre = seen.repartition(n_shuf, "url").persist()
        pre.count()
        part = _plan(anti_join_seen(first, pre, big=True))
    # plain: agg exchange + ENSURE exchange on the seen side; pre: the
    # ENSURE exchange is gone (the only remaining Exchange nodes are the
    # candidate agg's and the cached REPARTITION placement, which the
    # InMemoryTableScan serves without re-shuffling)
    assert "ENSURE_REQUIREMENTS" in plain.split("ShuffledHashJoin")[0] or \
        plain.count("ENSURE_REQUIREMENTS") >= 2, plain
    assert part.count("ENSURE_REQUIREMENTS") == plain.count("ENSURE_REQUIREMENTS") - 1, \
        f"pre-partitioned seen still re-exchanges:\n{part}"
    seen.unpersist()
    pre.unpersist()


class _conf:
    """Temporarily set session confs (restored on exit)."""

    def __init__(self, spark, kv: dict):
        self.spark, self.kv, self.old = spark, kv, {}

    def __enter__(self):
        for k, v in self.kv.items():
            self.old[k] = self.spark.conf.get(k, None)
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.old.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)
