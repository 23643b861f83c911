"""AQE skew-join regression gate (r14 VERDICT task 4).

`SKEW_r14.json` proved once that the binned range join's one structural
scale risk — a hot (contig, bin) shuffle partition — is mitigated by AQE
splitting the skewed partition.  Nothing pinned that behavior against
future plan changes (e.g. a repartition added upstream of the join would
defeat `spark.sql.adaptive.skewJoin` by hiding the stats boundary).  This
test rebuilds the 60%-one-contig + 30%-hot-window fixture small and
asserts BOTH properties on every run:

* **parity** — the full pair set under the skew-split plan digest-matches
  external DuckDB reading the very same parquet bytes (skew mitigation
  that changed results fails here first), and the broadcast plan produces
  the identical digest (plan diversity inside one engine);
* **the split fired** — the executed adaptive plan contains an
  `AQEShuffleRead skewed` node on the join's shuffle read.  Empirically
  the split needs >=32 shuffle partitions at this scale (at 8, the
  hot (contig, bin) keys land in partitions whose size never clears
  `factor * median`), so the test pins runtime confs and restores them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequila_spark.operators.range_join import range_join

HOT_LO, HOT_HI = 100_001, 120_000
COLD_SPACE = 10_000_000
N_READS, N_TARGETS = 200_000, 2_000
READ_LEN, TARGET_LEN = 100, 300

_SKEW_CONF = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # probe-scale thresholds: the 256 MB defaults play the same role at
    # production shuffle sizes (SKEW_r14.json used the same scaling)
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8k",
}


def _side(spark, n: int, ident: str, ilen: int, key: str):
    """Deterministic skewed relation (tools/skew_r14.build_fixture shape):
    60% of rows on contig '1', half of those inside the 20 kb hot window,
    the rest uniform over 10 Mb — no RNG beyond xxhash64 on ids."""
    on_chr1 = F.col("id") % 10 < 6
    in_hot = F.col("id") % 10 < 3
    pos = (
        F.when(
            in_hot,
            F.pmod(F.xxhash64("id", F.lit(ident + "h")),
                   F.lit(HOT_HI - HOT_LO)) + HOT_LO,
        )
        .otherwise(
            F.pmod(F.xxhash64("id", F.lit(ident + "c")),
                   F.lit(COLD_SPACE)) + 1
        )
        .cast("int")
    )
    return spark.range(n).select(
        F.concat(F.lit(ident), "id").alias(key),
        F.when(on_chr1, F.lit("1"))
        .otherwise((F.col("id") % 4 + 2).cast("string"))
        .alias("contig"),
        pos.alias("pos_start"),
    ).withColumn("pos_end", F.col("pos_start") + ilen - 1)


@pytest.fixture()
def skew_conf(spark):
    saved = {k: spark.conf.get(k, None) for k in _SKEW_CONF}
    for k, v in _SKEW_CONF.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_skew_join_split_fires_and_preserves_parity(spark, skew_conf, tmp_path):
    rp = str(tmp_path / "reads.parquet")
    tp = str(tmp_path / "targets.parquet")
    _side(spark, N_READS, "r", READ_LEN, "qname").write.parquet(rp)
    _side(spark, N_TARGETS, "t", TARGET_LEN, "target_id").write.parquet(tp)
    reads, targets = spark.read.parquet(rp), spark.read.parquet(tp)

    from tools.skew_r14 import duck_digest
    from tools.sweep import _spark_hash_agg

    df = range_join(reads, targets, how="inner").select("qname", "target_id")
    df.collect()  # materialize THIS plan so its adaptive final plan exists
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead skewed" in plan, (
        "AQE skew-split did not fire on the hot (contig, bin) partition:\n"
        + "\n".join(
            ln for ln in plan.splitlines() if "AQEShuffleRead" in ln
        )
    )

    s_dig = _spark_hash_agg(
        range_join(reads, targets, how="inner").select("qname", "target_id")
    )
    d_dig = duck_digest(
        f"""
        SELECT r.qname AS qname, t.target_id AS target_id
        FROM read_parquet('{rp}/*.parquet') r
        JOIN read_parquet('{tp}/*.parquet') t
          ON r.contig = t.contig
         AND r.pos_start <= t.pos_end AND r.pos_end >= t.pos_start
        """,
        ["qname", "target_id"],
    )
    assert tuple(s_dig) == tuple(d_dig), (s_dig, d_dig)
    assert s_dig[0] > 100_000  # the fixture must actually stress the join

    # broadcast leg (production default for a 2k-target dim): identical
    # digest from a plan that never shuffles the read side for the join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10m")
    b_dig = _spark_hash_agg(
        range_join(reads, targets, how="inner").select("qname", "target_id")
    )
    assert tuple(b_dig) == tuple(s_dig)
