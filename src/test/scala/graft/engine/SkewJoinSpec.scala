package graft.engine

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("salted join == plain join on skewed data (inner and left)") {
    // hot key: 10k rows of key 1, long tail of others
    val big = spark.range(10000).select(lit(1L).as("k"), col("id").as("v"))
      .unionAll(spark.range(100).select((col("id") + 2).as("k"),
        col("id").as("v")))
    val small = Seq((1L, "hot"), (2L, "cold"), (999L, "missing-from-big"))
      .toDF("k", "name")
    for (jt <- Seq("inner", "left")) {
      val plain = big.join(small, Seq("k"), jt)
        .select("k", "v", "name").collect().map(_.toSeq).toSet
      val salted = SkewJoin.saltedJoin(big, small, Seq("k"), salt = 8, jt)
        .select("k", "v", "name").collect().map(_.toSeq).toSet
      assert(salted == plain, s"join type $jt diverged")
    }
  }

  test("salt actually spreads a hot key across partitions") {
    val big = spark.range(1000).select(lit(1L).as("k"), col("id").as("v"))
    val salted = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col): _*), lit(8)).cast("int"))
    val spread = salted.select("__salt").distinct().count()
    assert(spread == 8)
  }

  test("AQE skew-split fires on the LSH band self-join's hot bucket") {
    // the cluster-scale LSH candidate join (corpus too big to
    // broadcast) is a shuffled self-join on (band, bk); an adversarial
    // corpus concentrates one bucket (PLANS.md "LSH banding under
    // adversarial skew" measured the full version with a probe tool
    // last present at commit 6989ace). This pins Spark's
    // OptimizeSkewedJoin as the backstop for that exact join shape: a
    // hot (band, bk) partition gets split (the SMJ is marked
    // skew=true) and results are unchanged. Thresholds are lowered so
    // the split triggers at test scale; broadcast is disabled to force
    // the shuffle-join arm.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512b",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot (band, bk) bucket with 1500 members + a cold tail
      val hot = spark.range(1500).select(lit(0).as("band"),
        lit(7L).as("bk"), col("id").as("vec_id"))
      val cold = spark.range(2000).select(lit(1).as("band"),
        (col("id") % 500).as("bk"), (col("id") + 10000).as("vec_id"))
      val banded = hot.unionAll(cold).localCheckpoint(true)
      val cands = graft.operators.Dedup.bandCandidatePairsJoin(
        banded, "vec_id", "v1", "v2")
      // collect() executes THIS QueryExecution, so the inspected plan
      // is the AQE-final one (count() would wrap a fresh plan)
      val n = cands.collect().length
      // 1500 choose 2 from the hot bucket + the cold tail's pairs
      assert(n >= 1500 * 1499 / 2)
      val plan = cands.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected a skew-split SMJ in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
