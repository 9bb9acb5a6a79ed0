package graft

import graft.core.SessionTune

/** Pins the library-owned session posture: the defaults list carries
  * the cached-plan re-partitioning conf every snapshot entry's
  * one-scan pre-aggregate depends on and the codegen cache size a
  * repeated pass needs, and the batch shuffle-partition
  * count derives from input bytes (clamped, conf-overridable) — never
  * from the core count. */
class SessionTuneSpec extends SparkSpec {

  test("defaults carry the AQE, cached-plan, UTC and codegen-cache confs") {
    val d = SessionTune.defaults.toMap
    assert(d("spark.sql.adaptive.enabled") === "true")
    assert(d("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") === "true")
    assert(d("spark.sql.session.timeZone") === "UTC")
    // a repeated pass of the report + curation chains needs ~450
    // generated classes resident; Spark's default (100) thrashes
    assert(d("spark.sql.codegen.cache.maxEntries").toInt >= 1000)
  }

  test("scaledPartitions derives from bytes with a floor of 2") {
    val t = SessionTune.DefaultTargetBytes
    assert(SessionTune.scaledPartitions(spark, 0L) == 2)
    assert(SessionTune.scaledPartitions(spark, 1L) == 2)
    assert(SessionTune.scaledPartitions(spark, 10 * t) == 10)
    assert(SessionTune.scaledPartitions(spark, 10 * t - 1) == 10) // ceil
  }

  test("scaledPartitions clamps at 4 x defaultParallelism") {
    val cap = 4 * spark.sparkContext.defaultParallelism
    assert(SessionTune.scaledPartitions(
      spark, Long.MaxValue / 4) == cap)
  }

  test("explicit conf override wins") {
    spark.conf.set(SessionTune.PartitionsConf, "7")
    try assert(SessionTune.scaledPartitions(spark, Long.MaxValue / 4) == 7)
    finally spark.conf.unset(SessionTune.PartitionsConf)
  }

  test("target bytes conf changes the derivation") {
    spark.conf.set(SessionTune.TargetBytesConf, "1048576")
    try assert(SessionTune.scaledPartitions(spark, 5L << 20) == 5)
    finally spark.conf.unset(SessionTune.TargetBytesConf)
  }

  test("tuneForData sets shuffle partitions from the data dir") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val n = SessionTune.tuneForData(spark, sf)
      assert(n >= 2)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == n.toString)
      assert(SessionTune.dirBytes(spark, sf) > 0L)
      // missing dir: no bytes, floor partition count, no crash
      assert(SessionTune.scaledPartitions(
        spark, SessionTune.dirBytes(spark, "/nonexistent-graft-dir")) == 2)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
