package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

/** Library-owned session posture: the confs and the partition
  * derivation every runner (Bench / Verify / Explain / a user
  * pipeline) must share for the operators here to keep their measured
  * plan shapes (optimization guide §2: partition counts derive from
  * DATA SIZE, never from whatever core count the host happens to
  * provide).
  *
  * Two pieces:
  *
  *  - [[defaults]]: session confs the operators' plan shapes depend
  *    on, plus the codegen cache size the pipelines' working set
  *    needs. `canChangeCachedPlanOutputPartitioning` lived only in the
  *    runner builders in round 17 — a consumer building their own
  *    session silently lost the cached-plan coalescing every snapshot
  *    entry's one-scan pre-aggregate depends on (r17 A/B:
  *    q_snapshot_merge 9.52 s with it off vs 2.59 s on, same code).
  *    Owning the list here makes the posture part of the library.
  *
  *  - [[scaledPartitions]] / [[tuneForData]]: batch
  *    `spark.sql.shuffle.partitions` derived from INPUT BYTES, the
  *    batch twin of [[graft.streaming.StreamTune]]'s per-stream
  *    derivation. Measured motivation (r17 driver scaling block): with
  *    partitions pinned to the core count, the sf0.1 suite ran 13%
  *    FASTER on 8 cores than 32 — a dozen entries ~2x slower at 32 —
  *    pure per-task fixed cost on partitions that hold a few hundred
  *    KB each. Deriving from bytes makes the count scale-adaptive:
  *    tiny inputs get few partitions regardless of host width, and at
  *    100 TB the byte term (bytes / 2 MiB) saturates any practical
  *    core clamp, so nothing here is a local[N] tuning constant. A
  *    deployment that knows better pins [[PartitionsConf]] and the
  *    derivation never runs.
  */
object SessionTune {

  /** Hard override: use exactly this many batch shuffle partitions. */
  val PartitionsConf = "spark.graft.batch.shufflePartitions"

  /** Input bytes one batch shuffle partition should own. Measured
    * full-suite A/B at sf0.1 (17 MB of input): a 2 MiB target (9
    * partitions) beat both a 32 MiB target (2 partitions, 265.9 vs
    * 276.4 s — iterative/compute-heavy entries serialize at 2) and
    * the old cores-pinned 32 (277.3 s). The constant only governs the
    * small-data transition zone: any production corpus saturates the
    * 4 x defaultParallelism clamp long before the byte term binds
    * (100 TB / 2 MiB >> any cluster's core count), and AQE's advisory
    * coalescing still owns the post-shuffle merge decision. */
  val TargetBytesConf = "spark.graft.batch.targetPartitionBytes"
  val DefaultTargetBytes: Long = 2L << 20

  /** Session confs the library's plan shapes and pass costs assume.
    * Apply them to the builder, before `getOrCreate`:
    * `SessionTune.defaults.foreach { case (k, v) => builder.config(k, v) }`.
    * A caller that wants another value sets it on the builder after
    * the defaults; the later `config` call wins.
    *
    * All but one are runtime confs. `spark.sql.codegen.cache.maxEntries`
    * is a static conf: it takes effect only when the SparkContext is
    * built, and Spark reads it once per JVM, the first time
    * `CodeGenerator` is touched, so setting it on a live session
    * throws and a later session in the same JVM keeps the first size. */
  val defaults: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    // AQE may re-partition the OUTPUT of cached plans: a persisted
    // aggregate otherwise materializes at the static shuffle-partition
    // count and every downstream action pays that task count
    // regardless of data size (byte-driven at any scale).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // generated-code cache (LRU; Spark's default holds 100 classes).
    // One pass of the FaaS report chain plus the curation chain
    // generates ~450 distinct classes, so at 100 the cache thrashes:
    // every pass recompiled them all with Janino and the JIT compiled
    // the freshly loaded classes again. At 1000 the working set stays
    // resident; a repeated pass compiles only the few stages AQE
    // numbers differently (19-32 of ~450), and the pass's process CPU
    // fell 25% (median 57.4 -> 43.1 s, 4 cores, local[4]).
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** Total bytes under `dir` (metadata-only, glob-aware); 0 when the
    * path is missing — callers fall to the minimum partition count. */
  def dirBytes(s: SparkSession, dir: String): Long = {
    val hp = new Path(dir)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    try {
      val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Nil)
      matched.map { st =>
        if (st.isDirectory) fs.getContentSummary(st.getPath).getLength
        else st.getLen
      }.sum
    } catch { case _: java.io.IOException => 0L }
  }

  /** Batch shuffle-partition count for `bytes` of input: explicit
    * conf wins; otherwise ceil(bytes / target) clamped to
    * [2, 4 x defaultParallelism] — the same shape as
    * [[graft.streaming.StreamTune.scaledPartitions]], sized for batch
    * exchanges instead of per-trigger state stores. */
  def scaledPartitions(s: SparkSession, bytes: Long): Int =
    s.conf.getOption(PartitionsConf).map(_.toInt).getOrElse {
      val target = s.conf.getOption(TargetBytesConf).map(_.toLong)
        .getOrElse(DefaultTargetBytes)
      val byBytes = (bytes + target - 1) / math.max(1L, target)
      val cap = 4L * s.sparkContext.defaultParallelism
      math.max(2L, math.min(byBytes, cap)).toInt
    }

  /** Point the session's `spark.sql.shuffle.partitions` at the size
    * of the data under `dir`. Returns the count it set. */
  def tuneForData(s: SparkSession, dir: String): Int = {
    val n = scaledPartitions(s, dirBytes(s, dir))
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    n
  }
}
