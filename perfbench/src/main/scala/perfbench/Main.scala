package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import graft.core.{CacheScope, SessionTune}

/** The benchmark's JVM side.
  *
  *   Main run <config.json>   set up, run timed passes, write result.json
  *   Main sql <out.json>      write the library oracle SQL the checks reuse
  *
  * `run` reads its settings from a JSON file (input and output
  * directories, seconds, trace flag, setup rounds, cores, and the
  * workload's parts: the pipelines one pass runs, one after another,
  * each over its own input). It builds the session `setup_rounds` times
  * (construction and library posture; the last session is kept), runs
  * `warmup_passes` untimed passes, then runs passes in a closed loop
  * until `seconds` have passed and at least `min_passes` have run. With
  * trace on, untraced and traced passes alternate in the order U T T U.
  * Every output a part produces is left under the pass's directory, in
  * a subdirectory named after the part, for the checks that follow.
  */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("sql", out) =>
      write(Paths.get(out), Map(
        "curation_full" -> graft.queries.CurationQueries.qCurationFullSql))
    case Seq("run", config) => run(fromJson(Files.readString(Paths.get(config))))
    case _ =>
      System.err.println("usage: Main run <config.json> | Main sql <out.json>")
      sys.exit(2)
  }

  /** The one place the benchmark builds its session, as the library's
    * runners do: SessionTune.defaults, then SessionTune.tuneForData on
    * the workload's input directory. Returns the session, the partition
    * count chosen and the input bytes it was chosen from. */
  def session(cores: Int, scratch: String, input: String): (SparkSession, Int, Long) = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
    SessionTune.defaults.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    val bytes = SessionTune.dirBytes(s, input)
    (s, SessionTune.tuneForData(s, input), bytes)
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1.0
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  }

  def run(conf: Map[String, Any]): Unit = {
    def str(k: String) = conf(k).toString
    def int(k: String) = conf(k).asInstanceOf[Number].intValue
    val input = str("input")
    val out = Paths.get(str("out"))
    val seconds = conf("seconds").asInstanceOf[Number].doubleValue
    val trace = conf("trace").asInstanceOf[Boolean]
    val cores = int("cores")
    val parts = conf("parts").asInstanceOf[Seq[Map[String, Any]]].map { p =>
      p("name").toString -> Workload(p("name").toString, p("input").toString, p)
    }

    // ---- set-up: session construction + posture, several times (the
    // last session is kept), then the untimed warm-up passes
    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var partitions = 0
    var inputBytes = 0L
    for (_ <- 0 until int("setup_rounds")) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      val (s, p, b) = session(cores, str("scratch"), input)
      spark = s; partitions = p; inputBytes = b
      sessionS += (System.nanoTime() - t0) / 1e9
    }
    // each part is one pipeline: its own cache scope, cleared after it
    def runPart(wl: Workload, tr: Tracer, dir: Path): PassResult = {
      try CacheScope.withScope(wl.pass(spark, tr, dir))
      finally spark.catalog.clearCache()
    }
    val warm0 = System.nanoTime()
    val warmTracer = new Tracer(spark.sparkContext)
    for (w <- 0 until int("warmup_passes")) {
      warmTracer.beginPass(-1, traced = false)
      parts.foreach { case (name, wl) => runPart(wl, warmTracer, out.resolve(s"warmup-$w/$name")) }
    }
    val warmupS = (System.nanoTime() - warm0) / 1e9

    // ---- timed passes, closed loop
    val tracer = new Tracer(spark.sparkContext)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val started = System.nanoTime()
    val minPasses = int("min_passes")
    var i = 0
    while (i < minPasses || (System.nanoTime() - started) / 1e9 < seconds) {
      // untraced, traced, traced, untraced, ...: both kinds sit equally
      // early and late, so warm-up does not bias trace_overhead_ratio
      val traced = trace && (i % 4 == 1 || i % 4 == 2)
      val dir = out.resolve(f"pass-$i%03d")
      tracer.beginPass(i, traced)
      val gc0 = gcMs; val cpu0 = processCpuNs; val t0 = System.nanoTime()
      val results = parts.map { case (name, wl) =>
        val p0 = System.nanoTime()
        val res = try Right(runPart(wl, tracer, dir.resolve(name)))
          catch { case e: Exception => Left(e.toString) }
        (name, res, (System.nanoTime() - p0) / 1e9)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs - cpu0) / 1e9
      val gc = (gcMs - gc0) / 1e3
      tracer.endPass()
      // outside the timed span: collected rows go to disk for the checks
      val partRecs = results.map { case (name, res, partWall) =>
        val rec = mutable.LinkedHashMap[String, Any]("name" -> name, "wall_s" -> partWall)
        res match {
          case Right(r) =>
            rec("records") = r.records
            r.throughputS.foreach(rec("throughput_s") = _)
            rec("queries") = r.results.flatMap(q => q.ms.map(ms => Map(
              "id" -> q.id, "ms" -> ms, "error" -> q.error.orNull)))
            writeRows(dir.resolve(name).resolve("rows.jsonl"), r.results)
          case Left(err) =>
            rec("error") = err
            System.err.println(s"pass $i, $name failed: $err")
        }
        rec.toMap
      }
      passes += Map("i" -> i, "traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> cpu, "gc_s" -> gc, "dir" -> dir.toString, "parts" -> partRecs)
      i += 1
    }

    val spans = tracer.spans.map { sp =>
      val c = tracer.listener.counters.getOrElse(sp.id, new Counters)
      Map[String, Any](
        "id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent, "pass" -> sp.pass,
        "start_ms" -> sp.startMs, "end_ms" -> sp.endMs,
        "wall_s" -> (sp.endNs - sp.startNs) / 1e9,
        "extra" -> sp.extra.toMap,
        "tasks" -> c.tasks, "empty_tasks" -> c.emptyTasks,
        "exec_cpu_s" -> c.execCpuNs / 1e9,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "shuffle_write_records" -> c.shuffleWriteRecords,
        "spill_bytes" -> c.spillBytes, "jobs" -> c.jobs,
        "job_intervals_ms" -> c.jobIntervals.map { case (a, b) => Seq(a, b) }.toSeq)
    }
    write(out.resolve("result.json"), Map(
      "env" -> Map(
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "master" -> spark.sparkContext.master,
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "shuffle_partitions" -> partitions,
        "shuffle_partitions_input_bytes" -> inputBytes),
      "session_s" -> sessionS.toSeq,
      "warmup_s" -> warmupS,
      "passes" -> passes.toSeq,
      "spans" -> spans.toSeq,
      "peak_rss_mb" -> peakRssMb))
    stop(spark)
  }

  // ---- JSON plumbing

  private def fromJson(text: String): Map[String, Any] =
    toScala(mapper.readValue(text, classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case x => x
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Seq[_] => s.map(toJava).asJava
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case x => x
  }

  private def write(p: Path, v: Any): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, mapper.writeValueAsString(toJava(v)))
  }

  /** Collected outputs, one JSON object per line, for the checks. */
  private def writeRows(p: Path, qs: Seq[Collected]): Unit = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p)
    try qs.foreach { q =>
      val rows = q.rows.map((r: Row) => r.toSeq)
      w.write(mapper.writeValueAsString(toJava(Map(
        "id" -> q.id, "error" -> q.error.orNull,
        "columns" -> q.columns, "rows" -> rows))))
      w.write("\n")
    } finally w.close()
  }
}
