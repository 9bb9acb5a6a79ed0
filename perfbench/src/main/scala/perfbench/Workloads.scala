package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.CacheScope.Scoped
import graft.core.{SessionTune, Tables}
import graft.etl.SalesTransform
import graft.ops._
import graft.queries.CurationQueries
import graft.report._
import graft.runner.{PayloadInheritance, PipelineRunner}
import graft.sources.{CsvIO, ReportWriter}

/** What one pass did: records it pushed through, the part of its wall
  * time that counts toward throughput, and the results it collected. */
final case class PassResult(records: Long, throughputS: Option[Double],
    results: Seq[Collected])

/** A collected result; `ms` is set for a timed query. */
final case class Collected(id: String, ms: Option[Double], columns: Seq[String],
    rows: Seq[Row], error: Option[String])

/** One pipeline of a workload. It runs over generated inputs in `in`,
  * writing every output a pass produces under `out` so it can be
  * checked afterwards. A workload's pass runs its pipelines in turn. */
trait Workload {
  def pass(s: SparkSession, tr: Tracer, out: Path): PassResult
}

object Workload {
  def apply(name: String, in: String, conf: Map[String, Any]): Workload = name match {
    case "tlq_sales" => new TlqSales(in, conf)
    case "faas_report" => new FaasReport(in, conf)
    case "curation_chain" => new CurationChain(in, conf)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def mb(bytes: Long): Double = bytes / 1048576.0
}

/** TLQ: Transform (CSV -> SalesTransform -> CSV), Load (CSV -> parquet
  * SalesData), then a seeded mix of Query variants over SalesData. */
final class TlqSales(in: String, conf: Map[String, Any]) extends Workload {
  private val salesCsv = s"$in/sales.csv"
  private val queries: Seq[(String, String)] = conf("queries")
    .asInstanceOf[Seq[Map[String, Any]]]
    .map(q => q("id").toString -> q("sql").toString)
  private val perPass = conf("queries_per_pass").asInstanceOf[Number].intValue
  private val inputRows = conf("rows").asInstanceOf[Number].longValue
  private var next = 0

  private val salesSchema = StructType(Seq(
    StructField("order_id", LongType), StructField("line_number", IntegerType),
    StructField("region", StringType), StructField("country", StringType),
    StructField("order_priority", StringType),
    StructField("order_date", DateType), StructField("ship_date", DateType),
    StructField("revenue_c", LongType), StructField("cost_c", LongType),
    StructField("units_c", LongType)))
  private val transformedSchema = StructType(salesSchema.fields ++ Seq(
    StructField("gross_margin", DoubleType),
    StructField("processing_days", LongType),
    StructField("processing_time", StringType)))

  def pass(s: SparkSession, tr: Tracer, out: Path): PassResult = {
    val tDir = out.resolve("t").toString
    val lDir = out.resolve("l").toString
    val t0 = System.nanoTime()
    tr.span("etl.transform") {
      tr.note("input_mb", Workload.mb(SessionTune.dirBytes(s, salesCsv)))
      val sales = CsvIO.readCsv(s, salesCsv, Some(salesSchema))
      CsvIO.writeCsv(SalesTransform.transform(sales), tDir)
      tr.note("output_mb", Workload.mb(SessionTune.dirBytes(s, tDir)))
    }
    tr.span("sources.load") {
      CsvIO.readCsv(s, tDir, Some(transformedSchema))
        .write.mode("overwrite").parquet(lDir)
      tr.note("output_mb", Workload.mb(SessionTune.dirBytes(s, lDir)))
    }
    val tlS = (System.nanoTime() - t0) / 1e9
    val table = s.read.parquet(lDir)
    val results = (0 until perPass).map { _ =>
      val (id, sql) = queries(next % queries.size)
      next += 1
      tr.span("sources.query") {
        val q0 = System.nanoTime()
        try {
          val df = CsvIO.query(s, table, "SalesData", sql)
          val rows = df.collect().toSeq
          Collected(id, Some((System.nanoTime() - q0) / 1e6), df.columns.toSeq, rows, None)
        } catch {
          case e: Exception =>
            Collected(id, Some((System.nanoTime() - q0) / 1e6), Nil, Nil, Some(e.toString))
        }
      }
    }
    PassResult(inputRows, Some(tlS), results)
  }
}

/** FaaS Runner's report engine over SAAF run records: JSON read ->
  * staged run list (payload inheritance + pipeline state machine, as
  * ReportQueries.qE2eReport composes it) -> run-record union with
  * warm-up and invalidator filters -> Report.build -> interval overlap
  * -> pipeline running totals -> the multi-section CSV report. */
final class FaasReport(in: String, conf: Map[String, Any]) extends Workload {
  private val runsDir = s"$in/runs"
  private val memories = conf("memory_settings").asInstanceOf[Seq[Any]]
    .map(_.asInstanceOf[Number].longValue)
  private val iterations = conf("iterations").asInstanceOf[Number].intValue
  private val stages = conf("stages").asInstanceOf[Number].intValue
  private val inputRows = conf("rows").asInstanceOf[Number].longValue

  val spec: ExperimentSpec = ExperimentSpec(
    outputGroups = Seq("functionName", "memory"),
    showAsSum = Set("runtime_ms"),
    showAsList = Set("cpuType"),
    ignoreFromAll = Set("uuid", "platform"),
    ignoreFromGroups = Set("run_id", "pipeline_id", "startTime", "endTime"),
    invalidators = Map("status" -> "error"),
    removeDuplicateContainers = true,
    warmupBuffer = 1,
    experimentName = "perfbench")

  /** One (memory setting, iteration) slice through the stage chain:
    * stage 0 starts the chain at its own runtime, every later stage
    * adds its runtime to the previous stage's output, handed on through
    * the out_ms -> in_ms key rename. */
  private def staged(slice: DataFrame): DataFrame = {
    val first = PipelineRunner.Stage("stage0", df =>
      df.filter(col("pipeline_stage") === 0).withColumn("out_ms", col("runtime_ms")))
    val rest = (1 until stages).map { k =>
      PipelineRunner.Stage(s"stage$k", df => {
        val prev = df.filter(col("pipeline_stage") === k - 1)
          .select(col("pipeline_id"), col("in_ms").as("prev_ms"))
        val next = slice.filter(col("pipeline_stage") === k)
          .join(prev, Seq("pipeline_id"))
          .withColumn("out_ms", col("runtime_ms") + col("prev_ms"))
          .drop("prev_ms")
        df.unionByName(next, allowMissingColumns = true)
      })
    }
    PipelineRunner.run(slice, first +: rest, tagStages = false,
        keyRenames = Map("out_ms" -> "in_ms"), materializeStages = true)
      .drop("in_ms").withColumnRenamed("out_ms", "chain_ms")
  }

  def pass(s: SparkSession, tr: Tracer, out: Path): PassResult = {
    // every (memory, iteration) slice reads the records: cache them once
    val raw = tr.span("sources.json_read") {
      tr.force(CsvIO.readJsonDir(s, runsDir).scopedCache())
    }
    val runs = tr.span("runner.pipeline") {
      val payloads = PayloadInheritance.prepare(
        payloads = memories.map(m => Map[String, Any]("memory" -> m)),
        folder = memories.map(_ => Map[String, Any]("experiment" -> spec.experimentName)),
        parent = Map("memory" -> 128L, "experiment" -> "default"))
      val perSetting = payloads.map { p =>
        val iters = (0 until iterations).map { it =>
          staged(raw.filter(col("memory") === p("memory").asInstanceOf[Long] &&
              col("iteration") === it)
            .withColumn("experiment", lit(p("experiment").toString)))
        }
        RunRecords.combineIterations(iters, "containerID")
      }
      tr.force(RunRecords.warmupFilter(
        RunRecords.unionFill(perSetting), "iteration", spec.warmupBuffer))
    }
    val sections = tr.span("report.build") {
      Report.build(runs, spec, idCol = Some("containerID"),
        attrCol = Some("cpuType"), arrivalCol = Some("run_id"))
    }
    val overlap = tr.span("report.overlap") {
      val events = sections.raw.select(col("run_id").as("event_id"),
        col("functionName"), (col("startTime") * 1000L).as("ts_us"),
        col("runtime_s").as("value"))
      tr.note("rows", sections.successfulRuns.toDouble)
      tr.force(Overlap.binnedAuto(events, equiKey = Some("functionName")))
    }
    val windowed = tr.span("report.window") {
      tr.force(PipelineWindow.runningTotals(
        sections.raw.join(overlap.withColumnRenamed("event_id", "run_id"), Seq("run_id")),
        partitionCols = Seq("pipeline_id"), orderCols = Seq("pipeline_stage"),
        metrics = Seq("runtime_s")))
    }
    tr.span("sources.report_write") {
      ReportWriter.writeReport(out.toString, "report", spec.experimentName,
        sections.copy(raw = RunRecords.sortedColumns(windowed)),
        staging = Some(out.resolve("staging").toString))
    }
    PassResult(inputRows, None, Nil)
  }
}

/** The full curation chain. Untraced, it is one call to the library's
  * entry, CurationQueries.qCurationFull. Traced, the same stages run one
  * by one through the public ops functions that entry composes, each
  * materialized at its span boundary; both must give the oracle's
  * pack manifest. */
final class CurationChain(in: String, conf: Map[String, Any]) extends Workload {
  private val inputRows = conf("rows").asInstanceOf[Number].longValue
  private val weights = Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)

  def pass(s: SparkSession, tr: Tracer, out: Path): PassResult = {
    val manifest = if (!tr.on) CurationQueries.qCurationFull(s, in) else staged(s, tr)
    val rows = manifest.collect().toSeq
    PassResult(inputRows, None, Seq(Collected("manifest", None, manifest.columns.toSeq, rows, None)))
  }

  private def staged(s: SparkSession, tr: Tracer): DataFrame = {
    val docs = Tables.documents(s, in)
    val (idx, cands) = tr.span("ops.dedup.candidates") {
      val idx = Dedup.cappedIndex(Dedup.wordShingles(docs, "text", "doc_id"), 1000L)
        .withColumn("n_g", count(lit(1)).over(Window.partitionBy(col("id"))))
        .scopedCache()
      val sigs = Dedup.minhashSignatures(idx.select("id", "g"), 64).scopedCache()
      val cands = tr.force(Dedup.minhashCandidates(Dedup.lshBands(sigs, 64, 4)))
      tr.note("pairs", cands.count().toDouble)
      (idx, cands)
    }
    val verified = tr.span("ops.dedup.verify") {
      val a = idx.select(col("id").as("id1"), col("g"), col("n_g").as("n1"))
      val b = idx.select(col("id").as("id2"), col("g"), col("n_g").as("n2"))
      val v = tr.force(cands.join(a, Seq("id1")).join(b, Seq("id2", "g"))
        .groupBy(col("id1"), col("id2"), col("n1"), col("n2"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") / (col("n1") + col("n2") - col("shared")) >= 0.5)
        .select("id1", "id2"))
      tr.note("pairs", v.count().toDouble)
      v
    }
    val keep = tr.span("ops.components") {
      val labels = Components.connectedComponents(
        docs.select(col("doc_id").as("id")), verified)
      tr.force(Components.withClusterSizes(labels)
        .withColumn("keep", (col("id") === col("cluster_id")).cast("long")))
    }
    val clean = tr.span("ops.decontaminate") {
      val corpus = docs.join(keep.filter(col("keep") === 1L)
          .select(col("id").as("doc_id")), Seq("doc_id"))
        .filter(pmod(col("doc_id"), lit(53)) =!= 0)
        .scopedCache()
      val evalSet = docs.filter(pmod(col("doc_id"), lit(53)) === 0)
      val contaminated = Decontaminate.flaggedIds(corpus, evalSet,
          textCol = "text", idCol = "doc_id", evalIdCol = "doc_id",
          n = 3, flagAt = 0.2)
        .select(col("id").as("doc_id"))
      tr.force(corpus.join(contaminated, Seq("doc_id"), "left_anti"))
    }
    val filtered = tr.span("ops.repetition") {
      val repetitive = TextAnalysis.repetitionReport(clean,
          textCol = "text", idCol = "doc_id", flagAt = 0.1)
        .filter(col("repetitive") === 1L)
        .select(col("id").as("doc_id"))
      tr.force(clean.join(repetitive, Seq("doc_id"), "left_anti"))
    }
    tr.span("ops.mix_pack") {
      val mixed = Mix.mixEpochs(filtered,
        textCol = "text", idCol = "doc_id", sourceCol = "source",
        weights = weights, budgetTokens = 20000L, salt = "cur7b", maxEpochs = 512)
      tr.force(Pack.packSummary(
        mixed.select(concat_ws("#", col("id"), col("epoch")).as("copy_id"),
          col("n_tokens")),
        textCol = "n_tokens", idCol = "copy_id",
        budget = 1024L, nShards = 8, tokensOf = c => c))
    }
  }
}
