package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.CustomerEvents
import graft.agent.DecisionEngine
import graft.dq.DqSuite
import graft.enrich.Enrich
import graft.ops.PipelineRun
import graft.streaming.EventPipeline

/** Closed-loop DAG cycles over one fixed seeded batch: each cycle is
  * `parse -> curate` with a literal processing time, then
  * `PipelineRun.run` (sink write and run report, DQ suite, decision, load
  * validation, cleanup).
  */
object Dag {
  /** Payloads per cycle; a warm cycle takes about 2.4 s on 4 cores. */
  val K = 20000
  /** Untimed cycles at the start of a run, while the JIT settles. */
  val WarmCycles = 5

  /** Processing time of every cycle; events fall due in the 11 to 1
    * minutes before it, so only the injected backdates are late.
    */
  val ProcessingMs: Long =
    java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli
  private val SpreadMs = 600000L

  def writeInput(file: File, seed: Long, k: Int): Unit = {
    file.getParentFile.mkdirs()
    val w = Files.newBufferedWriter(file.toPath)
    try (0 until k).foreach { i =>
      w.write(Gen.payload(seed, i,
        ProcessingMs - 60000L - SpreadMs + i * SpreadMs / k))
      w.write('\n')
    } finally w.close()
  }

  def parsed(spark: SparkSession, input: File): DataFrame =
    EventPipeline.parse(spark.read.text(input.getPath))

  def curated(spark: SparkSession, input: File): DataFrame =
    EventPipeline.curate(parsed(spark, input), CustomerEvents.asOfCol)

  def cycle(spark: SparkSession, input: File, dir: File)
      : PipelineRun.RunOutcome =
    PipelineRun.run(curated(spark, input), new File(dir, "ops").getPath,
      new File(dir, "sink").getPath, new PipelineRun.RecordingNotifier,
      new PipelineRun.RecordingTrigger)

  /** The outcome a correct cycle over events `[0, k)` must report. */
  def check(o: PipelineRun.RunOutcome, seed: Long, k: Int): Boolean = {
    val t = Gen.truth(seed, 0, k)
    val report = PipelineRun.RunReport(t.total, t.late, t.dqFailed, t.drift)
    val decision = DecisionEngine.decide(DecisionEngine.PipelineContext(
      t.total, t.late, t.dqFailed, t.drift))
    val ok = o.report == report && o.validation.rowCount == k &&
      o.decision == decision
    if (!ok) System.err.println(
      s"[perfbench] cycle check failed: ${o.report} vs $report, " +
      s"rows ${o.validation.rowCount} vs $k, ${o.decision.decision} vs " +
      s"${decision.decision}")
    ok
  }

  /** Warm cycle time on a one-thread session; stops the running session. */
  def singleThreadCycleMs(spark: SparkSession, input: File, dir: File)
      : Double = {
    spark.stop()
    val one = Main.session(1)
    try (1 to 2).map(_ => timeMs(cycle(one, input, dir))).last
    finally one.stop()
  }

  private def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  /** Times each stage of the cycle through its public function on the same
    * input, each inside a span, and the pipeline's prefixes to a `noop`
    * sink. Returns the layer metrics.
    */
  def stageMetrics(spark: SparkSession, input: File, dir: File,
      tr: Tracer): Seq[(String, Double)] = {
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // the enrich chain of `EventPipeline.curate`, without its DQ flags
    def enriched(): DataFrame = {
      val withTs = parsed(spark, input)
        .withColumn("processing_timestamp", CustomerEvents.asOfCol)
      val chain = (Enrich.withEventTimestamps _) andThen Enrich.withRegion andThen
        Enrich.withEmailDomain andThen Enrich.withCustomerAge andThen
        Enrich.withDriftFlag andThen Enrich.withLateFlag
      chain(withTs)
    }
    def best(name: String, layer: String)(body: => Unit): Double =
      (1 to 3).map(_ => tr.span(name, "call", layer)(timeMs(body))).min
    val parseMs = best("sources.parse", "sources")(noop(parsed(spark, input)))
    val enrichMs = best("enrich.chain", "enrich")(noop(enriched()))
    val curateMs = best("dq.flags", "dq")(noop(curated(spark, input)))

    val sink = new File(dir, "stage_sink").getPath
    val cached = curated(spark, input).persist()
    try {
      tr.span("materialize", "call", "sources")(cached.count())
      val writeMs = tr.span("ops.sink_write", "call", "ops")(timeMs(
        cached.write.mode("overwrite").partitionBy("country", "plan")
          .parquet(sink)))
      var summary: org.apache.spark.sql.Row = null
      val suiteMs = tr.span("dq.suite", "call", "dq")(timeMs {
        summary = DqSuite.summarize(
          DqSuite.evaluate(cached, DqSuite.customersSuite)).head()
      })
      val ctx = DecisionEngine.PipelineContext(K, 1, 1, 1)
      val reps = 10000
      val decideUs = tr.span("agent.decide", "call", "agent")(timeMs(
        (1 to reps).foreach(_ => DecisionEngine.decide(ctx)))) * 1000 / reps
      var files = 0L
      val validateMs = tr.span("ops.validate_load", "call", "ops")(timeMs {
        files = PipelineRun.validateLoad(spark, sink).fileCount
      })
      Seq(
        "sources.parse_ms" -> parseMs,
        "enrich.chain_ms" -> math.max(0.0, enrichMs - parseMs),
        "dq.flags_ms" -> math.max(0.0, curateMs - enrichMs),
        "ops.sink_write_ms" -> writeMs,
        "ops.validate_load_ms" -> validateMs,
        "ops.sink_files" -> files.toDouble,
        "ops.files_per_batch" -> files.toDouble,
        "dq.suite_ms" -> suiteMs,
        "dq.expectations" ->
          summary.getAs[Long]("evaluated_expectations").toDouble,
        "agent.decide_us" -> decideUs)
    } finally { cached.unpersist(); () }
  }
}
