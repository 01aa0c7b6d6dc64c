package perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.ops.PipelineRun
import graft.streaming.EventPipeline

/** Open-loop streaming ingest: one generator (the calling thread) offers
  * seeded CustomerEvent payloads to a `MemoryStream` on a fixed schedule,
  * and `parse -> curate -> startDualSink` runs with an unthrottled trigger.
  * An event's latency runs from its due time at the generator until the
  * commit of the batch holding it is visible in `RunStats.lastCommitted`.
  */
object Ingest {
  /** Source ids, apart from the ones Spark's own counter hands out. */
  private val streamIds = new java.util.concurrent.atomic.AtomicInteger(1 << 20)

  /** Bound on the drain after the last event is offered. */
  val DrainMs = 30000L
  /** Length of the untimed stream that set-up runs before the measured one. */
  val WarmSeconds = 8.0

  final case class Phase(latMs: Seq[Double], offered: Long, committed: Long,
      checksOk: Boolean, genLateMs: Seq[Double], backlogMax: Long,
      progress: Seq[StreamingQueryProgress], sinkFiles: Long,
      validateMs: Double, startNs: Long, endNs: Long)

  /** Polls `lastCommitted` and stamps the first time each batch id is seen. */
  private final class CommitWatch(stats: EventPipeline.RunStats)
      extends Thread("perfbench-commit-watch") {
    @volatile var running = true
    val seen = new ConcurrentLinkedQueue[(Long, Long)]()
    setDaemon(true)
    override def run(): Unit = {
      var last = -1L
      while (running) {
        val c = stats.lastCommitted
        if (c != last) { seen.add((c, Clock.nowNs)); last = c }
        LockSupport.parkNanos(100000L)
      }
    }
  }

  /** End offset of every batch, from the query's offset log. */
  private def batchEndOffsets(ckpt: File): Seq[(Long, Long)] =
    Option(new File(ckpt, "offsets").listFiles).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
      .map { f =>
        val lines = Files.readAllLines(f.toPath).asScala
        f.getName.toLong -> lines.last.trim.toLong
      }.sortBy(_._1)

  private def parquetFiles(dir: File): Long =
    if (!dir.exists) 0L
    else Files.walk(dir.toPath).iterator().asScala
      .count(_.toString.endsWith(".parquet")).toLong

  private def rowsIn(spark: SparkSession, dir: File): Long =
    if (parquetFiles(dir) == 0) 0L
    else PipelineRun.validateLoad(spark, dir.getPath, 0).rowCount

  /** The hot path's parse and curate plan over a few payloads, so that
    * JSON decoding and whole-stage code are loaded before the stream starts.
    */
  def warmUp(spark: SparkSession, seed: Long): Unit = {
    val now = System.currentTimeMillis
    val raw = spark.createDataset((0 until 200).map(i =>
      Gen.payload(seed + 7919, i, now)))(Encoders.STRING).toDF()
    EventPipeline.curate(EventPipeline.parse(raw)).write.format("noop")
      .mode("overwrite").save()
  }

  /** Run one phase at `rate` events/s for `seconds`. `seed` names the
    * event stream; `dir` is a fresh work directory.
    */
  def phase(spark: SparkSession, dir: File, seed: Long, rate: Double,
      seconds: Double, withProgress: Boolean): Phase = {
    // one input partition per core, as a topic with that many partitions
    // would give; by default each addData call becomes its own partition
    val mem = MemoryStream[String](streamIds.incrementAndGet(), spark,
      Some(spark.sparkContext.defaultParallelism))(Encoders.STRING)
    val stats = new EventPipeline.RunStats(spark)
    val main = new File(dir, "main"); val quar = new File(dir, "quarantine")
    val ckpt = new File(dir, "checkpoint")
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    if (withProgress) spark.streams.addListener(listener)
    val curated = EventPipeline.curate(EventPipeline.parse(mem.toDF()))
    val query = EventPipeline.startDualSink(curated, main.getPath,
      quar.getPath, ckpt.getPath, stats, Trigger.ProcessingTime(0L))
    val watch = new CommitWatch(stats)
    watch.start()

    val n = math.max(1L, math.round(rate * seconds))
    val periodNs = 1e9 / rate
    val t0 = System.nanoTime() + 20000000L
    def due(i: Long): Long = t0 + (i * periodNs).toLong
    // one entry per addData call: (first event, count, add time)
    val calls = ArrayBuffer[(Long, Int, Long)]()
    val genLate = ArrayBuffer[Double]()
    var i = 0L
    while (i < n) {
      val now = System.nanoTime()
      if (due(i) > now) LockSupport.parkNanos(math.min(due(i) - now, 1000000L))
      else {
        val last = math.min(n - 1, ((now - t0) / periodNs).toLong)
        val batch = (i to last).map(j =>
          Gen.payload(seed, j, Clock.toEpochNs(due(j)) / 1000000L))
        mem.addData(batch)
        val added = System.nanoTime()
        calls += ((i, batch.size, added))
        (i to last).foreach(j => genLate += (added - due(j)) / 1e6)
        i = last + 1
      }
    }
    val endNs = Clock.toEpochNs(due(n))
    val deadline = System.nanoTime() + DrainMs * 1000000L
    while (stats.total.value < n && System.nanoTime() < deadline &&
      query.isActive) LockSupport.parkNanos(1000000L)
    LockSupport.parkNanos(2000000L)
    query.stop()
    watch.running = false
    watch.join()
    if (withProgress) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    query.exception.foreach(e => System.err.println(s"[perfbench] stream failed: $e"))

    // batch -> commit time, filling ids the watch skipped over
    val seen = watch.seen.asScala.toSeq.filter(_._1 >= 0)
    val ends = batchEndOffsets(ckpt)
    val committedEnds = ends.flatMap { case (b, end) =>
      seen.find(_._1 >= b).map { case (_, t) => (end, t) }
    }
    System.err.println("[perfbench] commits at " + committedEnds.map(c =>
      f"${(c._2 - Clock.toEpochNs(t0)) / 1e9}%.2f").mkString(" ") + " s")
    // both sequences ascend: offsets and commit times grow with batch id.
    // Events due before the first commit fill the query's first trigger,
    // which loads its plan; they are checked but not timed.
    val lat = ArrayBuffer[Double]()
    var committed = 0L
    var b = 0
    val firstCommit = committedEnds.headOption.map(_._2).getOrElse(Long.MaxValue)
    calls.zipWithIndex.foreach { case ((first, cnt, _), k) =>
      while (b < committedEnds.size && committedEnds(b)._1 < k) b += 1
      if (b < committedEnds.size) {
        val tc = committedEnds(b)._2
        committed += cnt
        (0 until cnt).foreach { d =>
          val dueNs = Clock.toEpochNs(due(first + d))
          if (dueNs >= firstCommit) lat += (tc - dueNs) / 1e6
        }
      }
    }
    // backlog: events offered but not yet committed, at each offer
    val offeredBefore = calls.scanLeft(0L)(_ + _._2)
    var backlogMax = 0L
    b = -1
    calls.zipWithIndex.foreach { case ((_, _, addedNs), k) =>
      val at = Clock.toEpochNs(addedNs)
      while (b + 1 < committedEnds.size && committedEnds(b + 1)._2 <= at) b += 1
      val done =
        if (b < 0) 0L
        else offeredBefore(math.min(calls.size, committedEnds(b)._1.toInt + 1))
      backlogMax = math.max(backlogMax, offeredBefore(k + 1) - done)
    }

    val truth = Gen.truth(seed, 0, committed)
    val t0v = System.nanoTime()
    val rows = rowsIn(spark, main) + rowsIn(spark, quar)
    val validateMs = (System.nanoTime() - t0v) / 1e6
    val ok = stats.total.value == committed && rows == committed &&
      stats.late.value == truth.late && stats.drifted.value == truth.drift &&
      stats.dqFailed.value == truth.dqFailed
    if (!ok) System.err.println(
      s"[perfbench] ingest check failed: committed=$committed rows=$rows " +
      s"total=${stats.total.value} late=${stats.late.value}/${truth.late} " +
      s"drift=${stats.drifted.value}/${truth.drift} " +
      s"dq=${stats.dqFailed.value}/${truth.dqFailed}")
    Phase(lat.toSeq, n, committed, ok, genLate.toSeq, backlogMax,
      progress.asScala.toSeq, parquetFiles(main) + parquetFiles(quar),
      validateMs, Clock.toEpochNs(t0), endNs)
  }

  /** Streaming-layer and ops metrics of a traced phase. */
  def layerMetrics(p: Phase): Seq[(String, Double)] = {
    val data = p.progress.filter(_.numInputRows > 0)
    def d(k: String) = data.map(x =>
      Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val busyMs = d("triggerExecution").sum
    val wallMs = (p.endNs - p.startNs) / 1e6
    Seq(
      "streaming.batches" -> data.size.toDouble,
      "streaming.trigger_ms_p50" -> Stats.median(d("triggerExecution")),
      "streaming.trigger_ms_p90" -> Stats.quantile(d("triggerExecution"), 0.9),
      "streaming.add_batch_ms_p50" -> Stats.median(d("addBatch")),
      "streaming.query_planning_ms_p50" -> Stats.median(d("queryPlanning")),
      "streaming.get_batch_ms_p50" -> Stats.median(d("getBatch")),
      "streaming.latest_offset_ms_p50" -> Stats.median(d("latestOffset")),
      "streaming.wal_commit_ms_p50" -> Stats.median(d("walCommit")),
      "streaming.rows_per_batch_p50" ->
        Stats.median(data.map(_.numInputRows.toDouble)),
      "streaming.backlog_max_events" -> p.backlogMax.toDouble,
      "streaming.idle_share" ->
        (if (wallMs > 0) math.max(0.0, 1.0 - busyMs / wallMs) else 0.0),
      "ops.files_per_batch" ->
        (if (data.nonEmpty) p.sinkFiles.toDouble / data.size else 0.0),
      "ops.sink_files" -> p.sinkFiles.toDouble,
      "ops.sink_write_ms" -> Stats.median(d("addBatch")),
      "ops.validate_load_ms" -> p.validateMs,
      "gen.events_offered" -> p.offered.toDouble,
      "gen.late_ms_p99" -> Stats.quantile(p.genLateMs, 0.99),
      "gen.late_ms_max" -> (if (p.genLateMs.isEmpty) 0.0 else p.genLateMs.max))
  }

  /** A trigger's interval, from its progress record. */
  def batchSpans(p: Phase): Seq[(String, Long, Long)] =
    p.progress.filter(_.numInputRows > 0).map { x =>
      val start = java.time.Instant.parse(x.timestamp).toEpochMilli * 1000000L
      val dur = Option(x.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L) * 1000000L
      (s"batch ${x.batchId}", start, start + dur)
    }
}
