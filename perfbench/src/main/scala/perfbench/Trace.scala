package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics over a sample. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Wall clock for spans: epoch nanoseconds from one base, so benchmark
  * spans (monotonic nanoTime) and Spark events (epoch ms) share an axis.
  */
object Clock {
  @volatile private var base = (System.nanoTime(), System.currentTimeMillis() * 1000000L)
  /** Re-align with the epoch clock Spark stamps its events with. */
  def rebase(): Unit =
    base = (System.nanoTime(), System.currentTimeMillis() * 1000000L)
  def toEpochNs(nano: Long): Long = base._2 + (nano - base._1)
  def nowNs: Long = toEpochNs(System.nanoTime())
}

/** One span. `kind` names the tree level: run, phase, cycle, query, batch,
  * call, job, stage. `layer` is the repo module the span's self time is
  * charged to.
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    layer: String, startNs: Long, endNs: Long, run: String) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run writes them
  * ([[TraceOut.write]]). The job group of the calling thread is set to the open span's id,
  * so the Spark jobs an action submits attribute to the span that ran it.
  */
final class Tracer(val run: String, spark: () => SparkSession) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = mutable.Stack[Long]()
  val rootId: Long = ids.incrementAndGet()
  private val rootStart = Clock.nowNs

  def current: Long = if (stack.isEmpty) rootId else stack.top

  def span[T](name: String, kind: String, layer: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current
    val sc = spark().sparkContext
    stack.push(id)
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    val t0 = Clock.nowNs
    try body
    finally {
      val t1 = Clock.nowNs
      stack.pop()
      if (stack.isEmpty) sc.clearJobGroup()
      else sc.setJobGroup(stack.top.toString, name, interruptOnCancel = false)
      spans.add(Span(id, parent, name, kind, layer, t0, t1, run))
    }
  }

  /** A span whose interval was measured elsewhere (stream batches, Spark
    * jobs and stages).
    */
  def add(parent: Long, name: String, kind: String, layer: String,
      startNs: Long, endNs: Long): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, name, kind, layer, startNs, endNs, run))
    id
  }

  def all: Seq[Span] = {
    val root = Span(rootId, 0L, run, "run", "perfbench", rootStart,
      Clock.nowNs, run)
    root +: spans.asScala.toSeq
  }
}

/** Self times and the consistency checks of a span tree.
  *
  * Self time is a span's duration minus the part of its interval that its
  * children cover, so it is never negative. Two checks can fail:
  *  - nesting: a child starts before or ends after its parent;
  *  - accounting: a parent's self time plus its children's durations must
  *    equal its own duration, up to the time its Spark children (jobs and
  *    stages, which run concurrently) spend side by side. That concurrency
  *    is taken from the Spark spans' intervals alone; time that two
  *    benchmark-side spans (cycles, calls, queries, stream batches) share,
  *    or that a child spends outside its parent, is an accounting error.
  */
object SpanTree {
  /** Spark reports event times in whole milliseconds. */
  val ToleranceNs: Long = 5000000L

  final case class Report(self: Map[Long, Long], nestingViolations: Int,
      accountingViolations: Int, wallNs: Long, accountingErrorPct: Double)

  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total, cur0, cur1 = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > cur1) {
        if (open) total += cur1 - cur0
        cur0 = a; cur1 = b; open = true
      } else cur1 = math.max(cur1, b)
    }
    if (open) total += cur1 - cur0
    total
  }

  private def concurrent(iv: Seq[(Long, Long)]): Long =
    iv.map { case (a, b) => b - a }.sum - covered(iv)

  def analyse(spans: Seq[Span], rootId: Long): Report = {
    val kids = spans.filter(_.parent != 0L).groupBy(_.parent)
    var violations, unaccounted = 0
    var errorNs = 0L
    val self = mutable.Map[Long, Long]()
    spans.foreach { p =>
      val ch = kids.getOrElse(p.id, Nil)
      violations += ch.count(c => c.startNs < p.startNs - ToleranceNs ||
        c.endNs > p.endNs + ToleranceNs)
      val clipped = ch.map(c => (c, math.max(c.startNs, p.startNs),
        math.min(c.endNs, p.endNs))).filter { case (_, a, b) => b > a }
      self(p.id) = p.durNs - covered(clipped.map(x => (x._2, x._3)))
      val spark = clipped.filter(x => x._1.kind == "job" || x._1.kind == "stage")
      val err = math.abs(self(p.id) + ch.map(_.durNs).sum -
        concurrent(spark.map(x => (x._2, x._3))) - p.durNs)
      if (err > ToleranceNs) unaccounted += 1
      errorNs += err
    }
    val wall = spans.find(_.id == rootId).map(_.durNs).getOrElse(0L)
    Report(self.toMap, violations, unaccounted, wall,
      if (wall > 0) 100.0 * errorNs / wall else 0.0)
  }
}

/** Per-job and per-stage record of the Spark scheduler, plus task-time
  * skew. Registered only in traced runs.
  */
object StageListener {
  final case class Job(id: Int, group: String, site: String, startMs: Long,
      var endMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, name: String, startMs: Long, endMs: Long,
      tasks: Int, runMs: Long, cpuMs: Double, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long,
      output: Long, skew: Double)
}

final class StageListener extends SparkListener {
  import StageListener._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  private val taskMs =
    new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, prop("spark.jobGroup.id"),
      prop("callSite.short"), e.time, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val ts = Option(taskMs.remove(i.stageId)).map(_.asScala.toSeq.map(_.toDouble))
      .getOrElse(Nil)
    val med = Stats.median(ts)
    stages.add(Stage(i.stageId, i.name, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0.0 else m.executorCpuTime / 1e6,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      if (med > 0) ts.max / med else 1.0))
  }

  /** Metrics of the `spark` layer over every completed stage. */
  def metrics(wallMs: Double, cores: Int): Seq[(String, Double)] = {
    val ss = stages.asScala.toSeq
    val mb = 1024.0 * 1024.0
    Seq(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_.tasks).sum.toDouble,
      "spark.executor_run_ms" -> ss.map(_.runMs).sum.toDouble,
      "spark.executor_cpu_ms" -> ss.map(_.cpuMs).sum,
      "spark.busy_share" ->
        (if (wallMs > 0) ss.map(_.runMs).sum / (wallMs * cores) else 0.0),
      "spark.shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> ss.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> ss.map(_.spill).sum / mb,
      "spark.input_mb" -> ss.map(_.input).sum / mb,
      "spark.output_mb" -> ss.map(_.output).sum / mb,
      "spark.task_gc_ms" -> ss.map(_.gcMs).sum.toDouble,
      "spark.skew_p90" -> Stats.quantile(ss.map(_.skew), 0.9))
  }
}

/** Planning time per action, from each query's planning tracker. */
final class PlanListener extends QueryExecutionListener {
  val planMs = new ConcurrentLinkedQueue[Double]()
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    ()

  def metrics: Seq[(String, Double)] = {
    val xs = planMs.asScala.toSeq
    Seq("plan.ms_total" -> xs.sum, "plan.ms_p50" -> Stats.median(xs),
      "plan.actions" -> xs.size.toDouble)
  }
}

/** Process-wide counters read as deltas around the traced section:
  * whole-stage codegen compile time and count, JVM GC time and count, and
  * the heap's peak usage.
  */
final class JvmCounters {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val gcMs0 = gcs.map(_.getCollectionTime).sum
  private val gcN0 = gcs.map(_.getCollectionCount).sum
  private val cgNs0 = WholeStageCodegenExec.codeGenTime
  private val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  heapPools.foreach(_.resetPeakUsage())

  def metrics: Seq[(String, Double)] = Seq(
    "codegen.compile_ms" -> (WholeStageCodegenExec.codeGenTime - cgNs0) / 1e6,
    "codegen.compiles" ->
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0).toDouble,
    "jvm.gc_ms" -> (gcs.map(_.getCollectionTime).sum - gcMs0).toDouble,
    "jvm.gc_count" -> (gcs.map(_.getCollectionCount).sum - gcN0).toDouble,
    "jvm.heap_peak_mb" ->
      heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0))
}

/** The traced-run instruments of one session, registered together. */
final class Instruments(spark: SparkSession) {
  val stages = new StageListener
  val plans = new PlanListener
  val jvm = new JvmCounters
  spark.sparkContext.addSparkListener(stages)
  spark.listenerManager.register(plans)

  /** Deliver every queued listener event, then detach. */
  def close(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(stages)
    spark.listenerManager.unregister(plans)
  }

  /** Hang every Spark job under the span that submitted it (its job
    * group), else under the innermost span of `candidates` that contains
    * its start; each completed stage under its job.
    */
  def attach(tr: Tracer, candidates: Seq[Span]): Unit = {
    val ids = candidates.map(_.id).toSet
    val stageById = stages.stages.asScala.map(s => s.id -> s).toMap
    val ms = 1000000L
    stages.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val start = j.startMs * ms
      val end = (if (j.endMs > 0) j.endMs else j.startMs) * ms
      val byGroup = scala.util.Try(j.group.toLong).toOption.filter(ids)
      val parent = byGroup.getOrElse(candidates
        .filter(s => s.startNs <= start + SpanTree.ToleranceNs &&
          start <= s.endNs)
        .sortBy(_.startNs).lastOption.map(_.id).getOrElse(tr.rootId))
      val jid = tr.add(parent, s"job ${j.id} ${j.site}", "job", "spark",
        start, end)
      j.stages.flatMap(stageById.get).filter(_.startMs > 0).foreach { s =>
        tr.add(jid, s"stage ${s.id} ${s.name} (${s.tasks} tasks)", "stage",
          "spark", s.startMs * ms, s.endMs * ms)
      }
    }
  }
}

/** Writes the spans file and the per-layer metrics file of a traced run. */
object TraceOut {
  private def q(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def write(dir: java.io.File, tag: String, spans: Seq[Span],
      report: SpanTree.Report, layers: Seq[(String, Double)]): Unit = {
    dir.mkdirs()
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"kind":"${s.kind}","layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${report.self.getOrElse(s.id, 0L)},"run":${q(s.run)}}""")
      sb.append('\n')
    }
    java.nio.file.Files.writeString(
      new java.io.File(dir, s"$tag.spans.jsonl").toPath, sb.toString)
    val body = layers.map { case (k, v) => s"  ${q(k)}: ${Json.num(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(
      new java.io.File(dir, s"$tag.layers.json").toPath, body)
  }

  /** Self time summed per layer, in ms. */
  def selfByLayer(spans: Seq[Span], report: SpanTree.Report)
      : Seq[(String, Double)] =
    spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (l, ss) =>
      s"self_ms.$l" -> ss.map(s => report.self.getOrElse(s.id, 0L)).sum / 1e6
    }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v)
      .stripTrailingZeros.toPlainString
}
