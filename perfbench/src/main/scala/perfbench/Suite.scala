package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The query layers of the traced DAG run: a fixed subset of the suite over
  * the bundled fixtures, in an order permuted by the seed, each query timed
  * as `graft.Bench` times it (`count()` inside a `Scratch` scope, the clock
  * read inside the scope). A first pass builds the per-fixture indexes and
  * fills the caches, as a serving process would ("index once, serve
  * many"); a second, traced pass gives the per-query times.
  */
object Suite {
  final case class Golden(name: String, family: String, rows: Long)
  final case class Timed(name: String, family: String, sec: Double,
      ok: Boolean)

  /** `name<TAB>family<TAB>rows` lines recorded on the seed commit. */
  def golden(file: File): Seq[Golden] =
    Files.readAllLines(file.toPath).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).map(a => Golden(a(0), a(1), a(2).toLong))

  def timeQuery(spark: SparkSession, dir: File, g: Golden): Timed = {
    val fn = SparkEntry.queries.get(g.name)
    var sec = 0.0
    var rows = -1L
    val ok = try {
      graft.ext.Scratch.scoped {
        val t0 = System.nanoTime()
        rows = fn.get(spark, dir.getPath).count()
        sec = (System.nanoTime() - t0) / 1e9
      }
      rows == g.rows
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] query ${g.name} failed: $e")
        false
    }
    if (!ok && rows >= 0) System.err.println(
      s"[perfbench] query ${g.name}: $rows rows, golden ${g.rows}")
    Timed(g.name, g.family, sec, ok)
  }

  /** Storage memory held by cached RDDs, in MB, and their number. */
  def held(spark: SparkSession): (Double, Int) = {
    val info = spark.sparkContext.getRDDStorageInfo
    (info.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0),
      info.length)
  }

  /** Query names whose times are reported one by one: the members of the
    * suite-over-isolated regression's repro set that the subset runs.
    */
  val Repro: Seq[String] = Seq("media_dedup_clusters", "neg_sampling",
    "pq_distortion", "doc_lm_score", "span_containment")

  /** The measured subset, fixed so that every seed does the same work:
    * per family, the query of median warm time among those whose first run
    * in a fresh process takes at most 1.3 s, plus the repro queries within
    * that bound. The other repro queries (the four `corpus_graph_*` and
    * `purchase_rank`) build indexes for 5 to 90 s on first use (sf0.01,
    * 4 cores), more than a run can spend, and are left out.
    */
  val Selected: Seq[String] = Seq("region_counts", "phrase_search",
    "lang_id_confusion", "dedup_simhash60", "k_anonymity",
    "label_noise_knn", "dedup_keep_priority") ++ Repro

  val Families: Seq[String] = Seq("pipeline", "analytics", "text", "dedup",
    "curation", "similarity", "multimodal")

  def layerMetrics(ts: Seq[Timed]): Seq[(String, Double)] =
    Families.map(f =>
      s"query.family_s.$f" -> ts.filter(_.family == f).map(_.sec).sum) ++
      Repro.map(n => s"query.s.$n" -> Stats.median(
        ts.filter(_.name == n).map(_.sec)))

  def traced(spark: SparkSession, bench: File, seed: Long, tr: Tracer)
      : Seq[(String, Double)] = {
    val selected = golden(new File(bench, "golden/queries.tsv"))
      .filter(g => Selected.contains(g.name))
    require(selected.size == Selected.size,
      "golden counts missing for some selected queries")
    val fx = new File(bench, "fixtures/sf0.01")
    val order = new scala.util.Random(seed).shuffle(selected)
    val fill = tr.span("fill pass", "phase", "perfbench")(
      order.map(g => timeQuery(spark, fx, g)))
    var mid = (0.0, 0)
    val ts = tr.span("timed pass", "phase", "perfbench")(
      order.zipWithIndex.map { case (g, i) =>
        if (i == order.size / 2) mid = held(spark)
        tr.span(g.name, "query", s"query.${g.family}")(timeQuery(spark, fx, g))
      })
    val (endMb, endRdds) = held(spark)
    layerMetrics(ts) ++ Seq(
      "query.fill_s" -> fill.map(_.sec).sum,
      "query.pass_s" -> ts.map(_.sec).sum,
      "query.failed" -> (fill ++ ts).count(!_.ok).toDouble,
      "cache.held_storage_mb_mid" -> mid._1,
      "cache.held_storage_mb_end" -> endMb,
      "cache.cached_rdds_end" -> endRdds.toDouble)
  }
}
