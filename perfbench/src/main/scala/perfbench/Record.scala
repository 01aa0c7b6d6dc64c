package perfbench

import java.io.File

import graft.SparkEntry

/** Records the row count and time of every query on the bundled fixtures
  * (`name<TAB>rows<TAB>seconds`), the source of `golden/queries.tsv`.
  */
object Record {
  def run(a: Main.Args, cores: Int): Unit = {
    val spark = Main.session(cores)
    val fx = new File(a.bench, "fixtures/sf0.01")
    try SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
      val t0 = System.nanoTime()
      val rows = graft.ext.Scratch.scoped(
        SparkEntry.queries(n)(spark, fx.getPath).count())
      println(s"$n\t$rows\t${(System.nanoTime() - t0) / 1e9}")
    } finally spark.stop()
  }
}
