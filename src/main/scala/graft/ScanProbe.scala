package graft
import org.apache.spark.sql.execution.ExplainMode
/** Dev audit tool (not part of the library surface, like Scratch):
  * prints per-catalog-query physical-plan health counters — parquet
  * scans, exchanges, SortMergeJoins, CartesianProducts — sorted by
  * worst. Run after adding operators: a scan count far above the
  * number of distinct tables a query reads means some consumer is
  * re-evaluating an unpersisted aggregate's lineage (the repeated-
  * scan antipattern fixed in q114/q123/q92/q150/q158/q161).
  *
  *   sbt "runMain graft.ScanProbe"
  */
object ScanProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    val rows = SparkEntry.allDefs.map { q =>
      try {
        val p = q.fn(spark, "/root/testdata/sf0.001")
          .queryExecution.explainString(ExplainMode.fromString("formatted"))
        def c(op: String) = p.linesIterator.count(_.matches(s"^\\(\\d+\\) $op.*"))
        spark.sharedState.cacheManager.clearCache()
        (q.name, c("Scan parquet"), c("Exchange"), c("SortMergeJoin"), c("CartesianProduct"))
      } catch { case e: Throwable =>
        spark.sharedState.cacheManager.clearCache()
        (q.name, -1, -1, -1, -1)
      }
    }
    rows.sortBy(r => -(r._2 + r._3)).foreach { case (n, s, e, smj, cp) =>
      println(f"[scan] $n%-32s scans=$s%-3d exch=$e%-3d smj=$smj cart=$cp")
    }
    spark.stop()
  }
}
