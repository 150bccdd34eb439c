package graft

/** Dev-only profiling harness (not part of the library surface):
  * times each named catalog query over SPARK_GRAFT_SF_DIR with the
  * same session config as [[Bench]], clearing the cache between
  * queries. Subset runs charge warm-up to the first query — only
  * full quiet [[Bench]] runs are comparable numbers. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(32)
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$d/region.parquet").count()
    // SPARK_GRAFT_REPS > 1 re-times each query; on a host with CPU
    // steal the MIN across reps is the comparable number (a stolen
    // quantum inflates one rep, never deflates one).
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    args.foreach { name =>
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, d).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(
          _.unpersist(blocking = false))
        (n, dt)
      }
      val times = ts.map(_._2)
      println(f"[scratch] $name%-30s rows=${ts.head._1}%-8d " +
        f"min=${times.min}%7.2f s  all=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
