package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev-only plan dumper (not part of the library surface): writes
  * `.explain("formatted")` for each named catalog query to
  * `<outDir>/<name>_<tag>.txt` — the before/after plan evidence the
  * optimization rounds commit under `plans/`.
  *
  *   sbt "runMain graft.PlanDump plans/r14 before q39 q114"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: graft.PlanDump <outDir> <tag> [namePrefix ...]")
      sys.exit(2)
    }
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val spark = LocalSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { prefix =>
      val hits = SparkEntry.allDefs.filter(_.name.startsWith(prefix))
      if (hits.isEmpty)
        System.err.println(s"[plandump] WARNING: prefix '$prefix' " +
          "matches no catalog entry — nothing written for it")
      hits.foreach { q =>
        val p = q.fn(spark, d).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${q.name}_$tag.txt"),
          p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] wrote $outDir/${q.name}_$tag.txt")
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(
          _.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}
