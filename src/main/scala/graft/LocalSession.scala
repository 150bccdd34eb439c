package graft

import org.apache.spark.sql.SparkSession

/** The one local session the dev mains ([[Bench]], [[Verify]],
  * [[Scratch]], [[PlanDump]], [[ScanProbe]]) run the catalog in:
  * `local[SPARK_GRAFT_CPUS]` (else `defaultCpus`), as many shuffle
  * partitions as cores, AQE, UTC, the graft extensions, no UI. */
object LocalSession {
  def apply(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.ext.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.geospatial.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
