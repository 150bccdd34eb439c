package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpecBase {
  import spark.implicits._

  /** Reference Morton interleave. */
  private def morton(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L)((acc, b) =>
      acc | (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1)))

  test("interleave2 matches the reference bit interleave") {
    val rnd = new scala.util.Random(5)
    val pts = Seq.fill(200)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.interleave2(col("x"), col("y"), 8).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) === morton(x, y, 8), s"($x, $y)")
    }
    // known corners
    assert(morton(0, 0, 8) === 0L)
    assert(morton(255, 0, 8) === 0x5555L)
    assert(morton(0, 255, 8) === 0xaaaaL)
  }

  test("bitsPer bounds validated") {
    intercept[IllegalArgumentException] {
      ZOrder.interleave2(lit(1L), lit(1L), 0)
    }
    intercept[IllegalArgumentException] {
      ZOrder.interleave2(lit(1L), lit(1L), 32)
    }
  }

  test("written files cover disjoint z-ranges (the pruning property)") {
    val rnd = new scala.util.Random(9)
    val df = Seq.fill(2000)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
      .toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    ZOrder.layout(df, 8, ZOrder.ZOrderBy("x", "y", 8))
      .write.mode("overwrite").parquet(dir)
    val ranges = spark.read.parquet(dir)
      .withColumn("z", ZOrder.interleave2(col("x"), col("y"), 8))
      .withColumn("file", input_file_name())
      .groupBy(col("file"))
      .agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1, "expected multiple output files")
    // disjoint: every file's min is above the previous file's max —
    // a 2-D predicate can then prune whole files from min/max stats.
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, ranges.mkString(","))
      case _ =>
    }
  }
}
