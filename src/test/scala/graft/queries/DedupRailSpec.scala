package graft.queries

import graft.SparkSpecBase
import graft.ops.TextOps

/** The MaxSetBucket rail must not change WHAT the LSH pair build
  * produces — only HOW oversized buckets produce it (streamed self-join
  * instead of one n²-struct row). Driven over a synthetic corpus with
  * degenerate buckets well past the rail; every doc carries its SORTED
  * shingle set, and the build returns only the pairs whose exact
  * Jaccard reaches 0.7. */
class DedupRailSpec extends SparkSpecBase {
  import spark.implicits._

  private val base = (0 until 20).map(j => f"s$j%02d")
  /** Near-identical family: any two members share >= 18 of <= 22
    * shingles (Jaccard >= 0.81). */
  private def nearDup(i: Int) =
    (base.filterNot(_ == base(i % 20)) :+ s"x$i").sorted
  /** Half the base plus its own shingles: Jaccard ~0.3 against the
    * family, ~0.1 against its own kind. */
  private def halfDup(i: Int) =
    (base.take(10) ++ (0 until 10).map(j => s"h$i.$j")).sorted
  /** Shares nothing with any other doc. */
  private def unique(i: Int) = (0 until 10).map(j => s"u$i.$j").sorted

  test("bucketPairs == naive distinct a<b pairs, with an oversized bucket") {
    val nMixed = Dedup.MaxSetBucket + 20 // oversized, mixed similarity
    val nSame = Dedup.MaxSetBucket + 88 // oversized, identical arrays
    val mixed = (1 to nMixed).map { i =>
      val sh = i % 3 match {
        case 0 => nearDup(i)
        case 1 => halfDup(i)
        case _ => unique(i)
      }
      ("hot", i.toLong, sh)
    }
    val same = (1 to nSame).map(i => ("same", (5000 + i).toLong, base))
    val small = (1 to 40).map { i =>
      val sh = if (i % 2 == 0) nearDup(i) else unique(1000 + i)
      (s"b${i % 7}", (1000 + i).toLong, sh)
    }
    val rows = mixed ++ same ++ small ++
      // pairs that meet in two buckets (one small, one oversized) and
      // a size-1 bucket with no pairs
      Seq(("dup", 3L, nearDup(3)), ("dup", 6L, nearDup(6)),
        ("solo", 9999L, base))
    val bucketed = rows.toDF("bucket", "doc_id", "sh")
    val got = Dedup.bucketPairs(bucketed)
      .orderBy($"a", $"b").as[(Long, Long, Double)].collect()
    val want = bucketed.as("x")
      .join(bucketed.as("y"),
        $"x.bucket" === $"y.bucket" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a"), $"y.doc_id".as("b"),
        TextOps.jaccardSorted($"x.sh", $"y.sh").as("jaccard"))
      .filter($"jaccard" >= 0.7)
      .distinct()
      .orderBy($"a", $"b").as[(Long, Long, Double)].collect()
    assert(got.length === want.length)
    assert(got === want)
    // the mixed bucket kept its near-dups and dropped the rest
    val hot = got.count { case (_, b, _) => b <= nMixed }
    val family = nMixed / 3
    assert(hot === family * (family - 1) / 2)
    // the identical oversized bucket's pairs really are present (the
    // join leg ran)
    assert(got.count { case (a, _, _) => a > 5000 && a <= 5000 + nSame } ===
      nSame * (nSame - 1) / 2)
  }

  test("rail keeps every set-expansion array within MaxSetBucket") {
    // Buckets exactly AT the rail stay on the set-expansion path;
    // the one above it must contribute no collect_list array at all.
    // Identical arrays: every candidate verifies.
    val sh = base
    val rows = (1 to Dedup.MaxSetBucket).map(i => ("atcap", i.toLong, sh)) ++
      (1 to Dedup.MaxSetBucket + 1).map(i => ("overcap", i.toLong, sh))
    val bucketed = rows.toDF("bucket", "doc_id", "sh")
    val pairs = Dedup.bucketPairs(bucketed)
    val expected = // each bucket contributes C(size, 2); ids overlap
      Dedup.MaxSetBucket * (Dedup.MaxSetBucket - 1) / 2 +
        Dedup.MaxSetBucket // overcap adds pairs containing id cap+1 only
    assert(pairs.count() === expected)
  }
}
