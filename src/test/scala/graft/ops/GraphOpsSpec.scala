package graft.ops

import graft.SparkSpecBase
import org.scalatest.prop.TableDrivenPropertyChecks

class GraphOpsSpec extends SparkSpecBase with TableDrivenPropertyChecks {
  import spark.implicits._

  /** Reference union-find, for brute-force comparison. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)], maxIter: Int = 25) =
    GraphOps.connectedComponents(
        edges.toDF("src", "dst"), "src", "dst", maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two triangles joined by a bridge collapse to one component") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L))
    val got = run(edges)
    assert(got.values.toSet === Set(1L))
    assert(got.keySet === Set(1L, 2L, 3L, 10L, 11L, 12L))
  }

  test("disconnected clusters keep distinct min-id labels") {
    val got = run(Seq((5L, 6L), (2L, 9L), (7L, 7L)))
    assert(got === Map(5L -> 5L, 6L -> 5L, 2L -> 2L, 9L -> 2L, 7L -> 7L))
  }

  test("matches union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val edges = Seq.fill(60)(
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      assert(run(edges) === ufComponents(edges))
    }
  }

  test("long path converges (diameter rounds) and min label wins") {
    // path 20 -> 19 -> ... -> 0: worst-case propagation distance.
    val edges = (0L until 20L).map(i => (i + 1, i))
    val got = run(edges)
    assert(got.values.toSet === Set(0L))
    assert(got.size === 21)
  }

  test("unconverged exit throws instead of returning partial labels") {
    val edges = (0L until 10L).map(i => (i + 1, i))
    intercept[IllegalStateException] { run(edges, maxIter = 2) }
  }

  test("empty edge list yields an empty label frame, not a crash") {
    // valid input: a corpus with zero verified near-dup pairs
    assert(run(Seq.empty[(Long, Long)]) === Map.empty)
  }

  test("edge frame's lineage is evaluated once, whatever the rounds") {
    val acc = spark.sparkContext.longAccumulator("cc-edge-rows")
    val seen = org.apache.spark.sql.functions.udf { (x: Long) =>
      acc.add(1); x
    }.asNondeterministic()
    // a 4-hop path and a triangle: several rounds re-scan the edges
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (7L, 8L), (8L, 9L), (9L, 7L))
    val edges = raw.toDF("s", "d")
      .select(seen($"s").as("s"), $"d")
    val got = GraphOps.connectedComponents(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ufComponents(raw))
    assert(acc.value === raw.size.toLong)
  }

  test("path of length L: one component labelled with its min id") {
    val rnd = new scala.util.Random(11)
    forAll(Table("L", 1, 2, 3, 5, 8)) { (len: Int) =>
      // ids permuted, so the minimum can sit anywhere on the path
      val ids = rnd.shuffle((0 to len).map(i => 100L + 7 * i))
      val edges = ids.zip(ids.tail)
      val got = run(edges, maxIter = len + 1)
      assert(got.keySet === ids.toSet)
      assert(got.values.toSet === Set(ids.min))
    }
    // minimum at one end: len rounds move labels, one more sees the
    // fixpoint — the bound is exact
    val end = (0L until 6L).map(i => (i, i + 1))
    assert(run(end, maxIter = 7).values.toSet === Set(0L))
    intercept[IllegalStateException] { run(end, maxIter = 6) }
    // an edge-free frame that still has partitions stays empty too
    assert(GraphOps.connectedComponents(
      end.toDF("src", "dst").filter($"src" < 0), "src", "dst").isEmpty)
  }

  /** Brute-force per-node triangle counts over an undirected simple
    * edge set, for differential comparison. */
  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct.toSet
    val nodes = es.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val counts = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      k <- (j + 1) until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if es((a, b)) && es((b, c)) && es((a, c))
    } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
    counts.toMap
  }

  test("triangleCounts matches brute force on random graphs, incl. hubs") {
    val rnd = new scala.util.Random(7)
    // Erdos-Renyi-ish samples plus a deliberate hub graph (the case
    // degree orientation exists for: a high-degree center whose wedge
    // set would explode under id-ordering).
    val hub = (1L to 12L).map(i => (0L, i)) ++
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (11L, 12L))
    val samples = Seq(hub) ++ (1 to 4).map { _ =>
      val n = 2 + rnd.nextInt(14)
      (0 until 40).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
    }
    for (edges <- samples) {
      val (counts, oriented) =
        GraphOps.triangleCounts(edges.toDF("a", "b"), "a", "b")
      val got = counts.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === bruteTriangles(edges),
        s"triangle mismatch on edges $edges")
      // the returned handle releases the cache without a global clear
      // (assert on THIS frame, not cacheManager.isEmpty — the session
      // is shared across suites and others may legitimately hold cache)
      oriented.unpersist()
      assert(oriented.storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE,
        "triangleCounts handle still cached after unpersist")
    }
  }

  test("pointerJumpDepths: forest roots, depths, and a deep chain") {
    import spark.implicits._
    // two trees: 1←2←4, 1←3 and 10←11; plus a 20-deep chain off 10
    // (forces ≥5 doubling rounds, more than any naive 2-3 round pass)
    val chain = (0 until 20).map(i => (100L + i + 1, if (i == 0) 10L else 100L + i))
    val rows = Seq((1L, 1L), (2L, 1L), (4L, 2L), (3L, 1L),
      (10L, 10L), (11L, 10L)) ++ chain
    val got = GraphOps.pointerJumpDepths(
        rows.toDF("id", "parent"), "id", "parent")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(1L) === ((1L, 0L)))
    assert(got(4L) === ((1L, 2L)))
    assert(got(3L) === ((1L, 1L)))
    assert(got(11L) === ((10L, 1L)))
    assert(got(120L) === ((10L, 20L)), "deep-chain depth wrong")
  }

  test("pointerJumpDepths hard-fails on cycles of both parities") {
    import spark.implicits._
    // even cycle: self-converges in one round (ptr == id) — only the
    // final pointers-are-roots check can catch it
    intercept[IllegalArgumentException] {
      GraphOps.pointerJumpDepths(
        Seq((1L, 2L), (2L, 1L)).toDF("id", "parent"), "id", "parent",
        maxIter = 6)
    }
    // odd cycle: never stops moving — caught by the maxIter guard
    intercept[IllegalArgumentException] {
      GraphOps.pointerJumpDepths(
        Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("id", "parent"),
        "id", "parent", maxIter = 6)
    }
  }
}
