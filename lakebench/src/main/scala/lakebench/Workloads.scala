package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.Bookstore
import graft.queries.ServingSql
import graft.sources.{DeltaLog, IcebergMeta, VersionedTable}

object Fs {
  def sizeOfTree(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def countFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.count(Files.isRegularFile(_))
      finally st.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.iterator().asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p))))
    finally st.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }

  /** Size of a file a table's metadata names: absolute, `file:` or
    * relative to the table root. */
  def fileSize(root: String, f: String): Long = {
    val s = f.stripPrefix("file://").stripPrefix("file:")
    val p = if (s.startsWith("/")) Paths.get(s) else Paths.get(root, s)
    if (Files.exists(p)) Files.size(p) else 0L
  }

  def rowStrings(rows: Array[Row]): Seq[Seq[String]] =
    rows.toSeq.map(_.toSeq.map(v => if (v == null) null else v.toString))
}

// -------------------------------------------------------------------
// etl_nightly: the reference's nightly job, then a dashboard refresh
// -------------------------------------------------------------------

final class EtlNightly(spark: SparkSession, seed: Long, work: Path, cpus: Int)
    extends Workload {
  private val rawPath = work.resolve("in/raw")
  private val martRawPath = work.resolve("in/raw-mart")
  private var raw: DataFrame = _
  private var clean: DataFrame = _
  private val outputs = mutable.ArrayBuffer[String]()
  private val results = mutable.ArrayBuffer[Map[String, Any]]()

  /** Land the seeded raw ratings as parquet, and a copy of them for the
    * dashboard's mart. Over one copy, Spark's cache would hand
    * runPipeline the mart's cleaned frame, and runPipeline's unpersist
    * would then drop the mart. */
  def generate(): Unit = {
    Gen.raw(spark, seed, cpus).write.mode("overwrite").parquet(rawPath.toString)
    Fs.copyTree(rawPath, martRawPath)
    raw = spark.read.parquet(rawPath.toString)
  }

  /** Build, cache and register the serving mart: the dashboard's set-up. */
  def setup(rep: Int): Unit = {
    if (clean != null) clean.unpersist(blocking = true)
    clean = Bookstore.cleanNulls(Bookstore.expandLocation(
      spark.read.parquet(martRawPath.toString))).persist()
    clean.count()
    ServingSql.registerMart(clean)
  }

  private val MinRatings = Seq(50L, 100L, 150L, 200L)

  /** One nightly run, then one dashboard refresh: the four serving
    * queries in a seeded order with seeded parameters. */
  def cycle(i: Int): Seq[Op] = {
    val rng = new Random(seed * 1000003L + i)
    val pipeline = Op("runPipeline", "etl", _ => {
      val out = work.resolve(s"out/etl-${outputs.size}").toString
      outputs += out
      Bookstore.runPipeline(spark, raw, out)
      true
    })
    def query(q: String, params: Map[String, Any], df: => DataFrame): Op =
      Op(q, "queries", ctx => {
        val d = df
        ctx.returned()
        val rows = d.collect()
        results += Map("query" -> q, "params" -> params,
          "rows" -> Fs.rowStrings(rows))
        true
      })
    val minR = MinRatings(rng.nextInt(MinRatings.size))
    val minA = MinRatings(rng.nextInt(MinRatings.size))
    val country = Gen.Countries(rng.nextInt(10))
    pipeline +: rng.shuffle(Seq(
      query("topBooksByRating", Map("minRatings" -> minR),
        ServingSql.topBooksByRating(spark, minR)),
      query("topCountries", Map.empty, ServingSql.topCountries(spark)),
      query("topStates", Map("country" -> country), ServingSql.topStates(spark, country)),
      query("topAuthors", Map("minRatings" -> minA), ServingSql.topAuthors(spark, minA))))
  }

  override def report(): Map[String, Any] = Map("raw" -> rawPath.toString,
    "outputs" -> outputs, "min_ratings" -> 100, "results" -> results)
}

// -------------------------------------------------------------------
// lakehouse_commits: writes beside reads on the three table formats
// -------------------------------------------------------------------

final class LakehouseCommits(spark: SparkSession, seed: Long, work: Path, cpus: Int)
    extends Workload {
  import VersionedTable.{MergeInsert, MergeRef, MergeUpdate}
  import spark.implicits._

  val Formats: Seq[String] = Seq("graft", "delta", "iceberg")
  private val readFormat =
    Map("graft" -> "graft", "delta" -> "delta-log", "iceberg" -> "iceberg-meta")
  private val logDir =
    Map("graft" -> "_graft_log", "delta" -> "_delta_log", "iceberg" -> "metadata")
  val InitRows = 200000L
  val InitFiles = 8
  val MergeBatch = 2000
  val AppendBatch = 1000
  val DeleteWidth = 500
  /** A row's user bytes: two longs, a 3-char category, 24-char padding. */
  val RowBytes = 8L + 8L + 3L + 24L
  /** Width of the newest key range that most merge keys and lookups hit. */
  val Recent = 20000L

  /** Driver-side model of one table: key -> value, plus aggregates. */
  final class Model(base: Seq[(Long, Long)]) {
    val v = mutable.LongMap[Long]()
    var sumK = 0L
    var sumV = 0L
    var maxKey = -1L
    base.foreach { case (k, x) => put(k, x) }
    def put(k: Long, x: Long): Unit = {
      v.get(k) match {
        case Some(old) => sumV -= old
        case None => sumK += k
      }
      v(k) = x
      sumV += x
      maxKey = math.max(maxKey, k)
    }
    def remove(k: Long): Unit = v.remove(k).foreach { old => sumK -= k; sumV -= old }
  }

  private var base: Seq[(Long, Long, String, String)] = _
  private var roots: Map[String, String] = Map.empty
  private var models: Map[String, Model] = Map.empty
  private var lastFmt: String = _
  private var lastKind: String = _
  private var tracking = false
  private val lastFiles = mutable.Map[String, Set[String]]()
  private val rewritten = mutable.Map[String, mutable.ArrayBuffer[Int]]()

  /** Seeded rows for `keys`: value, 3-char category, 24-char padding. */
  private def rowValues(rng: Random, keys: Seq[Long]): Seq[(Long, Long, String, String)] =
    keys.map(k => (k, rng.nextInt(1000000).toLong, f"c${rng.nextInt(16)}%02d",
      (1 to 3).map(_ => f"${rng.nextInt()}%08x").mkString))

  private def rows(rng: Random, keys: Seq[Long]): (Seq[(Long, Long)], DataFrame) = {
    val rs = rowValues(rng, keys)
    (rs.map(r => (r._1, r._2)), rs.toDF("k", "v", "cat", "pad"))
  }

  def generate(): Unit = base = rowValues(new Random(seed), 0L until InitRows)

  /** Create the three keyed tables through each format's write API:
    * InitFiles files, each a contiguous key range. */
  def setup(rep: Int): Unit = {
    roots = Formats.map(f => f -> work.resolve(s"lake/$rep/$f").toString).toMap
    val df = spark.sparkContext.parallelize(base, InitFiles).toDF("k", "v", "cat", "pad")
    VersionedTable.commit(df, roots("graft"))
    DeltaLog.commit(df, roots("delta"))
    IcebergMeta.writeFixture(df, roots("iceberg"))
    models = Formats.map(f => f -> new Model(base.map(r => (r._1, r._2)))).toMap
  }

  private def recentKey(rng: Random, m: Model): Long =
    math.max(0L, m.maxKey - Recent) + (rng.nextDouble() * Recent).toLong

  private def uniformKey(rng: Random, m: Model): Long =
    (rng.nextDouble() * (m.maxKey + 1)).toLong

  private def op(fmt: String, kind: String, layer: String)(body: Ctx => Boolean): Op =
    Op(s"$fmt.$kind", layer, ctx => {
      lastFmt = fmt
      lastKind = kind
      body(ctx)
    })

  private def merge(fmt: String, rng: Random): Op = op(fmt, "merge", "sources") { _ =>
    val m = models(fmt)
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < MergeBatch) {
      val k =
        if (rng.nextDouble() < 0.8) m.maxKey - Recent + (rng.nextDouble() * Recent * 1.05).toLong
        else uniformKey(rng, m)
      if (k >= 0) keys += k
    }
    val (batch, src) = rows(rng, keys.toSeq)
    val matched = Seq(MergeUpdate(None, Map("v" -> MergeRef.source("v"),
      "cat" -> MergeRef.source("cat"), "pad" -> MergeRef.source("pad"))))
    val notMatched = Seq(MergeInsert(None, Seq("k", "v", "cat", "pad")
      .map(c => c -> MergeRef.source(c)).toMap))
    val root = roots(fmt)
    fmt match {
      case "graft" => VersionedTable.mergeConditional(spark, root, src, "k", "k",
        matched = matched, notMatched = notMatched)
      case "delta" => DeltaLog.mergeConditional(spark, root, src, "k", "k",
        matched = matched, notMatched = notMatched)
      case "iceberg" => IcebergMeta.mergeConditional(spark, root, src, "k", "k",
        matched = matched, notMatched = notMatched)
    }
    batch.foreach { case (k, x) => m.put(k, x) }
    true
  }

  private def append(fmt: String, rng: Random): Op = op(fmt, "append", "sources") { _ =>
    val m = models(fmt)
    val keys = (m.maxKey + 1) to (m.maxKey + AppendBatch)
    val (batch, src) = rows(rng, keys)
    val root = roots(fmt)
    fmt match {
      case "graft" => VersionedTable.commit(src, root)
      case "delta" => DeltaLog.commit(src, root)
      case "iceberg" => IcebergMeta.append(src, root)
    }
    batch.foreach { case (k, x) => m.put(k, x) }
    true
  }

  private def delete(fmt: String, rng: Random): Op = op(fmt, "delete", "sources") { _ =>
    val m = models(fmt)
    val lo = if (rng.nextBoolean()) recentKey(rng, m) else uniformKey(rng, m)
    val hi = lo + DeleteWidth
    val cond = col("k") >= lo && col("k") < hi
    val root = roots(fmt)
    fmt match {
      case "graft" => VersionedTable.deleteWhere(spark, root,
        org.apache.spark.sql.GraftColumnBridge.expression(cond))
      case "delta" => DeltaLog.deleteWhere(spark, root, cond)
      case "iceberg" => IcebergMeta.delete(spark, root, cond)
    }
    (lo until hi).foreach(m.remove)
    true
  }

  private def compact(fmt: String): Op = op(fmt, "compact", "sources") { _ =>
    val root = roots(fmt)
    fmt match {
      case "graft" => VersionedTable.compact(spark, root, InitFiles)
      case "delta" => DeltaLog.compact(spark, root, filesPerPartition = InitFiles)
      case "iceberg" => IcebergMeta.compact(spark, root, numFiles = InitFiles)
    }
    true
  }

  private def checkpoint(): Op = op("delta", "checkpoint", "sources") { _ =>
    DeltaLog.checkpoint(spark, roots("delta"))
    true
  }

  /** Row count, key sum and value sum of `df` against the table's model. */
  private def matchesModel(fmt: String, df: DataFrame, what: String): Boolean = {
    val r = df.agg(count(lit(1)), coalesce(sum("k"), lit(0L)), coalesce(sum("v"), lit(0L)))
      .collect()(0)
    val m = models(fmt)
    val ok = r.getLong(0) == m.v.size && r.getLong(1) == m.sumK && r.getLong(2) == m.sumV
    if (!ok) System.err.println(s"[lakebench] $fmt $what: got $r, model " +
      s"(${m.v.size}, ${m.sumK}, ${m.sumV})")
    ok
  }

  /** Full-scan aggregate through the DSv2 read path, checked against the model. */
  private def scan(fmt: String): Op = op(fmt, "scan", "ext") { ctx =>
    val df = spark.read.format(readFormat(fmt)).load(roots(fmt))
    ctx.returned()
    matchesModel(fmt, df, "scan")
  }

  private def lookup(fmt: String, rng: Random): Op = op(fmt, "lookup", "ext") { ctx =>
    val m = models(fmt)
    val key = if (rng.nextDouble() < 0.6) recentKey(rng, m) else uniformKey(rng, m)
    val df = spark.read.format(readFormat(fmt)).load(roots(fmt))
    ctx.returned()
    val got = df.filter(col("k") === key).select("k", "v").as[(Long, Long)].collect().toSeq
    val want = m.v.get(key).map(x => (key, x)).toSeq
    if (got != want) System.err.println(s"[lakebench] $fmt lookup $key: got $got, model $want")
    got == want
  }

  /** For each format in turn: a merge, an append, a delete, a scan and
    * two lookups; then compaction of every table and a Delta checkpoint.
    * The seed picks keys, ranges and values; the order is fixed, so
    * which operation meets a still-cold code path does not vary by seed. */
  def cycle(i: Int): Seq[Op] = {
    val rng = new Random(seed * 1000003L + i)
    Formats.flatMap { f =>
      val r = new Random(rng.nextLong())
      Seq(merge(f, r), append(f, r), delete(f, r), scan(f), lookup(f, r), lookup(f, r))
    } ++ Formats.map(compact) :+ checkpoint()
  }

  private def liveFiles(fmt: String): Seq[(String, Long)] = {
    val root = roots(fmt)
    fmt match {
      case "graft" =>
        val v = VersionedTable.latestVersion(root)
        val files = VersionedTable.snapshotFiles(root, v) ++
          VersionedTable.snapshotTombstones(root, v).values.flatten
        files.map(f => f -> Fs.fileSize(root, f))
      case "delta" =>
        DeltaLog.snapshot(spark, root).adds.map(a => a.path -> a.size)
      case "iceberg" =>
        val s = IcebergMeta.snapshot(root)
        s.files.map(f => f.path -> f.sizeBytes) ++
          s.deletes.map(d => d.path -> Fs.fileSize(root, d.path)) ++
          s.eqDeletes.map(d => d.path -> Fs.fileSize(root, d.path)) ++
          s.dvs.map(d => d.puffinPath -> Fs.fileSize(root, d.puffinPath)).distinct
    }
  }

  override def afterOp(): Unit =
    if (tracking && lastFmt != null) {
      val now = liveFiles(lastFmt).map(_._1).toSet
      if (lastKind == "merge")
        rewritten.getOrElseUpdate(lastFmt, mutable.ArrayBuffer()) +=
          (lastFiles.getOrElse(lastFmt, Set.empty) -- now).size
      lastFiles(lastFmt) = now
    }

  override def startTracing(): Unit = {
    tracking = true
    Formats.foreach(f => lastFiles(f) = liveFiles(f).map(_._1).toSet)
  }

  override def stopTracing(): Unit = tracking = false

  private def tableStats(): Map[String, Any] = Formats.map { f =>
    val root = Paths.get(roots(f))
    val total = Fs.sizeOfTree(root)
    val live = liveFiles(f).map(_._2).sum
    val user = models(f).v.size * RowBytes
    f -> Map("root_bytes" -> total, "live_bytes" -> live, "user_bytes" -> user,
      "log_files" -> Fs.countFiles(root.resolve(logDir(f))),
      "rows" -> models(f).v.size)
  }.toMap

  override def snapshotCounts(): Map[String, Any] =
    Map("tables" -> tableStats(),
      "merge_files_rewritten" -> rewritten.map { case (f, n) => f -> n.toList }.toMap)

  /** Every table scanned after the run's last operation, outside any
    * timing: the check on the last compaction's and checkpoint's output,
    * which no later read in the run sees. */
  override def report(): Map[String, Any] = Map("tables" -> tableStats(),
    "merge_files_rewritten_all" -> rewritten.map { case (f, n) => f -> n.toList }.toMap,
    "final_check" -> Formats.map(f => f -> matchesModel(f,
      spark.read.format(readFormat(f)).load(roots(f)), "final scan")).toMap)
}

// -------------------------------------------------------------------
// operator_catalog: ten catalog entries over a seeded dataset
// -------------------------------------------------------------------

final class OperatorCatalog(spark: SparkSession, seed: Long, work: Path, cpus: Int)
    extends Workload {
  val Entries: Seq[String] = Seq("q28_minhash_lsh", "q62_dedup_clusters",
    "q203_transitivity_audit", "q83_containment_join", "q198_containment_dedup",
    "q93_equidepth_hist", "q96_gaps_islands", "q116_rfm_segments",
    "q165_negative_sampling", "q104_kmeans_embeddings")
  /** The one entry whose work is relational; the others' sits in
    * graft.ops (WindowOps, Kmeans, the LSH rail). */
  private val queriesLayer = Set("q83_containment_join")

  private var dir: Path = _
  private val firstRows = mutable.Map[String, Seq[Seq[String]]]()
  private var pendingDump: Option[(String, Array[Row], org.apache.spark.sql.types.StructType)] = None
  private val dumped = mutable.ArrayBuffer[String]()

  def generate(): Unit = ()

  /** Write the five tables the entries read, one parquet file each.
    * The entries have no set-up of their own (each call reads its
    * tables), so on this workload set-up is the harness landing them. */
  def setup(rep: Int): Unit = {
    val d = work.resolve(s"in/catalog-$rep")
    def put(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(d.resolve(s"$name.parquet").toString)
    val n = Gen.Catalog
    put("documents", Gen.documents(spark, seed, cpus, n))
    put("embeddings", Gen.embeddings(spark, seed, cpus, n))
    val orders = Gen.orders(spark, seed, cpus, n)
    put("orders", orders)
    put("lineitem", Gen.lineitem(spark, seed, orders, n))
    put("part", Gen.part(spark, seed, cpus, n))
    if (dir != null) Fs.deleteTree(dir)
    dir = d
  }

  /** One pass over the ten entries, in a fixed order. The first pass is
    * dumped for the oracle check; later passes must repeat it exactly. */
  def cycle(i: Int): Seq[Op] =
    Entries.map { name =>
      Op(name, if (queriesLayer(name)) "queries" else "ops", ctx => {
        val df = SparkEntry.queries(name)(spark, dir.toString)
        ctx.returned()
        val rows = df.collect()
        val got = Fs.rowStrings(rows)
        firstRows.get(name) match {
          case None =>
            firstRows(name) = got
            pendingDump = Some((name, rows, df.schema))
            true
          case Some(first) =>
            if (first != got) System.err.println(s"[lakebench] $name: result differs from the first pass")
            first == got
        }
      })
    }

  /** Release what the entry left cached (as graft.Bench does), and dump
    * each entry's first result for the oracle check. */
  override def afterOp(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    pendingDump.foreach { case (name, rows, schema) =>
      val out = work.resolve(s"out/catalog/$name").toString
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out)
      dumped += name
    }
    pendingDump = None
  }

  override def report(): Map[String, Any] = Map(
    "dir" -> dir.toString,
    "tables" -> Seq("documents", "embeddings", "orders", "lineitem", "part"),
    "dumps" -> dumped.map(n => n -> work.resolve(s"out/catalog/$n").toString).toMap,
    "oracle" -> Entries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
}
