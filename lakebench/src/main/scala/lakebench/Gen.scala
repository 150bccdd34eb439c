package lakebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (row key, seed,
  * salt), so a seed gives the same rows whatever the partitioning. */
object Gen {

  /** Uniform double in [0, 1) from the hash of `cs`, the seed and a salt. */
  def u(seed: Long, salt: Int, cs: Column*): Column =
    (pmod(xxhash64((cs :+ lit(seed) :+ lit(salt)): _*), lit(1L << 53))
      .cast("double") / lit((1L << 53).toDouble))

  private def pick(names: Seq[String], idx: Column): Column =
    element_at(array(names.map(lit): _*), (idx + 1).cast("int"))

  // ---------------------------------------------------------------
  // Book-Crossing-shaped raw ratings (the reference's nightly input)
  // ---------------------------------------------------------------

  /** Book-Crossing's sizes (1,149,780 ratings, 278,858 customers,
    * 271,379 books) at an eighth of their scale, so a run fits its
    * time budget. */
  val Ratings = 1149780L / 8
  val Customers = 278858L / 8
  val Books = 271379L / 8
  /** Shares of `" "` cells and malformed Locations the cleaning must handle. */
  val BlankLocation = 0.04
  val TwoPartLocation = 0.01
  val BlankAge = 0.10
  val BlankYear = 0.01
  /** Share of implicit (0) ratings, as in Book-Crossing. */
  val ImplicitRating = 0.62

  val Countries: Seq[String] = Seq(
    "usa", "canada", "united kingdom", "germany", "spain", "australia",
    "italy", "france", "portugal", "new zealand", "netherlands",
    "switzerland", "brazil", "china", "sweden", "india", "austria",
    "malaysia", "argentina", "finland", "singapore", "mexico", "belgium",
    "ireland", "denmark", "philippines", "japan", "greece", "poland",
    "norway")

  /** The 12-string-column raw table: customers uniform-ish, book
    * popularity skewed (rank ~ u^3), per-customer geography and age,
    * per-book attributes. */
  def raw(s: SparkSession, seed: Long, parts: Int, ratings: Long = Ratings): DataFrame = {
    val id = col("id")
    val base = s.range(0, ratings, 1, parts).select(id,
      floor(pow(u(seed, 1, id), 1.4) * Customers).as("c"),
      floor(pow(u(seed, 2, id), 3.0) * Books).as("b"))
    val c = col("c")
    val b = col("b")
    def uc(k: Int) = u(seed, k, c)
    def ub(k: Int) = u(seed, k, b)
    def ur(k: Int) = u(seed, k, id)
    val country = pick(Countries, floor(pow(uc(10), 2.5) * Countries.size))
    val state = concat(lit("state "), floor(pow(uc(11), 1.5) * 40).cast("string"))
    val city = concat(lit("city "), floor(uc(12) * 3000).cast("string"))
    val isbn = lpad(b.cast("string"), 10, "0")
    val explicit = greatest(lit(1L), least(lit(10L),
      floor(lit(3.0) + ub(17) * 6.0 + (ur(4) - 0.5) * 5.0)))
    val url = (size: String) =>
      concat(lit("http://images.example/"), isbn, lit(s"/$size.jpg"))
    base.select(
      c.cast("string").as("Customer-ID"),
      isbn.as("ISBN"),
      when(ur(3) < ImplicitRating, lit(0L)).otherwise(explicit)
        .cast("string").as("Book-Rating"),
      when(uc(13) < BlankLocation, lit(" "))
        .when(uc(14) < TwoPartLocation, concat(city, lit(", "), country))
        .otherwise(concat(city, lit(", "), state, lit(", "), country))
        .as("Location"),
      when(uc(15) < BlankAge, lit(" "))
        .otherwise((lit(10) + floor(uc(16) * 70)).cast("string")).as("Age"),
      concat(lit("title "), floor(ub(18) * 150000).cast("string")).as("Book-Title"),
      concat(lit("author "), floor(pow(ub(19), 2.0) * 60000).cast("string"))
        .as("Book-Author"),
      when(ub(20) < BlankYear, lit(" "))
        .otherwise((lit(1950) + floor(ub(21) * 56)).cast("string"))
        .as("Year-Of-Publication"),
      concat(lit("publisher "), floor(pow(ub(22), 1.5) * 16000).cast("string"))
        .as("Publisher"),
      url("S").as("Image-URL-S"),
      url("M").as("Image-URL-M"),
      url("L").as("Image-URL-L"))
  }

  // ---------------------------------------------------------------
  // Operator-catalog tables (sf0.1 schemas and row counts)
  // ---------------------------------------------------------------

  /** Row counts of the catalog tables. `boilerplate` docs carry the
    * boilerplate phrase: they all share LSH band 0, so more than 512 of
    * them make one bucket above Dedup's set-expansion bound. */
  final case class CatalogSize(documents: Long, boilerplate: Long,
      embeddings: Long, orders: Long, parts: Long)
  /** The measured dataset: an oversized LSH bucket beside near-dup
    * clusters, and orders/lineitem/part at a fifth of sf0.1. */
  val Catalog = CatalogSize(1000, 560, 1000, 30000, 4000)
  /** Share of the other docs that are near-copies of an earlier doc. */
  val NearDupShare = 0.15
  /** A 3-word phrase whose shingle hash is tiny, so it is the MinHash
    * minimum of band 0 (permutations 0-2) in nearly every doc holding it. */
  val Boilerplate = "boiler plate nyptqgjrn"
  val Vocab = 2000

  private def words(seed: Long, doc: Column, n: Column, salt: Int): Column =
    transform(sequence(lit(0), n - 1), i =>
      concat(lit("w"), pmod(xxhash64(doc, i, lit(seed), lit(salt)), lit(Vocab.toLong))
        .cast("string")))

  def documents(s: SparkSession, seed: Long, parts: Int, n: CatalogSize): DataFrame = {
    val d = col("id")
    val plain = n.boilerplate
    // a near-copy repeats an earlier doc's body with ~4% of words replaced
    val near = u(seed, 40, d) < NearDupShare && d >= plain + 10
    val baseDoc = when(near, floor(lit(plain) + u(seed, 41, d) * (d - lit(plain))))
      .otherwise(d)
    // boilerplate docs are short (the phrase and 2-5 words), so the
    // oversized bucket's candidate pairs share little but the phrase
    val len = when(d < plain, (lit(2) + floor(u(seed, 47, d) * 4)).cast("int"))
      .otherwise((lit(15) + floor(u(seed, 42, baseDoc) * 45)).cast("int"))
    val body = transform(words(seed, baseDoc, len, 43), (w, i) =>
      when(near && u(seed, 44, d, i) < 0.04,
        concat(lit("w"), pmod(xxhash64(d, i, lit(seed), lit(45)), lit(Vocab.toLong))
          .cast("string")))
        .otherwise(w))
    val text = when(d < plain,
      concat(lit(Boilerplate + " "), concat_ws(" ", body)))
      .otherwise(concat_ws(" ", body))
    s.range(0, n.documents, 1, parts)
      .select(d.as("doc_id"), text.as("text"),
        pick(Seq("en", "de", "fr", "es"), floor(u(seed, 46, d) * 4)).as("lang"),
        concat(lit("src"), pmod(d, lit(5L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def embeddings(s: SparkSession, seed: Long, parts: Int, n: CatalogSize): DataFrame = {
    val v = col("id")
    val label = floor(u(seed, 50, v) * 10).cast("int")
    val vec = transform(sequence(lit(0), lit(63)), j =>
      ((u(seed, 51, label, j) - 0.5) + (u(seed, 52, v, j) - 0.5) * 0.3)
        .cast("float"))
    s.range(0, n.embeddings, 1, parts)
      .select(v.as("vec_id"), vec.as("embedding"), label.as("label"))
  }

  def orders(s: SparkSession, seed: Long, parts: Int, n: CatalogSize): DataFrame = {
    val i = col("id")
    s.range(0, n.orders, 1, parts).select(
      (i * 4 + 1 + floor(u(seed, 60, i) * 3)).cast("long").as("o_orderkey"),
      (floor(u(seed, 61, i) * 15000) + 1).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), floor(u(seed, 62, i) * 3)).as("o_orderstatus"),
      (floor(u(seed, 63, i) * 50000000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + floor(u(seed, 64, i) * 2400) * 86400L)
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        floor(u(seed, 65, i) * 5)).as("o_orderpriority"))
  }

  def lineitem(s: SparkSession, seed: Long, orders: DataFrame, n: CatalogSize): DataFrame = {
    val ok = col("o_orderkey")
    val line = col("l_linenumber")
    def ul(k: Int) = u(seed, k, ok, line)
    orders.select(ok, col("o_orderdate"),
        explode(sequence(lit(1), (lit(1) + floor(u(seed, 70, ok) * 7)).cast("int")))
          .as("l_linenumber"))
      .select(ok.as("l_orderkey"),
        (floor(ul(71) * n.parts) + 1).cast("long").as("l_partkey"),
        (floor(ul(72) * 1000) + 1).cast("long").as("l_suppkey"),
        line.cast("int").as("l_linenumber"),
        (floor(ul(73) * 50) + 1).cast("double").as("l_quantity"),
        (floor(ul(74) * 10000000) / 100.0).as("l_extendedprice"),
        (floor(ul(75) * 11) / 100.0).as("l_discount"),
        (floor(ul(76) * 9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), floor(ul(77) * 3)).as("l_returnflag"),
        pick(Seq("F", "O"), floor(ul(78) * 2)).as("l_linestatus"),
        (col("o_orderdate") + make_interval(lit(0), lit(0), lit(0),
          floor(ul(79) * 120).cast("int"))).as("l_shipdate"))
  }

  def part(s: SparkSession, seed: Long, parts: Int, n: CatalogSize): DataFrame = {
    val i = col("id")
    s.range(1, n.parts + 1, 1, parts).select(i.as("p_partkey"),
      concat(lit("part "), floor(u(seed, 80, i) * 100000).cast("string")).as("p_name"),
      concat(lit("Brand#"), (floor(u(seed, 81, i) * 5) + 1).cast("string"),
        (floor(u(seed, 82, i) * 5) + 1).cast("string")).as("p_brand"),
      pick(Seq("STANDARD ANODIZED TIN", "SMALL PLATED BRASS",
        "MEDIUM BURNISHED COPPER", "LARGE BRUSHED STEEL", "ECONOMY POLISHED NICKEL",
        "PROMO ANODIZED STEEL"), floor(u(seed, 83, i) * 6)).as("p_type"),
      (floor(u(seed, 84, i) * 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + floor(u(seed, 85, i) * 110000) / 100.0).as("p_retailprice"))
  }
}
