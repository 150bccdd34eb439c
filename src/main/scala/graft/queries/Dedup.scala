package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.TextOps
import org.apache.spark.sql.functions._

/** Deduplication catalog over the `documents` table (SURVEY.md §2b north
  * star): exact, MinHash+LSH, SimHash, and n-gram Jaccard. The testdata
  * plants near-duplicate pairs (3-word-shingle Jaccard ≈ 0.99, verified
  * empirically), so every entry returns a non-degenerate result.
  *
  * Scale design: no unblocked O(n²) comparison anywhere. MinHash and
  * SimHash both generate candidates inside a bucket pass (shuffle on a
  * short key; bucket sizes stay tiny because signatures of
  * non-duplicates are uniform), and only candidates pay the exact
  * verification cost — the MinHash pipeline pays it where each
  * candidate forms, so only verified pairs leave the bucket pass.
  * That is the shape that survives 100 TB.
  *
  * The hash arithmetic is the oracle-parity family from [[TextOps]] so
  * the DuckDB differential check verifies signatures bit-for-bit; the
  * xxhash64 production variants in TextOps are drop-in replacements.
  */
object Dedup {
  import Tables._

  /** DuckDB fragment: per doc, the distinct 3-word string shingles `sh`
    * (for exact-Jaccard verification) and the distinct shingle hashes
    * `hs` composed from per-token polynomial hashes (mirrors
    * [[TextOps.shingleHashes3]] bit-for-bit). */
  private[queries] val shingleSqlCte =
    """t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, ws, list_distinct(list_transform(range(1, len(ws) - 1),
      |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |       FROM t WHERE len(ws) >= 3),
      |th AS (SELECT doc_id, sh, list_transform(ws, w ->
      |        list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
      |          (h, c) -> (h*31 + c) % 1000000007)) AS th
      |      FROM sh),
      |h AS (SELECT doc_id, sh, list_distinct(list_transform(range(1, len(th) - 1),
      |        i -> (th[i]*1009 + th[i+1]*9176 + th[i+2]) % 1000000007)) AS hs
      |      FROM th)""".stripMargin

  /** Spark mirror: (doc_id, sh) — string shingles for verification,
    * SORTED (array_sort) so pairwise verify can use the merge-pass
    * [[TextOps.jaccardSorted]] kernel. Repartitioned off the single
    * input split (CPU-bound derivation).
    *
    * The >= 3-token filter runs BEFORE the projection, on the cheap
    * token count: filtering on `size(sh) > 0` after the select is
    * equivalent, but Catalyst pushes that filter below the Project by
    * substituting the whole shingle expression into the predicate —
    * every row then derives its shingles twice (once to filter, once
    * to project). */
  private def shingled(s: org.apache.spark.sql.SparkSession, d: String) =
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .filter(size(TextOps.tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        array_sort(TextOps.wordShingles(TextOps.tokens(col("text")), 3))
          .as("sh"))

  /** Spark mirror of the `h` CTE: (doc_id, sh, hs), `sh` sorted as in
    * [[shingled]]. The scan is repartitioned first: the testdata table
    * is one parquet file (one input split), and the per-doc hash folds
    * are CPU-bound — without the spread they run on a single core. */
  private def hashed(s: org.apache.spark.sql.SparkSession, d: String) =
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .filter(size(TextOps.tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        array_sort(TextOps.wordShingles(TextOps.tokens(col("text")), 3))
          .as("sh"),
        TextOps.shingleHashes3(TextOps.tokens(col("text"))).as("hs"))

  /** Set-expansion bucket cap: buckets up to this size pair up via
    * per-bucket collect_list + array expansion (≤ cap² structs per
    * row); BIGGER buckets — degenerate band signatures on boilerplate
    * or near-identical corpora — would materialize an unbounded array
    * and its n² expansion in ONE row, so they fall back to the
    * streamed bucket self-join, which produces the same C(n, 2)
    * candidates without per-row buffering. Oversized buckets are by
    * nature RARE (each is a dup-cluster pathology), so their bucket
    * keys broadcast. */
  private[queries] val MaxSetBucket = 512

  /** The railed, verified pair build shared by the LSH entries: input
    * rows (bucket, doc_id, sh) with `sh` the doc's SORTED shingle set;
    * output the distinct (a, b, jaccard) rows with a < b sharing a
    * bucket and exact shingle Jaccard >= 0.7. Each candidate is
    * verified where it forms — set-expansion for buckets ≤
    * [[MaxSetBucket]], streamed self-join for the rest — so only
    * VERIFIED pairs ever leave the bucket pass (the shape of Spark
    * ML's `MinHashLSH.approxSimilarityJoin`, which carries the rows
    * through its bucket join). Factored out so DedupRailSpec can
    * drive it over a synthetic skewed-bucket corpus. */
  private[queries] def bucketPairs(bucketed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // ONE bucket shuffle feeds everything (guide §2.4): the census,
    // the small-bucket collect, and the big-bucket self-join all need
    // bucket-clustered rows, so hash-repartition once, cache it, and
    // every consumer below aggregates/joins exchange-free (the cache
    // reports its hash partitioning). LSH bands carry no map-side
    // duplicates for a partial collect to combine. Cache released by
    // the harness's per-query clearCache (Dedup's documented lifetime
    // contract).
    val nP = math.max(
      bucketed.sparkSession.sparkContext.defaultParallelism, 1)
    val ex = bucketed.repartition(nP, col("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Census: pathological buckets only (usually EMPTY) — a
    // cache-local aggregate. A one-row PROBE (this also materializes
    // the cache) decides the plan: a healthy corpus takes the
    // single-aggregation path with no rail plumbing at all; only when
    // an oversized bucket EXISTS does the hybrid split engage. Either
    // plan computes the identical pair set — the probe is
    // construction-time work the harness timings include.
    val big = ex.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .filter(col("n") > MaxSetBucket)
      .select(col("bucket"))
    val anyBig = big.limit(1).collect().nonEmpty
    def verified(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column,
        sha: org.apache.spark.sql.Column, shb: org.apache.spark.sql.Column) =
      (df: org.apache.spark.sql.DataFrame) => df
        .filter(a < b)
        .select(a.as("a"), b.as("b"),
          TextOps.jaccardSorted(sha, shb).as("jaccard"))
        .filter(col("jaccard") >= 0.7)
    // Small buckets: collect each bucket's (doc_id, sh) rows, then a
    // PIPELINED two-level explode — per-row state is the O(bucket)
    // array, never the O(bucket²) struct array a transform×transform
    // expansion would materialize before its own explode.
    val smallIn =
      if (!anyBig) ex
      else ex.join(broadcast(big), Seq("bucket"), "left_anti")
    val smallPairs = smallIn
      .groupBy(col("bucket"))
      .agg(collect_list(struct(col("doc_id"), col("sh"))).as("ds"))
      .select(col("ds"), explode(col("ds")).as("x"))
      .select(col("x"), explode(col("ds")).as("y"))
      .transform(verified(col("x.doc_id"), col("y.doc_id"),
        col("x.sh"), col("y.sh")))
    if (!anyBig) return smallPairs.distinct()
    // Oversized buckets: the streamed co-partitioned self-join — the
    // same C(n, 2) candidates with spillable per-group buffers instead
    // of one unbounded collect_list array, verified in the join stage.
    val inBig = ex.join(broadcast(big), Seq("bucket"))
    val bigPairs = inBig.select(col("bucket"), col("doc_id").as("da"),
        col("sh").as("sha"))
      .join(inBig.select(col("bucket"), col("doc_id").as("db"),
        col("sh").as("shb")), Seq("bucket"))
      .transform(verified(col("da"), col("db"), col("sha"), col("shb")))
    smallPairs.union(bigPairs).distinct()
  }

  /** The MinHash+LSH near-dup pipeline's verified output: pairs
    * (a, b, jaccard) with a < b and exact shingle Jaccard >= 0.7,
    * returned WITH the persisted shingled corpus backing them so the
    * caller controls the cache lifetime (q62 releases it once its
    * clustering loop has materialized; q28's result IS the pairs, so
    * its copy lives until the harness's per-query clearCache).
    * Shared by q28 (the pair list), q62 (clustering over it) and q203
    * (which verifies its open wedges against the same corpus).
    *
    * Persist the shingled corpus: without materialization every
    * consumer re-derives shingles from raw text — worse, the
    * size(sh)>0 predicate pushes down and inlines the whole shingle
    * expression into every scan's filter, whose generated code is too
    * large for the JIT and runs interpreted (benched minutes instead
    * of seconds). The multi-pass-over-derived-corpus cache is the
    * standard LSH shape at 100 TB too (MEMORY_AND_DISK spills). */
  private def lshVerifiedPairs(s: org.apache.spark.sql.SparkSession,
      d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // The cached corpus carries the BANDS array alongside sh/hs, so the
    // 12-hash minhash signature computes once at materialization.
    val base = hashed(s, d)
      .withColumn("bands",
        TextOps.lshBands(TextOps.minhashSig(col("hs"), 12), 4, 3))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r14 rewrite (q114/q77/q118/q211 shape): per-bucket doc list +
    // narrow a<b expansion instead of the band self-join. Pair fanout
    // per bucket is C(bucket size, 2) either way; each candidate
    // carries both shingle sets and verifies in the bucket pass, and
    // the final distinct dedups VERIFIED pairs across bands. r15 adds
    // the MaxSetBucket rail: skewed buckets stream through the join
    // form instead of buffering n² in one row.
    val pairs = bucketPairs(base.select(explode(col("bands")).as("bucket"),
      col("doc_id"), col("sh")))
    (pairs, base)
  }

  /** DuckDB CTE block mirroring [[lshVerifiedPairs]] (terminates with a
    * `pairs(a, b)` CTE). Shared by the q28 and q62 oracles. */
  private val lshPairsSqlCtes =
    s"""$shingleSqlCte,
       |sig AS (SELECT doc_id, sh, list_transform(range(0, 12), j ->
       |    list_min(list_transform(hs, v ->
       |      (v*(2*j+1) + j*12345 + 67) % 1000000007))) AS sig
       |  FROM h),
       |bands AS (SELECT doc_id, unnest(list_transform(range(0, 4), b ->
       |    CAST(b AS VARCHAR) || ':' || CAST(sig[b*3+1] AS VARCHAR) || ':' ||
       |    CAST(sig[b*3+2] AS VARCHAR) || ':' || CAST(sig[b*3+3] AS VARCHAR)))
       |    AS bucket FROM sig),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |pairs AS (SELECT c.a, c.b,
       |    round(len(list_intersect(p.sh, q.sh)) * 1.0 /
       |          len(list_distinct(list_concat(p.sh, q.sh))), 4) AS jaccard
       |  FROM cand c JOIN sh p ON p.doc_id = c.a JOIN sh q ON q.doc_id = c.b
       |  WHERE round(len(list_intersect(p.sh, q.sh)) * 1.0 /
       |              len(list_distinct(list_concat(p.sh, q.sh))), 4) >= 0.7)"""
      .stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup: normalize (lower/trim/collapse-ws) then group — the
    // keep-lowest-id policy used by every dedup pass downstream.
    //
    // HASH-FIRST two-phase (the streamingFirstWins shape, batch form):
    // the shuffle key is (xxhash64(norm), length(norm)) — 16 bytes —
    // never the document text itself, so at 100 TB the exchange
    // carries fixed-width keys instead of the entire distinct corpus.
    // Exactness is kept by a second INDEPENDENT hash family
    // (murmur3 via hash()): a bucket whose members disagree on the
    // verify hash provably holds an xxhash64 collision and is re-done
    // with a full-text groupBy — that redo set is broadcast-sized
    // (expected 0 rows; a false merge needs a pair colliding in the
    // 64-bit xxhash64 family AND the 32-bit murmur3 verify hash AND
    // length — ~2^-96 overall, negligible at any corpus size). Cost
    // shape: one narrow-key shuffle + one extra
    // (normally empty-output) corpus scan, vs. the old single shuffle
    // whose keys were whole documents.
    QueryDef(
      "q27_exact_dedup",
      (s, d) => {
        // degenerate-split guard: the testdata table is one parquet
        // row group = one input split; the regex normalization is
        // CPU-bound and would otherwise run on a single core.
        val base = documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .withColumn("norm",
            regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .withColumn("h", xxhash64(col("norm")))
          .withColumn("len", length(col("norm")))
        val buckets = base
          .groupBy(col("h"), col("len"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_copies"),
            countDistinct(hash(col("norm"))).as("n_verify"))
        // collided: xxhash64 buckets holding >1 distinct verify-hash —
        // provably mixed buckets, re-grouped by full text. Broadcast:
        // expected empty at every scale.
        val collided = buckets.filter(col("n_verify") > 1)
          .select(col("h"), col("len"))
        val redo = base
          .join(broadcast(collided), Seq("h", "len"), "left_semi")
          .groupBy(col("norm"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        buckets.filter(col("n_verify") === 1)
          .select(col("keep_id"), col("n_copies"))
          .unionByName(redo.select(col("keep_id"), col("n_copies")))
          .orderBy(col("keep_id"))
      },
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM (SELECT doc_id,
             |        regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
             |      FROM documents) t
             |GROUP BY norm ORDER BY keep_id""".stripMargin)),

    // MinHash + LSH near-dup pipeline: shingle -> 12-perm signature ->
    // 4 bands x 3 rows -> bucket self-join -> exact-Jaccard verify.
    // The oracle MIRRORS the signature arithmetic and banding exactly
    // (the parity hash family of [[TextOps.minhashSig]]), so the
    // differential check is deterministic with respect to the data:
    // LSH recall at a fixed (bands, rows) is probabilistic (~81% for a
    // pair at exactly J=0.7), and an exhaustive oracle would fail
    // nondeterministically on any dataset with a pair near the
    // threshold. The recall-against-ground-truth property is carried
    // by q49 instead, whose prefix-filter blocking is lossless by
    // construction.
    QueryDef(
      "q28_minhash_lsh",
      (s, d) => lshVerifiedPairs(s, d)._1.orderBy(col("a"), col("b")),
      Some(s"""WITH $lshPairsSqlCtes
             |SELECT a, b, jaccard FROM pairs ORDER BY a, b""".stripMargin)),

    // Dedup clustering: the LSH-verified pair list closed into
    // components (graft.ops.GraphOps.connectedComponents — iterative
    // min-label propagation over one read of the pair list, one
    // checkpointed join + groupBy per round, rounds = cluster
    // diameter). This is the step that turns pairwise verdicts into
    // actionable dedup groups: keep min(doc_id) per cluster, drop the
    // rest. The oracle computes the same components with a DuckDB
    // RECURSIVE transitive closure — two entirely different algorithms
    // (distributed label propagation vs SQL fixpoint) must agree on
    // every (doc_id, cluster_id, size) row.
    QueryDef(
      "q62_dedup_clusters",
      (s, d) => {
        val (pairs, base) = lshVerifiedPairs(s, d)
        val cc = graft.ops.GraphOps.connectedComponents(pairs, "a", "b")
        // The CC loop is eager (per-round localCheckpoints over its
        // own persisted copy of the pairs) and its result no longer
        // references the pair lineage — release the shingled-corpus
        // cache now instead of holding it for the whole session.
        base.unpersist()
        val sizes = cc.groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "component")
          .select(col("component").as("cluster_id"), col("id").as("doc_id"),
            col("cluster_size"))
          .orderBy(col("cluster_id"), col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $lshPairsSqlCtes,
             |edges AS (SELECT a AS u, b AS v FROM pairs
             |          UNION SELECT b, a FROM pairs),
             |reach(u, v) AS (
             |  SELECT u, v FROM edges
             |  UNION
             |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
             |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
             |         FROM reach GROUP BY u)
             |SELECT c.cluster_id, c.doc_id, s.cluster_size
             |FROM comp c JOIN (SELECT cluster_id, count(*) AS cluster_size
             |                  FROM comp GROUP BY cluster_id) s
             |  ON c.cluster_id = s.cluster_id
             |ORDER BY c.cluster_id, c.doc_id""".stripMargin)),

    // Exact similarity self-join via prefix filtering (AllPairs/PPJoin
    // family): order each doc's shingle set by a GLOBAL total order;
    // any pair with Jaccard >= t must share an element within the
    // first |x| - ceil(t*|x|) + 1 elements of BOTH sets (pigeonhole on
    // the overlap bound), so candidates = docs sharing a prefix
    // shingle — a lossless blocking with recall exactly 1 on ANY
    // dataset, under ANY total order. The order chosen is ascending
    // DOCUMENT FREQUENCY (the canonical AllPairs trick): prefixes then
    // hold each doc's RAREST shingles, so inverted-index buckets stay
    // small by construction. Lexicographic ordering benched 5x slower
    // here — this corpus has a small vocabulary, so alphabetical
    // prefixes put the same common shingles in every doc's prefix and
    // the bucket join degenerates toward n². The oracle is the
    // exhaustive all-pairs ground truth, so the check proves
    // completeness, not just self-consistency. Scale shape: df count
    // (one agg) -> explode prefixes -> bucket join on shingle ->
    // verify; prefix size ~0.3|x| bounds the inverted index, and no
    // unblocked n² appears anywhere.
    QueryDef(
      "q49_similarity_join_exact",
      (s, d) => {
        val base = shingled(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val exploded = base.select(col("doc_id"), explode(col("sh")).as("tk"))
        // Document frequency per shingle. Bounded by the vocabulary —
        // broadcastable here; at 100 TB the join below turns into a
        // shuffle join on `tk` and the shape is unchanged.
        val dfCounts = exploded.groupBy(col("tk"))
          .agg(count(lit(1)).as("df"))
        // Each doc's shingles reordered by (df, tk): join df in, then
        // rebuild the per-doc array with sort_array over (df, tk)
        // structs — ties broken by the shingle string, so the order is
        // total and identical across docs. posexplode keeps each
        // prefix element's position for the PPJoin bound below.
        val prefix = exploded
          .join(broadcast(dfCounts), "tk")
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(struct(col("df"), col("tk"))))
            .as("ordered"))
          .select(col("doc_id"), size(col("ordered")).as("len"),
            posexplode(slice(transform(col("ordered"), _.getField("tk")), lit(1),
              (size(col("ordered")) - ceil(size(col("ordered")) * 0.7) + 1)
                .cast("int"))))
          .withColumnRenamed("col", "tk")
        // PPJoin positional filter: J(x,y) >= 0.7 forces overlap
        // |x∩y| >= 7(|x|+|y|)/17  (J = i/(|x|+|y|-i), t/(1+t) = 7/17),
        // and from the FIRST shared token in the global order (pos p_x
        // in x, p_y in y — everything earlier is non-shared by
        // definition of "first") the overlap can reach at most
        // min(|x|-p_x, |y|-p_y). Rows for later shared tokens may fail
        // the bound spuriously, but the first-shared-token row of every
        // true pair always passes, and `distinct` needs just one
        // surviving row — lossless. All-integer form (x17 vs x7), no
        // float ceil at the boundary. Benched: candidates 202k -> 16k
        // on the sf0.1 corpus, and the verify join shrinks to match.
        val bound = least(col("x.len") - col("x.pos"), col("y.len") - col("y.pos"))
        val cand = prefix.as("x")
          .join(prefix.as("y"),
            col("x.tk") === col("y.tk") && col("x.doc_id") < col("y.doc_id") &&
              bound * 17 >= (col("x.len") + col("y.len")) * 7)
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct()
        // The candidate set is tiny relative to the corpus: broadcast it
        // so the verify step streams `base` without shuffling it.
        broadcast(cand)
          .join(base.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
          .join(base.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
          .select(col("a"), col("b"),
            TextOps.jaccardSorted(col("sha"), col("shb")).as("jaccard"))
          .filter(col("jaccard") >= 0.7)
          .orderBy(col("a"), col("b"))
      },
      // EXHAUSTIVE oracle: every pair's exact shingle Jaccard, no
      // blocking — matching it proves the prefix filter loses nothing.
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
             |          FROM documents),
             |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
             |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
             |       FROM t WHERE len(ws) >= 3)
             |SELECT p.doc_id AS a, q.doc_id AS b,
             |  round(len(list_intersect(p.sh, q.sh)) * 1.0 /
             |        len(list_distinct(list_concat(p.sh, q.sh))), 4) AS jaccard
             |FROM sh p JOIN sh q ON p.doc_id < q.doc_id
             |WHERE round(len(list_intersect(p.sh, q.sh)) * 1.0 /
             |            len(list_distinct(list_concat(p.sh, q.sh))), 4) >= 0.7
             |ORDER BY a, b""".stripMargin)),

    // SimHash near-dup: 30-bit signature (the full meaningful width
    // over mod-P hashes — P ≈ 2^30), candidates from matching 8-bit
    // blocks, then exact hamming filter. Charikar-style blocked dedup.
    // Block count follows the pigeonhole rule: k+1 blocks guarantee
    // recall for hamming <= k (4 blocks cover the hamming <= 3 filter —
    // 3 differing bits can dirty at most 3 blocks, so one block always
    // matches exactly). Block WIDTH is the selectivity lever: 8-bit
    // blocks spread docs over 256 values per position where 4-bit
    // blocks had 16 — at 5k docs that's ~16× fewer candidate pairs,
    // and the ratio grows linearly with corpus size (the difference
    // between a bucket join and a near-cross-join at 100 TB). At
    // production scale the same rule runs over a 62-bit
    // xxhash64-based simhash with 16-bit blocks.
    QueryDef(
      "q29_simhash",
      (s, d) => {
        // Persisted: the signature table feeds both sides of the
        // block-bucket self-join, and materialization stops the un-CSE'd
        // signature expression from being re-evaluated per reference.
        // Derives ONLY the hash arrays — not [[hashed]], whose word-
        // shingle strings exist for Jaccard verification and simhash
        // never reads (they were ~half the derivation cost here).
        val sim = documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .filter(size(TextOps.tokens(col("text"))) >= 3)
          .select(col("doc_id"),
            TextOps.shingleHashes3(TextOps.tokens(col("text"))).as("hs"))
          .select(col("doc_id"), TextOps.simhashBits(col("hs"), 30).as("sim"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val blocked = sim.select(col("doc_id"), col("sim"),
          explode(array((0 until 4).map(j =>
            concat(lit(s"b$j:"),
              (shiftright(col("sim"), 8 * j) % 256).cast("string"))): _*))
            .as("bucket"))
        blocked.as("x")
          .join(blocked.as("y"),
            col("x.bucket") === col("y.bucket") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
            col("x.sim").as("sim_a"), col("y.sim").as("sim_b"))
          .distinct()
          .withColumn("hamming",
            expr("bit_count(sim_a ^ sim_b)").cast("int"))
          .filter(col("hamming") <= 3)
          .select(col("a"), col("b"), col("hamming"))
          .orderBy(col("a"), col("b"))
      },
      Some(s"""WITH $shingleSqlCte,
             |sim AS (SELECT doc_id,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 30)),
             |    (acc, j) -> acc + CASE WHEN
             |        2 * list_reduce(list_prepend(CAST(0 AS BIGINT),
             |              list_transform(hs, h ->
             |                CAST(floor(h / power(2, j)) AS BIGINT) % 2)),
             |              (s, x) -> s + x) > len(hs)
             |      THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS sim
             |  FROM h),
             |blocked AS (SELECT doc_id, sim,
             |  unnest(list_transform(range(0, 4), j ->
             |    'b' || CAST(j AS VARCHAR) || ':' ||
             |    CAST(CAST(floor(sim / power(2, j*8)) AS BIGINT) % 256 AS VARCHAR)))
             |    AS bucket FROM sim),
             |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
             |           x.sim AS sim_a, y.sim AS sim_b
             |         FROM blocked x JOIN blocked y
             |           ON x.bucket = y.bucket AND x.doc_id < y.doc_id)
             |SELECT a, b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
             |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
             |ORDER BY a, b""".stripMargin)),

    // n-gram Jaccard, probe-style: a small probe set (doc_id % 50 = 0,
    // broadcastable) scored against the whole corpus. Reports word-SET
    // Jaccard next to 3-gram Jaccard — the sets saturate (tiny shared
    // vocabulary), the shingles discriminate; that contrast is why the
    // pipeline shingles before hashing.
    QueryDef(
      "q30_ngram_jaccard",
      (s, d) => {
        // Persisted for the same reason as q28: probe and corpus sides
        // both read the derived arrays. Repartitioned so the per-doc
        // array building isn't pinned to the single input split.
        // Arrays pre-sorted so the 10^5-pair scoring below runs the
        // merge-pass jaccard kernel (one corpus-side sort amortized
        // over ~100 probe comparisons per doc).
        val base = documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"),
            array_sort(array_distinct(TextOps.tokens(col("text")))).as("wset"),
            array_sort(TextOps.wordShingles(TextOps.tokens(col("text")), 3))
              .as("sh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val probes = base.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("a"), col("wset").as("wa"), col("sh").as("sha"))
        // Explicit hint: the probe side is the bounded one. Left to the
        // planner's size estimates, the build side can flip to the
        // corpus (4900 docs of shingle arrays — a ~100 MB broadcast).
        broadcast(probes).join(base.filter(col("doc_id") % 50 =!= 0), lit(true))
          .select(col("a"), col("doc_id").as("b"),
            TextOps.jaccardSorted(col("wa"), col("wset")).as("word_jaccard"),
            TextOps.jaccardSorted(col("sha"), col("sh")).as("shingle_jaccard"))
          .orderBy(col("shingle_jaccard").desc, col("a"), col("b"))
          .limit(50)
      },
      Some("""WITH base AS (SELECT doc_id,
             |    list_distinct(string_split(text, ' ')) AS wset,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
             |      i -> string_split(text, ' ')[i] || ' ' ||
             |           string_split(text, ' ')[i+1] || ' ' ||
             |           string_split(text, ' ')[i+2])) AS sh
             |  FROM documents)
             |SELECT p.doc_id AS a, c.doc_id AS b,
             |  round(len(list_intersect(p.wset, c.wset)) * 1.0 /
             |        len(list_distinct(list_concat(p.wset, c.wset))), 4) AS word_jaccard,
             |  round(len(list_intersect(p.sh, c.sh)) * 1.0 /
             |        len(list_distinct(list_concat(p.sh, c.sh))), 4) AS shingle_jaccard
             |FROM base p JOIN base c
             |  ON p.doc_id % 50 = 0 AND c.doc_id % 50 != 0
             |ORDER BY shingle_jaccard DESC, a, b LIMIT 50""".stripMargin)),

    // Embedding-cosine near-dup, IVF-style label blocking: pairs are
    // only formed inside a partition key (label), one shuffle, no n².
    QueryDef(
      "q31_embedding_neardup",
      (s, d) => {
        import graft.ops.VectorOps._
        // Norms precomputed per vector (below the join), so each pair
        // costs ONE fold (the dot product) instead of three. Hoisting
        // sqrt(Σx²) out of the pair expression leaves the arithmetic
        // bit-identical — same values, same order.
        val e = embeddings(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
          .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
          .withColumn("nrm", l2norm(col("v")))
        e.as("x").join(e.as("y"),
            col("x.label") === col("y.label") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
            round(dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")), 4)
              .as("cos"))
          .filter(col("cos") >= 0.3)
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH e0 AS (SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |e AS (SELECT vec_id, label, v,
             |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |      list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
             |      (s, t) -> s + t)) AS nrm
             |  FROM e0),
             |p AS (SELECT x.vec_id AS a, y.vec_id AS b,
             |  round(
             |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |      list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i])),
             |      (s, t) -> s + t)
             |    / (x.nrm * y.nrm), 4) AS cos
             |  FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id)
             |SELECT a, b, cos FROM p WHERE cos >= 0.3 ORDER BY a, b""".stripMargin)),

    // Benchmark decontamination (the training-data hygiene op next to
    // dedup): flag corpus documents that share ANY exact 4-gram with a
    // held-out benchmark set — membership, not similarity, so it
    // catches verbatim leakage q30's Jaccard threshold would wave
    // through. Shape: benchmark shingles dedup to a bounded probe set,
    // BROADCAST; the corpus explodes its shingles and LEFT SEMI probes
    // — each corpus row is tested map-side, no corpus shuffle, and a
    // doc is counted once however many n-grams hit. At 100 TB the
    // probe set (a benchmark suite, ~1e6 shingles) still broadcasts;
    // the corpus never materializes a pairwise anything.
    QueryDef(
      "q99_decontamination",
      (s, d) => {
        val base = documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), col("source"),
            TextOps.wordShingles(TextOps.tokens(col("text")), 4).as("sh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val probe = base.filter(col("doc_id") % 97 === 0)
          .select(explode(col("sh")).as("g")).distinct()
        val corpus = base.filter(col("doc_id") % 97 =!= 0)
        val hits = corpus
          .select(col("doc_id"), col("source"), explode(col("sh")).as("g"))
          .join(broadcast(probe), Seq("g"), "left_semi")
          .select(col("doc_id"), col("source")).distinct()
        corpus.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .join(hits.groupBy(col("source"))
            .agg(count(lit(1)).as("n_contaminated")), Seq("source"), "left")
          .withColumn("n_contaminated",
            coalesce(col("n_contaminated"), lit(0L)))
          .withColumn("permille", expr("n_contaminated * 1000 div n_docs"))
          .orderBy(col("source"))
      },
      Some("""WITH t AS (SELECT doc_id, source,
             |    string_split(text, ' ') AS w FROM documents),
             |base AS (SELECT doc_id, source,
             |    list_distinct(list_transform(
             |      range(1, greatest(len(w) - 2, 1)),
             |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
             |           w[i+3])) AS sh
             |  FROM t),
             |probe AS (SELECT DISTINCT unnest(sh) AS g FROM base
             |  WHERE doc_id % 97 = 0),
             |corpus AS (SELECT doc_id, source, sh FROM base
             |  WHERE doc_id % 97 != 0),
             |hits AS (SELECT DISTINCT c.doc_id, c.source
             |  FROM (SELECT doc_id, source, unnest(sh) AS g FROM corpus) c
             |  JOIN probe p ON c.g = p.g),
             |n AS (SELECT source, count(*) AS n_docs FROM corpus GROUP BY 1),
             |h AS (SELECT source, count(*) AS n_contaminated FROM hits
             |  GROUP BY 1)
             |SELECT n.source, n.n_docs,
             |  COALESCE(h.n_contaminated, 0) AS n_contaminated,
             |  COALESCE(h.n_contaminated, 0) * 1000 // n.n_docs AS permille
             |FROM n LEFT JOIN h ON n.source = h.source
             |ORDER BY n.source""".stripMargin)),

    // Cross-source duplication matrix — provenance analytics over the
    // dedup signals: for every source pair, how many distinct 3-word
    // shingles they share (which feeds/crawls copy from each other —
    // the signal that drives source-level dedup priorities and mixing
    // weights). Shape: distinct (source, shingle-hash) pairs (one
    // shuffle), bucket self-join on the hash, pair count. Per-shingle
    // fanout is bounded by C(n_sources, 2); with many sources (domains
    // at 100 TB) exclude ubiquitous shingles first by df rank exactly
    // as q110's stopword rule — boilerplate shingles otherwise put
    // every domain pair in every bucket.
    QueryDef(
      "q118_source_overlap",
      (s, d) => {
        // r14 rewrite (q114/q77 shape): per-hash source SET + narrow
        // a<b expansion instead of distinct + bucket self-join — the
        // distinct exchange AND both self-join shuffles collapse into
        // one groupBy(h) with map-side-combined collect_set (dedup
        // falls out of set semantics). Per-shingle fanout stays
        // bounded by C(n_sources, 2) exactly as before; the same
        // df-rank exclusion applies at domain scale.
        documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .filter(size(TextOps.tokens(col("text"))) >= 3)
          .select(col("source"),
            explode(TextOps.shingleHashes3(TextOps.tokens(col("text"))))
              .as("h"))
          .groupBy(col("h")).agg(collect_set(col("source")).as("srcs"))
          .select(explode(flatten(transform(col("srcs"), x =>
            transform(col("srcs"), y =>
              struct(x.as("src_a"), y.as("src_b"))))))
            .as("e"))
          .select(col("e.src_a"), col("e.src_b"))
          .filter(col("src_a") < col("src_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_shared_shingles"))
          .orderBy(col("n_shared_shingles").desc, col("src_a"), col("src_b"))
          .limit(20)
      },
      Some(s"""WITH $shingleSqlCte,
             |sp AS (SELECT DISTINCT d.source, u.hv
             |  FROM h, documents d,
             |    LATERAL (SELECT unnest(h.hs) AS hv) u
             |  WHERE h.doc_id = d.doc_id)
             |SELECT x.source AS src_a, y.source AS src_b,
             |  count(*) AS n_shared_shingles
             |FROM sp x JOIN sp y ON x.hv = y.hv AND x.source < y.source
             |GROUP BY 1, 2
             |ORDER BY n_shared_shingles DESC, src_a, src_b
             |LIMIT 20""".stripMargin)),

    // SUBSTRING-LEVEL duplicated-span detection (the training-data
    // dedup granularity below q113's paragraph unit: find the exact
    // REGIONS of a document that also occur elsewhere, à la
    // "Deduplicating Training Data Makes Language Models Better",
    // arXiv 2107.06499 — their ExactSubstr at 50-token granularity;
    // k=8 here so the small synthetic docs exercise it). Shape:
    //   1. every k-token window becomes a gram keyed by md5 of its
    //      joined text — a CONSTANT-WIDTH 32-char key, so the
    //      corpus-wide shuffle carries 32 bytes/gram, never document
    //      text (the q27 lesson; md5 because it is identical in
    //      every engine, so the oracle reproduces the grouping
    //      bit-for-bit — production would swap in xxhash64);
    //   2. a count window over the gram key marks grams occurring
    //      ≥2 times corpus-wide (one shuffle, no join-back);
    //   3. per doc, duplicated gram positions merge into maximal
    //      spans by the gaps-and-islands window (narrow after one
    //      doc_id shuffle): a new span starts when pos jumps past
    //      prev_pos + k (adjacent/overlapping windows fuse).
    // Fan-out is n-k+1 grams/doc (linear); span merge is per-doc
    // windows; nothing is quadratic and no full text ever shuffles —
    // exactly the 100 TB shape. Output: top-20 most-duplicated docs
    // with span count, duplicated-token mass, and integer permille.
    QueryDef(
      "q140_dup_span_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = 8
        val grams = documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
          .filter(size(col("ws")) >= k)
          .withColumn("n_tokens", size(col("ws")).cast("long"))
          .withColumn("pos",
            explode(sequence(lit(1), size(col("ws")) - (k - 1))))
          .select(col("doc_id"), col("n_tokens"), col("pos"),
            md5(concat_ws(" ", slice(col("ws"), col("pos"), lit(k))))
              .as("g"))
        val dup = grams
          .withColumn("cnt",
            count(lit(1)).over(Window.partitionBy(col("g"))))
          .filter(col("cnt") >= 2)
        val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val prevPos = max(col("pos"))
          .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
        dup
          .withColumn("brk",
            when(prevPos.isNull || col("pos") > prevPos + k, 1)
              .otherwise(0))
          .withColumn("island", sum(col("brk"))
            .over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("doc_id"), col("n_tokens"), col("island"))
          .agg(min(col("pos")).as("s"),
            (max(col("pos")) + lit(k - 1)).as("e"))
          .groupBy(col("doc_id"), col("n_tokens"))
          .agg(count(lit(1)).as("n_spans"),
            sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"))
          .withColumn("dup_permille",
            expr("dup_tokens * 1000 div n_tokens"))
          .select(col("doc_id"), col("n_tokens"), col("n_spans"),
            col("dup_tokens"), col("dup_permille"))
          .orderBy(col("dup_tokens").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
             |grams AS (
             |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
             |    CAST(i AS INTEGER) AS pos,
             |    md5(array_to_string(ws[i:i+7], ' ')) AS g
             |  FROM tok, LATERAL (SELECT unnest(range(1, len(ws) - 6)) AS i) u),
             |dp AS (
             |  SELECT doc_id, n_tokens, pos FROM (
             |    SELECT doc_id, n_tokens, pos,
             |      count(*) OVER (PARTITION BY g) AS cnt
             |    FROM grams) WHERE cnt >= 2),
             |isl AS (
             |  SELECT doc_id, n_tokens, pos,
             |    CASE WHEN max(pos) OVER (PARTITION BY doc_id ORDER BY pos
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |         IS NULL
             |      OR pos > max(pos) OVER (PARTITION BY doc_id ORDER BY pos
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 8
             |      THEN 1 ELSE 0 END AS brk
             |  FROM dp),
             |sp AS (
             |  SELECT doc_id, n_tokens, pos,
             |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM isl),
             |spans AS (
             |  SELECT doc_id, n_tokens, island,
             |    min(pos) AS s, max(pos) + 7 AS e
             |  FROM sp GROUP BY doc_id, n_tokens, island),
             |docs AS (
             |  SELECT doc_id, n_tokens, count(*) AS n_spans,
             |    CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
             |  FROM spans GROUP BY doc_id, n_tokens)
             |SELECT doc_id, n_tokens, n_spans, dup_tokens,
             |  CAST(dup_tokens * 1000 // n_tokens AS BIGINT) AS dup_permille
             |FROM docs
             |ORDER BY dup_tokens DESC, doc_id LIMIT 20""".stripMargin)),

    // CANONICAL SELECTION — dedup's "keep-best" policy: inside each
    // duplicate group keep the HIGHEST-QUALITY representative (longest
    // raw n_chars, tie → lowest doc_id), not blindly the first id —
    // the curation rule real pipelines use when near-identical copies
    // differ in truncation/boilerplate. Grouping key is the q27
    // hash-first shape: (xxhash64, murmur3, length) of the normalized
    // text — 20 fixed bytes on the exchange, never the document. Two
    // INDEPENDENT 32/64-bit families + length must all collide to
    // falsely merge (≈2⁻⁹⁶ per pair); where provable exactness is
    // required, add q27's verify-and-redo branch — the per-source
    // accounting here tolerates the same bound the oracle's
    // norm-keyed grouping hash-checks against. One keeper per group
    // via row_number over the 20-byte key; per-source rollup reports
    // what dedup actually costs: docs and chars dropped.
    QueryDef(
      "q154_canonical_selection",
      (s, d) => {
        val base = documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .withColumn("norm",
            regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .select(col("doc_id"), col("source"), col("n_chars"),
            xxhash64(col("norm")).as("h"), hash(col("norm")).as("h2"),
            length(col("norm")).as("len"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("h"), col("h2"), col("len"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        base.withColumn("rn", row_number().over(w))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("rn") === 1, 0L).otherwise(1L)).as("n_dropped"),
            sum(when(col("rn") === 1, 0L).otherwise(col("n_chars")))
              .as("chars_dropped"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source, n_chars,
             |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
             |  FROM documents),
             |r AS (
             |  SELECT source, n_chars,
             |    row_number() OVER (PARTITION BY norm
             |      ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM d)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_kept,
             |  CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
             |    AS n_dropped,
             |  CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE n_chars END) AS BIGINT)
             |    AS chars_dropped
             |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // SORTED-NEIGHBORHOOD BLOCKING — the entity-resolution candidate
    // generator (Hernández & Stolfo '95): sort within a blocking key,
    // compare each record only to its w nearest neighbors in sort
    // order — O(n·w) candidate pairs instead of the O(n²) all-pairs a
    // naive string-match would need. Block = first letter of p_name
    // (sorted-neighborhood IS a within-block method in practice; a
    // cross-block near-match is invisible by design, the recall/cost
    // dial every ER deployment tunes). Neighbors materialize as
    // lead(1..2) window columns — no self-join at all; scoring is
    // levenshtein (identical unit-cost DP in Spark and DuckDB, so the
    // distances hash-match exactly). Output: the 20 closest in-block
    // name pairs. At 100 TB the block key range-partitions the sort;
    // each partition's window is independent.
    QueryDef(
      "q156_sorted_neighborhood",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("blk")).orderBy(col("p_name"), col("p_partkey"))
        val base = part(s, d)
          .select(col("p_partkey"), col("p_name"),
            substring(col("p_name"), 1, 1).as("blk"))
        val paired = base
          .withColumn("n1_name", lead(col("p_name"), 1).over(w))
          .withColumn("n1_key", lead(col("p_partkey"), 1).over(w))
          .withColumn("n2_name", lead(col("p_name"), 2).over(w))
          .withColumn("n2_key", lead(col("p_partkey"), 2).over(w))
        val c1 = paired.filter(col("n1_name").isNotNull)
          .select(col("p_name").as("name_a"), col("p_partkey").as("key_a"),
            col("n1_name").as("name_b"), col("n1_key").as("key_b"))
        val c2 = paired.filter(col("n2_name").isNotNull)
          .select(col("p_name").as("name_a"), col("p_partkey").as("key_a"),
            col("n2_name").as("name_b"), col("n2_key").as("key_b"))
        c1.unionByName(c2)
          .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
          .orderBy(col("lev"), col("name_a"), col("name_b"), col("key_a"),
            col("key_b"))
          .limit(20)
      },
      Some("""WITH base AS (
             |  SELECT p_partkey, p_name, substr(p_name, 1, 1) AS blk
             |  FROM part),
             |paired AS (
             |  SELECT p_partkey, p_name,
             |    lead(p_name, 1) OVER w AS n1_name,
             |    lead(p_partkey, 1) OVER w AS n1_key,
             |    lead(p_name, 2) OVER w AS n2_name,
             |    lead(p_partkey, 2) OVER w AS n2_key
             |  FROM base
             |  WINDOW w AS (PARTITION BY blk ORDER BY p_name, p_partkey)),
             |cand AS (
             |  SELECT p_name AS name_a, p_partkey AS key_a,
             |    n1_name AS name_b, n1_key AS key_b
             |  FROM paired WHERE n1_name IS NOT NULL
             |  UNION ALL
             |  SELECT p_name AS name_a, p_partkey AS key_a,
             |    n2_name AS name_b, n2_key AS key_b
             |  FROM paired WHERE n2_name IS NOT NULL)
             |SELECT name_a, key_a, name_b, key_b,
             |  CAST(levenshtein(name_a, name_b) AS INT) AS lev
             |FROM cand
             |ORDER BY lev, name_a, name_b, key_a, key_b
             |LIMIT 20""".stripMargin)),

    // CONTENT-DEFINED CHUNKING dedup (the FastCDC/rsync idea lifted to
    // token streams): chunk boundaries are declared where the word's
    // own hash satisfies `polyHash(w) % 16 == 0`, so a boundary
    // depends ONLY on local content — insert a paragraph into a
    // document and every chunk outside the edit keeps its identity,
    // which fixed-width blocks (q140's k-grams at fixed positions)
    // lose to the shift. Chunk identity = md5 of the in-order words;
    // duplicate-chunk mass per source is the storage/near-dup signal a
    // CAS-style corpus store runs on. Shape: one narrow posexplode,
    // one doc_id-keyed window cumsum to number chunks, one bounded-key
    // (doc, chunk) aggregate, and a final per-source rollup where
    // distinct-counting shuffles constant-width (source, md5) keys —
    // corpus-linear, no pairwise work anywhere. Expected chunk length
    // is the 16-word geometric mean; the hash is the engine-portable
    // q37 fold so the oracle reproduces boundaries bit-for-bit.
    QueryDef(
      "q190_cdc_chunk_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), col("source"),
            posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "w")))
          .withColumn("brk",
            when(TextOps.polyHash(col("w")) % 16 === 0, 1L).otherwise(0L))
          .withColumn("chunk", sum(col("brk"))
            .over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("doc_id"), col("source"), col("chunk"))
          .agg(
            md5(array_join(
              transform(
                array_sort(collect_list(struct(col("pos"), col("w")))),
                x => x.getField("w")), " ")).as("h"),
            count(lit(1)).as("chunk_words"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("h")).as("n_distinct"),
            sum(col("chunk_words")).as("n_words"))
          .withColumn("dup_chunk_ppm",
            expr("(n_chunks - n_distinct) * 1000000 div n_chunks"))
          .orderBy(col("source"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id, source,
             |    unnest(string_split(text, ' ')) AS w,
             |    generate_subscripts(string_split(text, ' '), 1) AS pos
             |  FROM documents),
             |b AS (
             |  SELECT doc_id, source, pos, w,
             |    CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
             |        list_transform(string_split(w, ''),
             |          c -> CAST(ascii(c) AS BIGINT))),
             |        (h, c) -> (h*31 + c) % 1000000007) % 16 = 0
             |      THEN 1 ELSE 0 END AS brk
             |  FROM w),
             |c AS (
             |  SELECT doc_id, source, pos, w,
             |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk
             |  FROM b),
             |g AS (
             |  SELECT doc_id, source, chunk,
             |    md5(string_agg(w, ' ' ORDER BY pos)) AS h,
             |    count(*) AS chunk_words
             |  FROM c GROUP BY doc_id, source, chunk)
             |SELECT source, count(*) AS n_chunks,
             |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
             |  CAST(sum(chunk_words) AS BIGINT) AS n_words,
             |  CAST((count(*) - count(DISTINCT h)) * 1000000 // count(*)
             |    AS BIGINT) AS dup_chunk_ppm
             |FROM g GROUP BY source ORDER BY source""".stripMargin)),

    // ASYMMETRIC CONTAINMENT JOIN — the near-dup relation Jaccard
    // blocking MISSES: a short document quoted/wrapped inside a long
    // one has C(A,B) = |A∩B|/|A| ≈ 1 but tiny symmetric Jaccard, so
    // MinHash bands (tuned for J) never pair it. Candidates come from
    // the containment form of prefix filtering: if |A∩B| ≥ 0.9|A|,
    // then among the first |A| − ⌈0.9|A|⌉ + 1 shingles of A in a
    // GLOBAL rarity (df, shingle) order, at least one is in B — so
    // A-prefix tokens equi-join B's FULL token list (rare tokens
    // first keeps the candidate count near-linear), with the
    // positional bound (|A| − p_A)·10 ≥ 9·|A| pruning late-position
    // matches; the first-shared-token row of every true pair always
    // survives (the q49 argument), so the filter is lossless — proved
    // by the deliberately EXHAUSTIVE n² oracle. Verify is the exact
    // sorted-merge intersect count per candidate, integer 10×/9×
    // threshold, ppm output — no floats anywhere.
    QueryDef(
      "q198_containment_dedup",
      (s, d) => {
        val base = documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .filter(size(TextOps.tokens(col("text"))) >= 3)
          .select(col("doc_id"),
            array_distinct(array_sort(
              TextOps.wordShingles(TextOps.tokens(col("text")), 3)))
              .as("sh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val exploded = base
          .select(col("doc_id"), explode(col("sh")).as("tk"))
        val dfCounts = exploded.groupBy(col("tk"))
          .agg(count(lit(1)).as("df"))
        val ordered = exploded
          .join(broadcast(dfCounts), "tk")
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(struct(col("df"), col("tk"))))
            .as("ordered"))
          .select(col("doc_id"),
            transform(col("ordered"), _.getField("tk")).as("tks"),
            size(col("ordered")).as("len"))
        val prefixA = ordered
          .select(col("doc_id"), col("len"),
            posexplode(slice(col("tks"), lit(1),
              (col("len") - ceil(col("len") * 0.9) + 1).cast("int"))))
          .withColumnRenamed("col", "tk")
        val allB = ordered
          .select(col("doc_id").as("b_id"), explode(col("tks")).as("tk"))
        val cand = prefixA.as("x")
          .join(allB.as("y"),
            col("x.tk") === col("y.tk") &&
              col("x.doc_id") =!= col("y.b_id") &&
              (col("x.len") - col("x.pos")) * 10 >= col("x.len") * 9)
          .select(col("x.doc_id").as("a"), col("y.b_id").as("b"))
          .distinct()
        broadcast(cand)
          .join(base.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
          .join(base.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
          .withColumn("n_a", size(col("sha")).cast("long"))
          .withColumn("n_b", size(col("shb")).cast("long"))
          .withColumn("inter",
            TextOps.sortedIntersectCount(col("sha"), col("shb"))
              .cast("long"))
          .filter(col("inter") * 10 >= col("n_a") * 9)
          .select(col("a").as("contained"), col("b").as("container"),
            col("n_a"), col("n_b"),
            expr("inter * 1000000 div n_a").as("containment_ppm"))
          .orderBy(col("contained"), col("container"))
      },
      // EXHAUSTIVE oracle: every ordered pair's exact containment, no
      // blocking — matching it proves the prefix filter loses nothing.
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
             |          FROM documents),
             |sh AS (SELECT doc_id,
             |         list_sort(list_distinct(list_transform(
             |           range(1, len(ws) - 1),
             |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
             |           AS sh
             |       FROM t WHERE len(ws) >= 3)
             |SELECT p.doc_id AS contained, q.doc_id AS container,
             |  CAST(len(p.sh) AS BIGINT) AS n_a,
             |  CAST(len(q.sh) AS BIGINT) AS n_b,
             |  CAST(len(list_intersect(p.sh, q.sh)) * 1000000
             |    // len(p.sh) AS BIGINT) AS containment_ppm
             |FROM sh p JOIN sh q ON p.doc_id <> q.doc_id
             |WHERE len(list_intersect(p.sh, q.sh)) * 10 >= len(p.sh) * 9
             |ORDER BY contained, container""".stripMargin)),

    // NEAR-DUP TRANSITIVITY AUDIT — the measurement behind q62's
    // design decision: connected-component clustering treats "J ≥ 0.7"
    // as if it were transitive, which it is NOT in general (a~b and
    // b~c allow J(a,c) well below t). This entry takes the verified
    // pair list, forms every WEDGE a−b−c, and decomposes the a−c
    // closures: already a verified pair | actually similar but missed
    // by the bands (an LSH recall gap, closable) | genuinely
    // dissimilar (true non-transitivity — the rows that make CC
    // clusters over-merge). High dissimilar counts mean the threshold
    // or the clustering policy needs tightening BEFORE a 100 TB dedup
    // run deletes the wrong documents. Shape: the pair list is tiny
    // (bounded by real near-dups), so wedge formation is a self-join
    // of a broadcast-scale table; third-edge verification joins the
    // open wedges to `base`, the corpus the pair build cached.
    QueryDef(
      "q203_transitivity_audit",
      (s, d) => {
        val (pairs, base) = lshVerifiedPairs(s, d)
        val p = pairs.select(col("a"), col("b")).persist()
        val und = p.union(p.select(col("b"), col("a"))).toDF("u", "v")
        val wedges = und.as("x")
          .join(und.as("y"),
            col("x.v") === col("y.u") && col("x.u") < col("y.v"))
          .select(col("x.u").as("a"), col("y.v").as("c"))
          .distinct()
        val closed = p.withColumn("is_pair", lit(1L))
        val scored = wedges
          .join(closed, wedges("a") === closed("a") &&
            wedges("c") === closed("b"), "left")
          .select(wedges("a").as("a"), wedges("c").as("c"),
            coalesce(col("is_pair"), lit(0L)).as("is_pair"))
        val openScored = scored.filter(col("is_pair") === 0L)
          .join(base.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
          .join(base.select(col("doc_id").as("c"), col("sh").as("shc")), "c")
          .select(
            (TextOps.jaccardSorted(col("sha"), col("shc")) >= 0.7)
              .as("is_similar"))
        val openAgg = openScored.agg(
          count(lit(1)).as("n_open"),
          coalesce(sum(when(col("is_similar"), 1L).otherwise(0L)), lit(0L))
            .as("n_missed"))
        scored.agg(count(lit(1)).as("n_wedges"),
            coalesce(sum(col("is_pair")), lit(0L)).as("n_closed"))
          .crossJoin(p.agg(count(lit(1)).as("n_pairs")))
          .crossJoin(openAgg)
          .select(col("n_pairs"), col("n_wedges"), col("n_closed"),
            col("n_missed"),
            (col("n_open") - col("n_missed")).as("n_dissimilar"),
            expr("""CASE WHEN n_wedges = 0 THEN 0
                   | ELSE (n_closed + n_missed) * 1000000 div n_wedges
                   | END""".stripMargin).as("closure_ppm"))
      },
      Some(s"""WITH $lshPairsSqlCtes,
             |p AS (SELECT a, b FROM pairs),
             |und AS (SELECT a AS u, b AS v FROM p
             |        UNION ALL SELECT b, a FROM p),
             |wedges AS (
             |  SELECT DISTINCT x.u AS a, y.v AS c
             |  FROM und x JOIN und y ON x.v = y.u AND x.u < y.v),
             |scored AS (
             |  SELECT w.a, w.c,
             |    CASE WHEN p.a IS NULL THEN 0 ELSE 1 END AS is_pair
             |  FROM wedges w LEFT JOIN p ON w.a = p.a AND w.c = p.b),
             |openj AS (
             |  SELECT CASE WHEN
             |      round(len(list_intersect(x.sh, y.sh)) * 1.0 /
             |        len(list_distinct(list_concat(x.sh, y.sh))), 4)
             |      >= 0.7 THEN 1 ELSE 0 END AS is_similar
             |  FROM scored s JOIN sh x ON s.a = x.doc_id
             |    JOIN sh y ON s.c = y.doc_id
             |  WHERE s.is_pair = 0)
             |SELECT
             |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_pairs,
             |  (SELECT CAST(count(*) AS BIGINT) FROM scored) AS n_wedges,
             |  (SELECT CAST(coalesce(sum(is_pair), 0) AS BIGINT) FROM scored)
             |    AS n_closed,
             |  (SELECT CAST(coalesce(sum(is_similar), 0) AS BIGINT) FROM openj)
             |    AS n_missed,
             |  (SELECT CAST(count(*) - coalesce(sum(is_similar), 0) AS BIGINT)
             |    FROM openj) AS n_dissimilar,
             |  CASE WHEN (SELECT count(*) FROM scored) = 0 THEN 0
             |    ELSE ((SELECT CAST(coalesce(sum(is_pair), 0) AS BIGINT) FROM scored)
             |      + (SELECT CAST(coalesce(sum(is_similar), 0) AS BIGINT)
             |         FROM openj))
             |      * 1000000 // (SELECT CAST(count(*) AS BIGINT)
             |        FROM scored)
             |  END AS closure_ppm""".stripMargin)),

    // WINNOWING FINGERPRINTS (Schleimer/Wilkerson/Aiken, the MOSS
    // kernel): positional 3-gram hashes, then one fingerprint per
    // sliding window of w=4 — the min hash of the window. Guarantee:
    // any shared run of >= w+k-1 tokens between two docs shares at
    // least one fingerprint, at ~2/(w+1) the density of hashing every
    // k-gram — the local-dedup sketch that catches PARTIAL overlap
    // MinHash's whole-set Jaccard dilutes away. Pipeline: per-doc
    // fingerprinting is narrow HOF arithmetic (no shuffle);
    // stop-fingerprints (doc-freq > 50) are dropped before the
    // inverted-index self-join — the same frequency rail as PPJoin's
    // prefix ordering, bounding every join bucket; pair scoring is
    // one groupBy on (a, b). Output: top-20 pairs by shared
    // fingerprints with containment ppm vs the smaller doc.
    QueryDef(
      "q211_winnowing",
      (s, d) => {
        val w = 4
        val fp = documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
          .filter(size(col("ws")) >= 3 + w - 1)
          .withColumn("th", TextOps.tokenHashes(col("ws")))
          .withColumn("kh", expr(
            """transform(sequence(1, size(th) - 2),
              |  i -> (element_at(th, i) * 1009
              |        + element_at(th, i + 1) * 9176
              |        + element_at(th, i + 2)) % 1000000007)"""
              .stripMargin))
          .withColumn("fps", array_distinct(expr(
            s"""transform(sequence(1, size(kh) - ${w - 1}),
               |  j -> array_min(slice(kh, j, $w)))""".stripMargin)))
          // persist the ARRAY column, then explode the cached
          // attribute: exploding the computed expression directly
          // makes GenerateExec re-evaluate the whole windowed-min
          // transform per emitted element — measured 486 s vs 0.7 s
          // on this very stage at sf0.1 (the generic rule: never
          // explode an expensive generator expression; bind it to an
          // attribute first)
          .select(col("doc_id"), col("fps"))
          .persist()
          .select(col("doc_id"), explode(col("fps")).as("fp"))
        val perDoc = fp.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_fp"))
        // r14 rewrite (q114/q77/q118 shape): one groupBy(fp) with
        // map-side-combined collect_set replaces the doc-frequency
        // count + stop-fingerprint join + inverted-index SELF-JOIN —
        // per-doc fps are already distinct, so set size IS the doc
        // frequency, and the stop rail (> 50) bounds every expanded
        // array before the a<b pair expansion exactly as it bounded
        // every join bucket.
        fp.groupBy(col("fp"))
          .agg(collect_set(col("doc_id")).as("ds"))
          .filter(size(col("ds")) <= 50)
          .select(explode(flatten(transform(col("ds"), x =>
            transform(col("ds"), y => struct(x.as("a"), y.as("b"))))))
            .as("e"))
          .select(col("e.a"), col("e.b"))
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(perDoc)
            .select(col("doc_id").as("a"), col("n_fp").as("n_a")), Seq("a"))
          .join(broadcast(perDoc)
            .select(col("doc_id").as("b"), col("n_fp").as("n_b")), Seq("b"))
          .withColumn("overlap_ppm",
            expr("n_shared * 1000000 div least(n_a, n_b)"))
          .select(col("a"), col("b"), col("n_shared"), col("n_a"),
            col("n_b"), col("overlap_ppm"))
          .orderBy(col("n_shared").desc, col("a"), col("b"))
          .limit(20)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents WHERE len(string_split(text, ' ')) >= 6),
             |th AS (SELECT doc_id, list_transform(ws, w ->
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(string_split(w, ''),
             |        c -> CAST(ascii(c) AS BIGINT))),
             |      (h, c) -> (h * 31 + c) % 1000000007)) AS th
             |  FROM t),
             |kh AS (SELECT doc_id,
             |    list_transform(range(1, len(th) - 1),
             |      i -> (th[i] * 1009 + th[i+1] * 9176 + th[i+2])
             |           % 1000000007) AS kh
             |  FROM th),
             |fp AS (SELECT doc_id,
             |    unnest(list_distinct(list_transform(
             |      range(1, len(kh) - 2),
             |      j -> list_min(kh[j:j+3])))) AS fp
             |  FROM kh),
             |dfc AS (SELECT fp, count(*) AS dfreq FROM fp GROUP BY fp),
             |rare AS (SELECT f.doc_id, f.fp
             |  FROM fp f JOIN dfc USING (fp) WHERE dfreq <= 50),
             |pd AS (SELECT doc_id, count(*) AS n_fp
             |  FROM fp GROUP BY doc_id),
             |pr AS (SELECT x.doc_id AS a, y.doc_id AS b,
             |    count(*) AS n_shared
             |  FROM rare x JOIN rare y
             |    ON x.fp = y.fp AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2)
             |SELECT a, b, n_shared, pa.n_fp AS n_a, pb.n_fp AS n_b,
             |  n_shared * 1000000 // least(pa.n_fp, pb.n_fp)
             |    AS overlap_ppm
             |FROM pr JOIN pd pa ON pr.a = pa.doc_id
             |  JOIN pd pb ON pr.b = pb.doc_id
             |ORDER BY n_shared DESC, a, b LIMIT 20""".stripMargin))
  )
}
