package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an edge list — the clustering step of a
  * dedup pipeline (SURVEY.md §2b north star): pairwise near-duplicate
  * VERDICTS (q28/q29/q49) become dedup GROUPS ("keep one doc per
  * component") only after a transitive closure. Spark has no native
  * graph operator, so this is iterative min-label propagation in plain
  * DataFrame algebra:
  *
  *   label(v) := min(label(v), min over neighbors u of label(u))
  *
  * repeated until a fixpoint. The edge list is read ONCE (both
  * orientations come from one explode), deduplicated and persisted;
  * the first round folds into initialisation (one aggregation over the
  * edges gives least(v, min neighbor)). Each later round is a join on
  * the edge endpoint + groupBy, materialized by an eager
  * `localCheckpoint`; rounds needed = graph diameter, which for dedup
  * graphs is tiny (near-dup clusters are cliques-ish: a few hops).
  * Convergence rides on the round's own job: an `Observation` of
  * `sum(label)` on the checkpointed frame — labels only ever decrease,
  * so an unchanged sum IS the fixpoint (no row-wise compare join, and
  * no separate probe job per round).
  *
  * Scale notes: at 100 TB the same loop runs with the edge list
  * persisted (it is re-scanned every round) and converges in
  * O(diameter) rounds; for adversarially long path graphs the
  * large-star/small-star variant (Kiveris et al., "Connected
  * Components in MapReduce") bounds rounds at O(log n) — dedup graphs
  * never need it, so the simple propagation is the right default.
  * Labels stay distributed end-to-end; nothing reaches the driver but
  * the observed one-row label sums.
  */
object GraphOps {

  /** Per-vertex component labels for the graph given by `edges`
    * (columns `srcCol`, `dstCol`, treated as undirected; isolated
    * vertices don't appear). Output: (`id`, `component`) where
    * `component` is the smallest vertex id reachable from `id`.
    * `edges` is evaluated once, however many rounds run.
    *
    * @param maxIter safety bound on propagation rounds (the folded
    *                initial round counts as round 1); the loop exits
    *                early at the fixpoint. An unconverged exit (graph
    *                diameter > maxIter) throws rather than returning
    *                silently-partial components.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // Undirected: keep both directions so one join per round sees every
    // neighbor. One read of `edges` yields both orientations (a union of
    // two projections would evaluate the caller's lineage twice).
    // Persisted — re-scanned every round.
    val sym = edges
      .select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // localCheckpoint (not just persist): each round's frame is
      // DERIVED from the previous round's, so the logical plan deepens
      // per iteration and analysis/optimization time grows with it —
      // by round 20 planning dwarfs execution. Checkpointing cuts the
      // lineage so every round plans against a materialized leaf. (On
      // a real cluster with executor loss concerns, `checkpoint` to a
      // reliable store instead; same shape.) Each checkpoint's job also
      // delivers the round's observed label sum.
      //
      // Round 1, folded into initialisation: a vertex's first label is
      // least(itself, its smallest neighbor), one aggregation over
      // `sym` (every vertex is a `src` there, since `sym` is symmetric).
      val init = new Observation()
      var labels = sym.groupBy(col("src")).agg(min(col("dst")).as("nmin"))
        .select(col("src").as("id"),
          least(col("src"), col("nmin")).as("component"))
        .observe(init, sum(col("component")).as("s"),
          sum(col("id")).as("ids"))
        .localCheckpoint(true)
      // Empty graph: sum() over zero rows is NULL — return the empty
      // label frame (valid input: a corpus with zero near-dup pairs
      // has no edges).
      val sums0 = init.get
      if (sums0("s") == null) return labels
      // Labels are monotonically non-increasing, so the label sum is a
      // strictly decreasing convergence measure until the fixpoint.
      // Round 1 moved no label iff its sum still equals the id sum.
      var prevSum = sums0("s").asInstanceOf[Long]
      var converged = prevSum == sums0("ids").asInstanceOf[Long]
      var iter = 1
      while (!converged && iter < maxIter) {
        val neighborMin = sym
          .join(labels, sym("dst") === labels("id"))
          .groupBy(col("src"))
          .agg(min(col("component")).as("nmin"))
        val round = new Observation()
        val next = labels
          .join(neighborMin, labels("id") === neighborMin("src"), "left")
          .select(col("id"),
            least(col("component"), coalesce(col("nmin"), col("component")))
              .as("component"))
          .observe(round, sum(col("component")).as("s"))
          .localCheckpoint(true)
        val s = round.get("s").asInstanceOf[Long]
        // No explicit unpersist: a localCheckpoint's storage is the
        // checkpointed RDD's cached blocks, which Dataset.unpersist
        // does NOT free (it only drops CacheManager plan entries); the
        // ContextCleaner reclaims each round's blocks once the dropped
        // frame is GC'd. Per-round state is just (id, component) pairs
        // — small relative to the edge list. At reliable-checkpoint
        // scale, delete prior checkpoint files per round instead.
        labels = next
        converged = s == prevSum
        prevSum = s
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds " +
            "(graph diameter exceeds the bound) — raise maxIter")
      labels
    } finally sym.unpersist()
  }

  /** Per-node triangle counts via the DEGREE-ORIENTED wedge join
    * (Cohen / Suri-Vassilvitskii): each undirected edge is directed
    * from its lower-(degree, id) endpoint, so out-degrees are bounded
    * by O(sqrt(m)) and no hub fans a quadratic wedge set — the skew
    * failure of id-ordered orientation at scale. Wedges form between a
    * node's out-neighbors (ordered by the same (deg, id) total order)
    * and the closing edge is probed in canonical orientation — all
    * equi-joins; an OR-form probe would plan a nested loop.
    *
    * Input: undirected simple edges (`srcCol`, `dstCol`), one row per
    * edge in either orientation; self-loops and duplicate rows must be
    * removed by the caller. Output: ((`id`, `n_triangles`) for nodes
    * in at least one triangle, the PERSISTED oriented edge list) —
    * the lshVerifiedPairs convention: the result plan reads the
    * oriented cache three times, so the CALLER owns its lifetime and
    * unpersists after the result executes (instead of being forced to
    * clear the session cache globally).
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, DataFrame) = {
    // The input is consumed three times below (two degree sides + the
    // orientation join); without this persist every consumer re-runs
    // the caller's whole edge-derivation lineage — a 10-scan plan in
    // the q114 case. Released eagerly once `oriented` materializes.
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // The deg table is node-sized — broadcast here; a graph whose node
    // table outgrows broadcast shuffles these joins on a/b instead.
    val oriented = e
      .join(broadcast(deg).withColumnRenamed("v", "a")
        .withColumnRenamed("deg", "da"), "a")
      .join(broadcast(deg).withColumnRenamed("v", "b")
        .withColumnRenamed("deg", "db"), "b")
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"),
            col("da").as("dv")))
          .as("e"))
      .select(col("e.u"), col("e.v"), col("e.dv"))
      // Persisted, NOT unpersisted here: the returned (lazy) plan
      // reads it three times (both wedge sides + the closing probe);
      // an eager unpersist would drop the cache before execution. The
      // handle is returned so the caller can unpersist it after the
      // result executes.
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Materialize now (one edge-list pass, the CC-loop eager idiom) so
    // the input cache can be dropped before this function returns —
    // callers hold only the `oriented` handle.
    oriented.count()
    e.unpersist()
    val tri = oriented.as("x")
      .join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          (col("x.dv") < col("y.dv") ||
            (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
      .select(col("x.u").as("n1"), col("x.v").as("n2"), col("y.v").as("n3"))
      .join(oriented.select(col("u").as("n2"), col("v").as("n3")),
        Seq("n2", "n3"))
    (tri.select(explode(array(col("n1"), col("n2"), col("n3"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles")),
      oriented)
  }

  /** Root + depth for every node of a FOREST (parent pointers; a root
    * points to itself) via POINTER JUMPING: each round replaces every
    * node's pointer with its pointer's pointer and adds the traversed
    * distance — path lengths halve, so convergence takes
    * ⌈log₂ depth⌉ rounds (a naive parent-walk is `depth` rounds: at a
    * 1e6-deep chain that is 20 joins here vs a million there). One
    * self equi-join per round on the (node, ptr, dist) state, eagerly
    * `localCheckpoint`ed (the CC-loop idiom — the plan would otherwise
    * double per round); the convergence probe is a 1-row aggregate
    * (scalar, the GraphOps license). Hard-fails past `maxIter` rather
    * than returning partial depths — a cycle in the "forest" would
    * otherwise spin silently.
    *
    * Input: one row per node (`idCol`, `parentCol`). Output:
    * (`id`, `root`, `depth`).
    *
    * `validate = false` skips the up-front dangling-pointer pass (one
    * eager anti-join job over `nodes`) for callers that already
    * guarantee referential integrity — e.g. a parent column built by a
    * prior join against the id set. Leave it on anywhere the input is
    * external: a dangling pointer silently drops its whole subtree. */
  def pointerJumpDepths(nodes: DataFrame, idCol: String, parentCol: String,
      maxIter: Int = 40, validate: Boolean = true): DataFrame = {
    // Malformed-forest guard: a parent value with no matching node row
    // (dangling pointer) would silently DROP its subtree through the
    // per-round inner self-join below — the same silent-loss class the
    // cycle check hard-fails on. Validate once up front (one anti-join)
    // rather than per round: every parent must exist as an id.
    if (validate) {
      val dangling = nodes
        .select(col(parentCol).as("ptr"))
        .join(nodes.select(col(idCol).as("id")),
          col("ptr") === col("id"), "left_anti")
        .limit(1).count()
      require(dangling == 0L,
        s"pointerJumpDepths: some $parentCol values name no $idCol row — " +
          "dangling pointers would be dropped silently; fix the input")
    }
    var state = nodes
      .select(col(idCol).as("id"), col(parentCol).as("ptr"))
      .withColumn("dist", when(col("ptr") === col("id"), 0L).otherwise(1L))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = state.as("s")
        .join(state.select(col("id").as("jid"), col("ptr").as("jptr"),
          col("dist").as("jdist")).as("t"), col("s.ptr") === col("jid"))
        .select(col("s.id").as("id"), col("jptr").as("ptr"),
          (col("s.dist") + col("jdist")).as("dist"),
          (col("jptr") =!= col("s.ptr")).as("moved"))
        .localCheckpoint()
      // Converged when no pointer moved this round (every ptr is a
      // root, whose self-jump adds dist 0 and keeps ptr fixed).
      val moved = next.filter(col("moved")).limit(1).count()
      state = next.drop("moved")
      converged = moved == 0L
      iter += 1
    }
    require(converged,
      s"pointerJumpDepths did not converge in $maxIter rounds — the " +
        "parent relation has a cycle or a depth beyond 2^" + maxIter)
    // Convergence alone does not prove validity: an EVEN-length cycle
    // maps each member onto itself in one round (ptr == id, moved
    // false) and would "converge" to garbage roots. A correct result
    // has every final pointer on a true root (parent == id in the
    // input); anything else is a cycle — fail loudly.
    val roots = nodes
      .filter(col(parentCol) === col(idCol))
      .select(col(idCol).as("r"))
    val nonRoot = state
      .join(roots, col("ptr") === col("r"), "left_anti")
      .limit(1).count()
    require(nonRoot == 0L,
      "pointerJumpDepths: some pointers converged onto non-roots — " +
        "the parent relation contains a cycle")
    state.select(col("id"), col("ptr").as("root"),
      col("dist").as("depth"))
  }
}
