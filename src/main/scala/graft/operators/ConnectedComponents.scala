package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed connected components by alternating big-star/small-star
  * contraction — the clustering step of near-dup dedup (d07) as a
  * reusable operator.
  *
  * Each round applies two edge rewrites (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14):
  *
  *  - '''large-star''': every node links its LARGER neighbors to the
  *    minimum of its neighborhood (including itself);
  *  - '''small-star''': every node links its smaller neighbors (and
  *    itself) to the minimum of those.
  *
  * The fixpoint is a forest of stars, each rooted at its component's
  * minimum id. Convergence takes O(log n) rounds regardless of
  * component diameter — a 1024-node path contracts in 11 rounds where
  * min-label propagation (this operator's previous incarnation) needed
  * ~1024: on 100 TB corpora, boilerplate families form exactly such
  * deep similarity chains, and rounds are shuffles.
  *
  * Both rewrites compute the per-neighborhood minimum with a window
  * over the grouping node, not a groupBy+join-back: one shuffle per
  * rewrite, a spillable row buffer for skewed neighborhoods (the same
  * hot-key argument as the LSH bucket cap), and the edge set is
  * scanned once per rewrite.
  *
  * Convergence is detected by a (count, sum(src), sum(dst)) checksum
  * over the edge set, collected via `Dataset.observe` DURING the job
  * that materializes each round's cache — one scheduler job per round,
  * not a materialize job plus a checksum job. Sums are
  * DECIMAL(38,0) so huge id spaces cannot wrap; a NULL sum alongside a
  * non-zero count (decimal overflow under non-ANSI SQL) throws rather
  * than risking a silent false fixpoint. On checksum convergence the
  * star shape itself is verified (no node may be both a child and a
  * parent) so even an astronomically unlikely checksum collision fails
  * loudly instead of emitting wrong labels.
  *
  * Each round's edge set is materialized by `localCheckpoint(eager =
  * true)`: one eager job per round, storing the BINARY InternalRow
  * format the next round rescans directly. The alternative —
  * `persist` + `createDataFrame(df.rdd, schema)` lineage re-wrap —
  * measured 25-33% slower on 1M-edge deep-path graphs (local[32],
  * 2000 paths × 512 nodes: the re-wrap converts every cached row
  * InternalRow→Row on read and back on write, every round). The cost
  * of checkpoint mode: spent rounds' blocks are reclaimed by the
  * ContextCleaner after their references are GC'd rather than
  * unpersisted eagerly, so transient block-manager occupancy can
  * exceed two edge-set copies between GCs (blocks spill to disk under
  * pressure — MEMORY_AND_DISK — they do not evict). Nothing outlives
  * the call's references: no CacheManager entry is ever created, so a
  * long-lived session invoking the operator repeatedly accumulates
  * nothing pinned.
  */
object ConnectedComponents {

  /** Large-star: for each node u with symmetric neighborhood N(u) and
    * m = min(N(u) ∪ {u}), emit (v, m) for every v ∈ N(u), v > u. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    sym
      .withColumn("m", least(col("src"), min(col("dst"))
        .over(Window.partitionBy(col("src")))))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
    // no distinct here: the min-window is duplicate-insensitive and
    // small-star ends the round with one — saves a shuffle per round
  }

  /** Small-star: orient each edge toward its larger endpoint; for each
    * node b with smaller-neighbor set N(b) and m = min(N(b)), emit
    * (v, m) for every v ∈ N(b) ∪ {b}, v ≠ m. */
  private def smallStar(edges: DataFrame): DataFrame =
    edges
      .select(greatest(col("src"), col("dst")).as("b"),
        least(col("src"), col("dst")).as("s"))
      .withColumn("m", min(col("s")).over(Window.partitionBy(col("b"))))
      .select(explode(array(
        struct(col("b").as("src"), col("m").as("dst")),
        struct(col("s").as("src"), col("m").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** @param pairs undirected edges as two numeric-id columns.
    *        Self-loops (a,a) carry no connectivity and are dropped: a
    *        vertex appearing ONLY in self-loops is omitted from the
    *        output rather than labeled with itself — labeling it would
    *        cost an extra pass over the (possibly huge) input edge list
    *        solely to re-discover isolated ids the caller already has.
    * @return (doc, cluster): every vertex of a real edge labeled with
    *         its component's minimum id (the canonical survivor) */
  def run(pairs: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 50): DataFrame = {
    var edges = pairs
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(eager = true)
    var prev: (Long, java.math.BigDecimal, java.math.BigDecimal) = null
    var iter = 0
    // No upfront emptiness probe: a nonempty edge set always contracts
    // to a nonempty one (the component-minimum edge survives every
    // rewrite), so the first round's observed count doubles as the
    // empty-input check — one scheduler job saved per clustering.
    var done = false
    while (!done && iter < maxIters) {
      // The convergence checksum rides the SAME job that materializes
      // the round: CollectMetrics evaluates while the checkpoint is
      // built, so each round costs one scheduler job where it
      // previously cost two (materialize + separate agg).
      val obs = Observation()
      val observed = smallStar(largeStar(edges)).observe(obs,
        count(lit(1)).as("cnt"),
        sum(col("src").cast(DecimalType(38, 0))).as("src_sum"),
        sum(col("dst").cast(DecimalType(38, 0))).as("dst_sum"))
      edges = observed.localCheckpoint(eager = true)
      val m = obs.get
      val cnt = m("cnt").asInstanceOf[Long]
      def dec(k: String): java.math.BigDecimal = m.getOrElse(k, null) match {
        case null => null
        case d: java.math.BigDecimal => d
        case d: scala.math.BigDecimal => d.bigDecimal
      }
      val (sSrc, sDst) = (dec("src_sum"), dec("dst_sum"))
      if (cnt > 0 && (sSrc == null || sDst == null))
        throw new IllegalStateException(
          "connected components: DECIMAL(38,0) checksum overflow — " +
          s"NULL sum over $cnt edges; cannot verify convergence")
      done = cnt == 0 || (prev != null && prev._1 == cnt &&
        decEq(prev._2, sSrc) && decEq(prev._3, sDst))
      prev = (cnt, sSrc, sDst)
      iter += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds")
    // Star forest → labels: children carry their root, roots carry
    // themselves. groupBy-min collapses the duplicate root rows.
    // localCheckpoint materializes the (small) label set into RDD
    // blocks, so the result owes nothing to the spent rounds.
    //
    // Fixpoint validation rides the SAME job (a second Observation):
    // a converged edge set must be a forest of stars — no node may be
    // both a child (an edge src) and a parent (an edge dst), and every
    // child must have exactly one parent (a two-parent child like
    // {(x,r1),(x,r2)} has no chain yet still isn't a star). This
    // guards the checksum against collisions; fused here it costs
    // per-group flags inside the label aggregation instead of the
    // separate self-join job it used to run.
    val forest = Observation()
    val labels = edges
      .select(col("src").as("doc"), col("dst").as("cluster"),
        lit(true).as("is_child"))
      .unionByName(edges.select(col("dst").as("doc"), col("dst").as("cluster"),
        lit(false).as("is_child")))
      .groupBy(col("doc"))
      .agg(min(col("cluster")).as("cluster"),
        countDistinct(when(col("is_child"), col("cluster"))).as("n_parents"),
        max(col("is_child")).as("has_child"),
        max(!col("is_child")).as("has_parent"))
      .observe(forest, sum(when(
          (col("has_child") && col("has_parent")) || col("n_parents") > 1,
          1L).otherwise(0L)).as("violations"))
      .select(col("doc"), col("cluster"))
      .localCheckpoint(eager = true)
    val violations = forest.get.getOrElse("violations", null) match {
      case null    => 0L // empty edge set: SUM over zero rows is NULL
      case n: Long => n
    }
    if (violations > 0)
      throw new IllegalStateException(
        "connected components: checksum converged on a non-star edge " +
        "set (checksum collision); refusing to emit wrong labels")
    labels
  }

  private def decEq(a: java.math.BigDecimal, b: java.math.BigDecimal): Boolean =
    (a == null && b == null) || (a != null && b != null && a.compareTo(b) == 0)
}
