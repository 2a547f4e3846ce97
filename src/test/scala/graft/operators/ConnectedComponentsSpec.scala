package graft.operators

/** Shapes the planted near-dup data never exercises: deep chains,
  * cycles, multi-component graphs, the non-convergence guard. */
class ConnectedComponentsSpec extends graft.streaming.SparkTestBase {

  private def cc(pairs: Seq[(Long, Long)], maxIters: Int = 50): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    ConnectedComponents.run(pairs.toDF("a", "b"), "a", "b", maxIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("deep chain collapses to the minimum id") {
    // path 100-99-…-70: eccentricity 30, well past the shallow-pair regime
    val chain = (70L until 100L).map(i => (i, i + 1))
    val labels = cc(chain)
    assert(labels.keySet == (70L to 100L).toSet)
    assert(labels.values.toSet == Set(70L), s"chain must collapse to 70: $labels")
  }

  test("128-node path converges within 2*log2(n) rounds") {
    // The O(log n) contraction contract: a path graph is the worst case
    // for diameter-bound algorithms (min-label propagation would need
    // ~128 rounds). maxIters IS the assertion — big/small-star must
    // reach the fixpoint within 2*log2(128) = 14 rounds or run() throws.
    val n = 128
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1))
    val labels = cc(chain, maxIters = 2 * 7)
    assert(labels.keySet == (0L until n.toLong).toSet)
    assert(labels.values.toSet == Set(0L), "path must collapse to node 0")
  }

  test("cycles, multiple components, and id order independence") {
    val labels = cc(Seq(
      (5L, 3L), (3L, 9L), (9L, 5L),   // cycle, min 3
      (20L, 21L),                     // pair
      (31L, 30L)))                    // reversed pair
    assert(labels == Map(
      5L -> 3L, 3L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("empty edge list yields empty labels (converged immediately)") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("self-loops carry no connectivity (documented contract)") {
    // (7,7) is dropped; a vertex with ONLY self-loops is omitted, one
    // with real edges is labeled normally.
    val labels = cc(Seq((7L, 7L), (1L, 2L), (2L, 2L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L))
  }

  test("checkpoint mode (default): spent rounds are reclaimable, nothing stays pinned") {
    // The production path's documented contract is weaker than eager
    // unpersist: spent rounds' checkpoint blocks are reclaimed by the
    // ContextCleaner once their references are GC'd (the operator never
    // creates a CacheManager entry, which would pin them forever). An
    // immediate count is GC-timing-dependent BY DESIGN — in a warm JVM
    // all ~8 round RDDs are still registered right after run() returns —
    // so the test asserts the reclaim actually happens: force GC and
    // poll until only the held result (+slack) remains.
    val s = spark
    import s.implicits._
    val before = s.sparkContext.getPersistentRDDs.keySet
    val chain = (0L until 127L).map(i => (i, i + 1))
    val labels = ConnectedComponents.run(chain.toDF("a", "b"), "a", "b", 50)
    assert(labels.count() == 128)
    val deadline = System.currentTimeMillis() + 30000
    var extra = Int.MaxValue
    while (extra > 2 && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(200)
      extra = (s.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    // `labels` is still referenced (its own checkpoint blocks stay); the
    // ~8 spent rounds must be gone.
    assert(extra <= 2,
      s"$extra checkpointed RDDs still registered after GC + 30s — spent rounds are pinned")
  }

  test("random graphs match a union-find reference model") {
    // Deterministic seeds; shapes chosen to stress the contraction:
    // sparse (forest-ish), dense (few big components), and chain-heavy.
    val rnd = new scala.util.Random(20260812L)
    for ((nVerts, nEdges) <- Seq((40, 25), (30, 60), (80, 50))) {
      val pairs = Seq.fill(nEdges) {
        (rnd.nextInt(nVerts).toLong, rnd.nextInt(nVerts).toLong)
      }.filter { case (a, b) => a != b }
      val expected = unionFind(pairs)
      assert(cc(pairs) == expected, s"graph ($nVerts, $nEdges) diverged")
    }
  }

  /** Reference model: path-compressed union-find, min id as root. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("fails loudly instead of emitting a truncated fixpoint") {
    val chain = (0L until 30L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] { cc(chain, maxIters = 3) }
    assert(e.getMessage.contains("did not converge"))
  }
}
