package graft.queries

import org.apache.spark.sql.functions._

/** The r14 IVF scale contract (AnnContractSpec pattern): the index's
  * root parameters are bounded by CONSTANTS, never by corpus size.
  *
  *  - seed rule: K = ceil(N/stride), stride = ceil(N/IvfKCap) — so the
  *    centroid broadcast is ≤ IvfKCap rows for EVERY corpus size (the
  *    r13 `vec_id % 47` rule grew K linearly with N);
  *  - pair pass: a group larger than MaxCellPairs emits no pairs (the
  *    d03 MaxBucket discipline), bounding the s10/s16/s20/s21 shared
  *    quadratic term at (K·K₂)·MaxCellPairs² regardless of N;
  *  - hierarchical split (r15): an over-cap CELL is split by a
  *    second-level in-cell quantizer before the pass, so its pairs are
  *    covered rather than skipped — the skip remains only as the
  *    backstop for groups one split level cannot bound.
  */
class IvfContractSpec extends graft.streaming.SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  import SimilarityQueries._

  /** Dense synthetic corpus (vec_id 0..n-1) with non-degenerate 2-dim
    * unit-scale vectors — enough structure for seeds and pair cells. */
  private def synthVecs(n: Int) = {
    graft.functions.GraftFunctions.register(spark)
    spark.range(n.toLong).select(
      col("id").as("vec_id"),
      array(lit(1.0f), ((col("id") % 7) - 3).cast("float").as("y")).as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
  }

  /** Same shape over an explicit (possibly sparse/offset) id set. */
  private def synthVecsIds(ids: Seq[Long]) = {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    ids.toDF("vec_id").select(
      col("vec_id"),
      array(lit(1.0f), ((col("vec_id") % 7) - 3).cast("float").as("y")).as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
  }

  test("seed cap holds on sparse, offset, parity-skewed, and singleton id sets") {
    // The id-range stride rule's whole point (r14 review): a
    // count-based stride over raw ids can overshoot the broadcast
    // bound on sparse ids, or select ZERO seeds on parity-skewed ones
    // — K must stay in [1, IvfKCap] for ANY distinct id set.
    val cases: Seq[(String, Seq[Long])] = Seq(
      ("sparse+offset", (0L until 1000L).map(_ * 997 + 13)),
      ("all-odd", (0L until 500L).map(_ * 2 + 1)),
      ("singleton", Seq(42L)),
      ("quadratic gaps", (0L until 2000L).map(i => i * i)))
    for ((labelTxt, ids) <- cases) {
      val e = synthVecsIds(ids)
      val k = ivfSeeds(e).count()
      assert(k >= 1 && k <= IvfKCap,
        s"$labelTxt: K=$k outside [1, $IvfKCap]")
      val pq = pqSeeds(e).count()
      assert(pq >= PqM && pq <= PqM.toLong * PqKCap,
        s"$labelTxt: PQ seed rows $pq outside [PqM, PqM*cap]")
    }
  }

  test("seed count is ceil(N/stride) and <= IvfKCap across two decades of N") {
    for (n <- Seq(10, 100, 640, 1000, 5000, 20000)) {
      val k = ivfSeeds(synthVecs(n)).count()
      val stride = math.max(1L, (n + IvfKCap - 1L) / IvfKCap)
      val expected = (n + stride - 1) / stride
      assert(k == expected, s"N=$n: seed count $k != ceil(N/stride) $expected")
      assert(k <= IvfKCap, s"N=$n: K=$k exceeds the IvfKCap=$IvfKCap broadcast bound")
      assert(k > 0, s"N=$n produced an empty index")
    }
  }

  test("PQ seed codebooks stay <= PqM * PqKCap rows across two decades of N") {
    for (n <- Seq(10, 640, 5000, 20000)) {
      val rows = pqSeeds(synthVecs(n)).count()
      val stride = math.max(1L, (n + PqKCap - 1L) / PqKCap)
      val k = (n + stride - 1) / stride
      assert(k <= PqKCap, s"N=$n: k=$k exceeds PqKCap=$PqKCap")
      assert(rows == PqM.toLong * k,
        s"N=$n: seed codebook rows $rows != PqM*k = $PqM*$k")
    }
  }

  test("real corpus: the fitted centroid broadcast obeys the same cap") {
    val k = ivfCentroids(spark, sf).count()
    assert(k > 0 && k <= IvfKCap,
      s"fitted centroid count $k outside (0, $IvfKCap]")
  }

  test("an over-cap cell emits NO pairs; bounded cells emit exactly |c|*(|c|-1)") {
    graft.functions.GraftFunctions.register(spark)
    val big = MaxCellPairs + 1 // one vector over the pair-pass cap
    val small = 5L
    val cells = spark.range(big + small).select(
      col("id").as("vec_id"),
      array(lit(1.0f), (col("id") % 3).cast("float")).as("v"),
      when(col("id") < big, lit(0L)).otherwise(lit(1L)).as("cell"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val pairs = cappedCellPairs(cells)
    assert(pairs.filter(col("cell") === 0L).count() == 0,
      s"cell of ${big} members (> MaxCellPairs=$MaxCellPairs) leaked pairs")
    assert(pairs.filter(col("cell") === 1L).count() == small * (small - 1),
      "bounded cell lost directed pairs under the cap")
  }

  test("over-cap cell SPLITS: sub-cells emit pairs, residual over-cap canary reads 0 (r15)") {
    // The r14 verdict's recall cliff, closed: an over-cap cell used to
    // drop out of the pair passes entirely; the second-level quantizer
    // now splits it so its pairs are covered. Fixture: one cell one
    // vector over the cap (previously: zero pairs) + one bounded cell.
    graft.functions.GraftFunctions.register(spark)
    val big = MaxCellPairs + 1
    val small = 5L
    val cells = spark.range(big + small).select(
      col("id").as("vec_id"),
      array(lit(1.0f), (col("id") % 7 - 3).cast("float")).as("v"),
      when(col("id") < big, lit(0L)).otherwise(lit(1L)).as("cell"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val refined = refineCells(cells)
    // the bounded cell is untouched (sub = -1); the over-cap cell split
    val untouched = refined.filter(col("cell") === 1L)
      .select(col("sub")).distinct().collect().map(_.getLong(0)).toSeq
    assert(untouched == Seq(-1L), s"bounded cell must not split, got subs $untouched")
    val nSubs = refined.filter(col("cell") === 0L)
      .select(col("sub")).distinct().count()
    assert(nSubs >= 2, s"over-cap cell must split into >= 2 sub-cells, got $nSubs")
    assert(refined.filter(col("cell") === 0L && col("sub") === -1L).count() == 0,
      "every vector of a split cell must carry a sub-cell id")
    // residual canary (the s18 columns' new source): no refined group
    // is still over cap on this fixture — the split REMEDIES, the skip
    // is only the backstop
    val residual = refined.groupBy(col("cell"), col("sub"))
      .agg(count(lit(1)).as("rc")).filter(col("rc") > MaxCellPairs).count()
    assert(residual == 0, s"$residual refined groups still over cap after one split level")
    // and the previously-lost cell now EMITS pairs through the pass
    val pairs = cappedCellPairs(
      cells.drop("cell").join(refined, "vec_id"), keys = Seq("cell", "sub"))
    val bigPairs = pairs.filter(col("cell") === 0L).count()
    assert(bigPairs > 0, "split cell emitted no pairs — coverage still lost")
    assert(pairs.filter(col("cell") === 1L).count() == small * (small - 1),
      "bounded cell's pairs changed under the split path")
    // coverage is per-sub-group: pair count == sum over refined groups
    val expected = refined.groupBy(col("cell"), col("sub"))
      .agg(count(lit(1)).as("rc")).collect()
      .map(r => { val c = r.getLong(2); c * (c - 1) }).sum
    assert(pairs.count() == expected,
      "pair count must tile the refined groups exactly")
  }

  test("no-split regime: refine is the identity and the keyed pass matches the unkeyed pass") {
    graft.functions.GraftFunctions.register(spark)
    val cells = spark.range(40).select(
      col("id").as("vec_id"),
      array(lit(1.0f), (col("id") % 7 - 3).cast("float")).as("v"),
      (col("id") % 4).as("cell"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val refined = refineCells(cells)
    assert(refined.filter(col("sub") =!= -1L).count() == 0,
      "bounded cells must never split")
    val keyed = cappedCellPairs(cells.drop("cell").join(refined, "vec_id"),
      keys = Seq("cell", "sub"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = cappedCellPairs(cells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(keyed == plain, "keyed pass must equal the unkeyed pass when nothing splits")
  }

  test("real corpus: refinement is the identity (no cell over cap at test SF)") {
    // This identity is what keeps every Duck twin's unsplit-regime pair
    // rule value-exact at the gate SFs.
    val refined = refinedCells(spark, sf)
    assert(refined.filter(col("sub") =!= -1L).count() == 0,
      "a test-SF cell split — the oracle unsplit-regime assumption broke")
    assert(refined.count() == ivfAssigned(spark, sf).count())
  }

  test("real corpus: every pair-pass cell is within cap; count matches sum |c|*(|c|-1)") {
    val sizes = vecs(spark, sf).join(ivfAssigned(spark, sf), "vec_id")
      .groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(1))
    val expected = sizes.filter(_ <= MaxCellPairs).map(c => c * (c - 1)).sum
    val got = cellPairs(spark, sf).count()
    assert(got == expected,
      s"cellPairs count $got != capped-cell bound $expected")
    assert(got <= IvfKCap.toLong * MaxCellPairs * MaxCellPairs,
      "pair pass exceeded the K*cap^2 worst case")
  }

  test("adcSum raises on a group that duplicates one subspace and misses another") {
    import spark.implicits._
    // (q, c) = (1, 1) is complete; (1, 2) has PqM rows, but sub 1 twice
    // and no sub 2 — a row-count guard passes it with a NULL adc that
    // would rank first.
    val complete = (0 until PqM).map(i => (1L, 1L, i, i + 1.0))
    val adc = adcSum(complete.toDF("q_id", "c_id", "sub", "pd"), Seq("q_id", "c_id"))
    assert(adc.collect().map(r => r.getDouble(2)).toSeq == Seq((1 to PqM).sum.toDouble))
    val skewed = (0 until PqM).map(i => (1L, 2L, if (i == 2) 1 else i, 0.5))
    val e = intercept[Exception] {
      adcSum((complete ++ skewed).toDF("q_id", "c_id", "sub", "pd"), Seq("q_id", "c_id"))
        .orderBy(col("adc")).collect()
    }
    assert(e.getMessage.contains("incomplete ADC group"), e.getMessage)
  }
}
