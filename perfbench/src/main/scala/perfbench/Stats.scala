package perfbench

/** A growable buffer of long samples (nanoseconds, counts). Not
  * thread-safe: each thread keeps its own and they are merged after
  * the threads have joined. */
final class Samples {
  private var buf = new Array[Long](1024)
  private var n = 0

  def add(v: Long): Unit = {
    if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
    buf(n) = v
    n += 1
  }
  def addAll(o: Samples): Unit = { var i = 0; while (i < o.n) { add(o.buf(i)); i += 1 } }
  def size: Int = n
  def toArray: Array[Long] = java.util.Arrays.copyOf(buf, n)
}

/** Timings with the instant each was taken, so that the tail can be
  * taken slice by slice over the timed window. */
final class Timed {
  val at = new Samples
  val v = new Samples
  def add(atNs: Long, value: Long): Unit = { at.add(atNs); v.add(value) }
  def addAll(o: Timed): Unit = { at.addAll(o.at); v.addAll(o.v) }
}

/** Percentiles by nearest rank over an exact sort of every sample. */
object Stats {

  /** The smallest sample with at least `q·n` samples at or below it. */
  def percentile(xs: Array[Long], q: Double): Long = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"quantile out of (0, 1]: $q")
    val s = xs.clone()
    java.util.Arrays.sort(s)
    s(rank(s.length, q))
  }

  /** Zero-based nearest-rank index; the epsilon keeps `0.99·100`, which
    * is 99.00000000000001 in binary floating point, at rank 99. */
  def rank(n: Int, q: Double): Int =
    math.min(n - 1, math.max(0, math.ceil(q * n - 1e-9).toInt - 1))

  /** The tail quantile a sample of `n` supports: the highest one with at
    * least ten samples beyond it, capped at 0.99 and floored at the
    * median. */
  def tailQuantile(n: Int): Double =
    if (n <= 20) 0.5 else math.min(0.99, 1.0 - 10.0 / n)

  def median(xs: Array[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** A timing summary: median and supported tail, in the samples' unit. */
final case class Dist(n: Int, p50: Long, tail: Long, tailQ: Double)

object Dist {
  val Slices = 5

  /** The median over all samples, and as the tail the median of the
    * tails of `Slices` equal slices of the window: one stalled slice
    * then moves the tail no more than one stalled second moves the
    * throughput. Falls back to the whole window's tail when a slice has
    * fewer than 20 samples. */
  def sliced(t: Timed, startNs: Long, seconds: Double): Dist = {
    val whole = of(t.v)
    val sliceNs = (seconds * 1e9 / Slices).toLong
    val ats = t.at.toArray; val vs = t.v.toArray
    val bySlice = Array.fill(Slices)(new Samples)
    var i = 0
    while (i < vs.length) {
      val k = ((ats(i) - startNs) / sliceNs).toInt
      if (k >= 0 && k < Slices) bySlice(k).add(vs(i))
      i += 1
    }
    if (bySlice.exists(_.size < 20)) whole
    else {
      val tails = bySlice.map(s => of(s))
      whole.copy(tail = Stats.median(tails.map(_.tail.toDouble)).toLong,
        tailQ = Stats.median(tails.map(_.tailQ)))
    }
  }

  def of(s: Samples): Dist = of(s.toArray)
  def of(xs: Array[Long]): Dist =
    if (xs.isEmpty) Dist(0, 0L, 0L, 0.0)
    else {
      val q = Stats.tailQuantile(xs.length)
      Dist(xs.length, Stats.percentile(xs, 0.5), Stats.percentile(xs, q), q)
    }
}
