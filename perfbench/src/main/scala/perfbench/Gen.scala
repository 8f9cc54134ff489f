package perfbench

import java.util.SplittableRandom

/** Seeded, clustered 64-d vectors. Every vector is a pure function of
  * (seed, id), so executors generate the store and the driver can rebuild
  * any vector to check a result exactly.
  *
  * The cluster layout is the same for every seed: where clusters fall on
  * the grid decides how far a kNN search widens, and a layout drawn per
  * seed made the cost of a run depend on the seed more than on the code.
  * The seed draws each point's cluster, offset and label. */
final class Gen(seed: Long) extends Serializable {
  import Gen._

  /** Cluster centres span the grid's first three (indexed) dimensions, so
    * clusters fall into different cells. */
  val centers: Array[Array[Float]] = {
    val r = new SplittableRandom(mix(LayoutSeed, -1L))
    Array.fill(Clusters)(Array.fill(Dim)((r.nextDouble() * 1.5 - 0.75).toFloat))
  }

  def vector(id: Long): Array[Float] = near(mix(seed, id))

  /** A point of a seeded cluster: the same shape as a stored vector. */
  def near(stream: Long): Array[Float] = {
    val r = new SplittableRandom(stream)
    around(r.nextInt(Clusters), r)
  }

  /** A point of the given cluster, offset by `r`. */
  def around(cluster: Int, r: SplittableRandom): Array[Float] = {
    val c = centers(cluster)
    val v = new Array[Float](Dim)
    var i = 0
    while (i < Dim) { v(i) = (c(i) + r.nextGaussian() * Sigma).toFloat; i += 1 }
    v
  }

  def label(id: Long): Int = new SplittableRandom(mix(seed ^ 0x51ed27L, id)).nextInt(Labels)
}

object Gen {
  val Dim = 64
  val LayoutSeed = 0x5eedL
  val Clusters = 48
  val Labels = 10
  /** Per-dimension spread around a centre. */
  val Sigma = 0.05

  /** SplitMix64 finaliser over (seed, id). */
  def mix(seed: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def sqL2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }
}
