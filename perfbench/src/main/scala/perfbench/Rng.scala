package perfbench

/** Seeded randomness. Every generator derives its own stream from the run
  * seed and a fixed label, so adding draws to one generator never shifts
  * another's output. */
final class Rng(seed: Long, label: String) {
  private val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ label.hashCode.toLong)

  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hiInclusive: Int): Int = lo + r.nextInt(hiInclusive - lo + 1)
  def double(): Double = r.nextDouble()
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  /** Fisher–Yates shuffle into a new vector. */
  def shuffle[T](xs: Seq[T]): Vector[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector
  }

  /** `k` distinct elements of `xs`, in draw order. */
  def sample[T](xs: IndexedSeq[T], k: Int): Vector[T] = shuffle(xs).take(k)
}
