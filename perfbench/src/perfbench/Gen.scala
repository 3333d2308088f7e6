package perfbench

/** Counter-based seeded draws: value `i` of stream `seed` is a pure
  * function of both, so every input a run generates follows from its seed. */
object Gen {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform draw in (0, 1). */
  def uniform(seed: Long, i: Long): Double =
    ((mix(mix(seed) + i) >>> 11).toDouble + 0.5) / (1L << 53).toDouble

  /** Uniform integer in [0, n). */
  def below(seed: Long, i: Long, n: Int): Int =
    math.min(n - 1, (uniform(seed, i) * n).toInt)

  /** Standard normal draw (Box-Muller over two uniforms). */
  def gauss(seed: Long, i: Long): Double =
    math.sqrt(-2.0 * math.log(uniform(seed, 2 * i))) *
      math.cos(2.0 * math.Pi * uniform(seed, 2 * i + 1))

  /** Seeded permutation of `0 until n` (Fisher-Yates). */
  def permutation(seed: Long, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    (n - 1 to 1 by -1).foreach { i =>
      val j = below(seed, i, i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
}
