package perfbench

/** An independent, sequential Lloyd loop with the reference's semantics:
  * one reducer summing members in file order, `Math.pow` distances,
  * nearest centroid by strict `<` (ties to the lowest index), empty
  * clusters dropped, and the next iteration seeded positionally from the
  * surviving means. Points are x,y,z triples in one flat array, and so
  * are centroids. */
object SeqLloyd {

  final case class Centroid(id: Int, x: Double, y: Double, z: Double)

  /** @param history   centroids after each iteration
    * @param sizes     member count per centroid index, per iteration, of
    *                  the assignment against that iteration's seeds */
  final case class Run(history: Vector[Seq[Centroid]], sizes: Vector[Array[Long]],
                       iterations: Int, converged: Boolean)

  def nearest(xyz: Array[Double], i: Int, cents: Array[Double]): Int = {
    val px = xyz(3 * i); val py = xyz(3 * i + 1); val pz = xyz(3 * i + 2)
    var best = 0
    var bestD = Double.PositiveInfinity
    var k = 0
    while (k < cents.length / 3) {
      val d = math.sqrt(math.pow(px - cents(3 * k), 2) + math.pow(py - cents(3 * k + 1), 2) +
        math.pow(pz - cents(3 * k + 2), 2))
      if (k == 0 || d < bestD) { best = k; bestD = d }
      k += 1
    }
    best
  }

  /** One iteration: assignment sizes and the new centroids. */
  def step(xyz: Array[Double], cents: Array[Double]): (Array[Long], Seq[Centroid]) = {
    val k = cents.length / 3
    val sx = new Array[Double](k); val sy = new Array[Double](k); val sz = new Array[Double](k)
    val cnt = new Array[Long](k)
    var i = 0
    val n = xyz.length / 3
    while (i < n) {
      val c = nearest(xyz, i, cents)
      sx(c) += xyz(3 * i); sy(c) += xyz(3 * i + 1); sz(c) += xyz(3 * i + 2)
      cnt(c) += 1
      i += 1
    }
    (cnt, (0 until k).filter(cnt(_) > 0).map(c => Centroid(c, sx(c) / cnt(c), sy(c) / cnt(c), sz(c) / cnt(c))))
  }

  def flat(cents: Seq[Centroid]): Array[Double] = cents.flatMap(c => Seq(c.x, c.y, c.z)).toArray

  def displacement(prev: Array[Double], curr: Array[Double]): Double =
    if (prev.length != curr.length) Double.MaxValue
    else (0 until prev.length / 3).map { k =>
      math.sqrt(math.pow(curr(3 * k) - prev(3 * k), 2) + math.pow(curr(3 * k + 1) - prev(3 * k + 1), 2) +
        math.pow(curr(3 * k + 2) - prev(3 * k + 2), 2))
    }.sum

  /** The converge-or-max loop; `threshold = None` runs all `maxIter`. */
  def run(xyz: Array[Double], seeds: Array[Double], maxIter: Int, threshold: Option[Double]): Run = {
    var prev = seeds
    var history = Vector.empty[Seq[Centroid]]
    var sizes = Vector.empty[Array[Long]]
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      val (cnt, cents) = step(xyz, prev)
      history :+= cents
      sizes :+= cnt
      val curr = flat(cents)
      converged = threshold.exists(displacement(prev, curr) < _)
      prev = curr
      i += 1
    }
    Run(history, sizes, i, converged)
  }
}
