package perfbench

/** Seeded choice of a run's catalog queries and their order. */
object Sampler {

  private val Tol = 0.03
  private val MaxDraws = 100000

  /** Balanced stratified sample. `list` holds each query with its frozen
    * reference cost in cost order. It is cut into `n` consecutive strata
    * and the seed picks one query from each; a pick is kept only if its
    * total, median and p90 reference cost are each within `Tol` of those of
    * the strata means, else the seed draws again. The median and p90 are
    * taken as the run reports them: with `Stats.quantile`, over the costs
    * repeated once per timed pass (`reps`). Every run thus gets nearly the same
    * amount and mix of work, which keeps the seed-to-seed spread of the
    * timings small, while the seed still varies which queries run and in
    * what order. The reference costs are frozen with the list, so a
    * change to the program never changes which queries a seed picks. */
  def sample(list: IndexedSeq[(String, Double)], n: Int, reps: Int,
      seed: Long): IndexedSeq[String] = {
    require(n >= 1 && n <= list.size, s"sample of $n from ${list.size}")
    val strata = (0 until n).map { i =>
      ((i.toLong * list.size / n).toInt, ((i + 1).toLong * list.size / n).toInt)
    }
    def shape(costs: Seq[Double]) = {
      val ops = Seq.fill(reps)(costs).flatten
      Seq(costs.sum, Stats.quantile(ops, 0.5), Stats.quantile(ops, 0.9))
    }
    val target = shape(strata.map { case (lo, hi) =>
      list.slice(lo, hi).map(_._2).sum / (hi - lo)
    })
    def miss(picks: Seq[(String, Double)]) =
      shape(picks.map(_._2)).zip(target)
        .map { case (x, t) => if (t > 0) math.abs(x - t) / t else 0.0 }.max
    val rnd = new java.util.Random(seed)
    def draw() = strata.map { case (lo, hi) => list(lo + rnd.nextInt(hi - lo)) }
    var best = draw()
    var draws = 1
    while (miss(best) > Tol && draws < MaxDraws) {
      val next = draw()
      if (miss(next) < miss(best)) best = next
      draws += 1
    }
    shuffle(best.map(_._1), rnd)
  }

  def shuffle[T](xs: IndexedSeq[T], rnd: java.util.Random): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}
