package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SamplerSpec extends AnyFunSuite {
  // reference costs with a heavy tail, like the catalog's
  private val list = (0 until 352).map(i => f"q$i%03d" -> (0.1 + math.pow(i / 100.0, 3)))
  private val names = list.map(_._1)

  test("the same seed gives the same sample in the same order") {
    assert(Sampler.sample(list, 20, 4, 7) == Sampler.sample(list, 20, 4, 7))
  }

  test("different seeds give different samples") {
    val samples = (1L to 10L).map(s => Sampler.sample(list, 20, 4, s))
    assert(samples.distinct.size == samples.size)
  }

  test("the sample takes one query from each cost stratum") {
    val s = Sampler.sample(list, 20, 4, 3)
    assert(s.distinct.size == 20)
    val strata = s.map(q => names.indexOf(q) * 20 / list.size)
    assert(strata.sorted == (0 until 20))
  }

  test("the whole list can be sampled") {
    assert(Sampler.sample(list, list.size, 4, 1).sorted == names)
  }

  test("every seed's pick has nearly the same reference cost") {
    val cost = list.toMap
    val totals = (1L to 20L).map(s => Sampler.sample(list, 12, 4, s).map(cost).sum)
    assert(totals.max / totals.min < 1.07)
  }
}
