package perfbench

import org.scalatest.funsuite.AnyFunSuite

class F1GenSpec extends AnyFunSuite {
  private def gen(seed: Long) = new F1Gen(seed, Seq(2024, 2025), 3)

  test("the same seed gives the same seasons") {
    assert(gen(11).weekends == gen(11).weekends)
    assert(gen(11).teamChanges == gen(11).teamChanges)
  }

  test("different seeds give different seasons") {
    assert(gen(11).weekends != gen(12).weekends)
  }

  test("seasons have the reference's volumes") {
    val g = gen(5)
    assert(g.weekends.size == 48)
    g.weekends.foreach { w =>
      assert(w.sessions.size == 2)
      assert(w.quali.map(_.driver_number).toSet.size == 20)
      assert(w.race.size == 20)
      assert(w.drivers.size == 20)
      assert(w.pits.exists(_.pit_duration.isEmpty))
    }
    val lapsPerRace = g.weekends.map(_.laps.size.toDouble / 20)
    val mean = lapsPerRace.sum / lapsPerRace.size
    assert(mean > 50 && mean < 62, s"mean laps per driver $mean")
    assert(g.weekends.exists(_.race.exists(_.dnf)))
    assert(g.weekends.forall(w => w.validLaps < w.laps.size ||
      w.laps.forall(_.lap_duration.isDefined)))
  }

  test("bronze partition keys are ASCII; accents stay in the meeting name") {
    val g = gen(5)
    assert(g.weekends.map(_.gp).forall(_.forall(_ < 128)))
    assert(g.weekends.flatMap(_.sessions).map(_.meeting_name)
      .contains("São Paulo Grand Prix"))
  }

  test("team changes happen mid-season, including the forced round") {
    val g = gen(9)
    assert(g.teamChanges.exists { case (y, r, _, _) => y == 2025 && r == 3 })
    g.teamChanges.foreach { case (y, r, a, b) =>
      val before = if (r == 1) g.weekend(y - 1, F1Gen.Rounds) else g.weekend(y, r - 1)
      val after = g.weekend(y, r)
      def team(w: Weekend, d: Int) = w.drivers.find(_.driver_number == d).get.team_name
      assert(team(after, a) == team(before, b))
      assert(team(after, b) == team(before, a))
    }
  }

  test("ladder sums follow the 25-18-15 ladder") {
    val g = gen(2)
    val w = g.weekend(2024, 1)
    val sums = g.ladderSums(Seq(w))
    assert(sums.values.sum == 101.0)
    val winner = w.race.find(_.position.contains(1)).get.driver_number
    assert(sums((2024, winner)) == 25.0)
  }
}
