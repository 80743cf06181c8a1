package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}

import graft.core.F1Fixtures._

/** One generated Grand Prix weekend: the bronze rows of its qualifying
  * and race sessions, in the program's own fixture shapes. */
final case class Weekend(year: Int, round: Int, gp: String,
    sessions: Seq[SessionRow], quali: Seq[QualiRow], race: Seq[RaceRow],
    laps: Seq[LapRow], pits: Seq[PitRow], drivers: Seq[DriverObs]) {

  /** Rows the silver transforms must keep: laps with a usable time,
    * pit stops with a duration in (0, 999) s. */
  def validLaps: Int = laps.count(l => l.lap_duration.isDefined ||
    Seq(l.duration_sector_1, l.duration_sector_2, l.duration_sector_3)
      .forall(_.isDefined))
  def validPits: Int = pits.count(_.pit_duration.exists(d => d > 0 && d < 999000))
}

/** Seeded synthetic F1 seasons at the reference's volumes: 24 Grands Prix
  * and 20 drivers in 10 teams per season, about 57 laps a race, one to
  * three pit stops per finisher, DNFs, and mid-season team changes.
  * The same seed gives the same seasons.
  *
  * Bronze partition keys (`grand_prix`) are ASCII, as in
  * [[graft.core.F1Fixtures.gpNames]]; the meeting name keeps its accents
  * ("São Paulo Grand Prix") and the silver transform normalizes it to the
  * same key. */
final class F1Gen(seed: Long, val years: Seq[Int],
    lastSeasonChangeRound: Int) {

  import F1Gen._

  private val rnd = new java.util.Random(seed)
  private def gauss(sd: Double): Double = rnd.nextGaussian() * sd

  private val skill: Map[Int, Double] =
    DriverNumbers.map(d => d -> rnd.nextDouble()).toMap

  /** Team of each driver before each round, per year; team changes swap
    * two drivers of different teams from a round on. */
  private val (lineups, changes) = {
    var current: Map[Int, String] = DriverNumbers.zipWithIndex
      .map { case (d, i) => d -> Teams(i / 2) }.toMap
    var history: Map[Int, Set[String]] = current.map { case (d, t) => d -> Set(t) }
    val out = Map.newBuilder[(Int, Int), Map[Int, String]]
    val swaps = Seq.newBuilder[(Int, Int, Int, Int)]
    years.foreach { y =>
      val last = y == years.last
      val rounds: Set[Int] =
        if (last) Set(1 + rnd.nextInt(Rounds / 2), lastSeasonChangeRound)
        else Set(2 + rnd.nextInt(Rounds / 3))
      (1 to Rounds).foreach { r =>
        if (rounds.contains(r)) {
          // no driver returns to a team they drove for before, so the
          // historical build (one row per driver and team) and the
          // incremental merge agree on every driver's current team
          val a = DriverNumbers(rnd.nextInt(DriverNumbers.size))
          val bs = DriverNumbers.filter(d => current(d) != current(a) &&
            !history(a).contains(current(d)) &&
            !history(d).contains(current(a)))
          if (bs.nonEmpty) {
            val b = bs(rnd.nextInt(bs.size))
            current = current.updated(a, current(b)).updated(b, current(a))
            history = history.updated(a, history(a) + current(a))
              .updated(b, history(b) + current(b))
            swaps += ((y, r, a, b))
          }
        }
        out += (y, r) -> current
      }
    }
    (out.result(), swaps.result())
  }

  /** Team changes as (year, round, driver, driver). */
  def teamChanges: Seq[(Int, Int, Int, Int)] = changes

  val weekends: IndexedSeq[Weekend] =
    years.flatMap(y => (1 to Rounds).map(r => generate(y, r))).toIndexedSeq

  def weekend(year: Int, round: Int): Weekend =
    weekends((years.indexOf(year)) * Rounds + round - 1)

  private def generate(year: Int, round: Int): Weekend = {
    val gp = GrandsPrix(round - 1)
    val qKey = year * 1000L + round * 10 + 1
    val rKey = qKey + 1
    val meeting = year * 100L + round
    val day = LocalDate.of(year, 3, 1).plusDays((round - 1) * 10L)
    def at(d: LocalDate, h: Int, m: Int) =
      Timestamp.valueOf(LocalDateTime.of(d, java.time.LocalTime.of(h, m)))
    val name = meetingName(gp)
    val sessions = Seq(
      SessionRow(qKey, "Qualifying", meeting, name, at(day, 14, 0),
        at(day, 15, 0), year),
      SessionRow(rKey, "Race", meeting, name, at(day.plusDays(1), 15, 0),
        at(day.plusDays(1), 16, 45), year))

    val base = 75.0 + (round * 37 % 20)
    val qOrder = DriverNumbers.sortBy(d => -(skill(d) + gauss(0.3)))
    val quali = qOrder.zipWithIndex.map { case (d, i) =>
      val pos = i + 1
      val segs = if (pos <= 10) 3 else if (pos <= 15) 2 else 1
      val t = (1 to segs).map(s => ms(base + 0.05 * i - 0.3 * s + gauss(0.05)))
      QualiRow(qKey, "Qualifying", d, Some(pos), t, year, gp)
    }
    val grid = qOrder.zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap

    val laps0 = 52 + (round * 7 % 11)
    val dnf = DriverNumbers.filter(_ => rnd.nextDouble() < 0.07).toSet
    val finishers = DriverNumbers.filterNot(dnf)
      .sortBy(d => -(skill(d) + gauss(0.4) - grid(d) * 0.01))
    val racePos = finishers.zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    val race = DriverNumbers.map { d =>
      val pos = racePos.get(d)
      val time = pos.map(p => ms(laps0 * base * 1.1 + p * 4.7 + gauss(0.5)))
      RaceRow(rKey, "Race", d, pos, Some(grid(d)),
        Some(pos.map(points).getOrElse(0).toDouble), time,
        pos.filter(_ > 1).map(p => ms(p * 4.7)), dnf = dnf(d), dns = false,
        dsq = false, year, gp)
    }

    val laps = Seq.newBuilder[LapRow]
    val pits = Seq.newBuilder[PitRow]
    DriverNumbers.foreach { d =>
      val n = if (dnf(d)) 1 + rnd.nextInt(laps0 - 1) else laps0
      val stops = if (dnf(d)) 0 else 1 + rnd.nextInt(3)
      val stopLaps = (1 to stops).map(k => k * n / (stops + 1)).toSet
      var stint = 0
      (1 to n).foreach { l =>
        val t = base * 1.1 + gauss(0.6) + (if (stopLaps(l)) 22.0 else 0.0)
        val u = rnd.nextDouble()
        // lap 1 and ~3% of laps carry sector times only (sector-sum
        // fallback); ~0.5% carry no time at all and must be dropped
        val (lap, sectors) =
          if (u < 0.005) (None, Seq(None, None, None))
          else if (l == 1 || u < 0.035) {
            val s1 = ms(t * 0.31); val s2 = ms(t * 0.36)
            (None, Seq(Some(s1), Some(s2), Some(ms(t - s1 - s2))))
          } else (Some(ms(t)), Seq(None, None, None))
        laps += LapRow(rKey, d, l, lap, sectors(0), sectors(1), sectors(2),
          Seq(2048, 2049, 2051).take(1 + l % 3), racePos.get(d),
          Some((racePos.getOrElse(d, 20) * 1000L * l) / n),
          Some(1000L + l % 7 * 100), Compounds(stint % 3),
          if (u > 0.98) "YELLOW" else "GREEN", "Race", year, gp)
        if (stopLaps(l)) {
          pits += PitRow(rKey, d, l, Some(20000.0 + rnd.nextInt(9000)),
            Some(rnd.nextInt(5) - 2), Some(rnd.nextBoolean()),
            Some(u > 0.9), Compounds(stint % 3), Compounds((stint + 1) % 3),
            year, gp)
          stint += 1
        }
      }
    }
    // pit rows the validity filter must drop: no duration, and a
    // timing-loop reading above 999 s
    pits += PitRow(rKey, DriverNumbers(round % 20), 1, None, None, None,
      None, "SOFT", "SOFT", year, gp)
    pits += PitRow(rKey, DriverNumbers((round + 7) % 20), 2,
      Some(1200000.0), Some(0), Some(false), Some(true), "SOFT", "HARD",
      year, gp)

    val team = lineups((year, round))
    val drivers = DriverNumbers.map { d =>
      DriverObs(d, team(d), f"D DRIVER$d%02d", f"Driver $d%02d", "XXX",
        TeamColour(team(d)), f"D$d%02d", at(day.plusDays(1), 15, 0), "Race",
        rKey)
    }
    Weekend(year, round, gp, sessions, quali, race, laps.result(),
      pits.result(), drivers)
  }

  /** Championship ladder sums per (year, driver) over `weekends`. */
  def ladderSums(ws: Seq[Weekend]): Map[(Int, Int), Double] =
    ws.flatMap(w => w.race.map(r =>
      (w.year, r.driver_number) -> r.position.map(points).getOrElse(0)))
      .groupMapReduce(_._1)(_._2.toDouble)(_ + _)

  /** Each driver's team at the last of `ws`. */
  def currentTeams(ws: Seq[Weekend]): Map[Int, String] =
    ws.maxBy(w => (w.year, w.round)).drivers
      .map(o => o.driver_number -> o.team_name).toMap
}

object F1Gen {
  val Rounds = 24

  val GrandsPrix: IndexedSeq[String] = IndexedSeq("bahrain", "saudi_arabia",
    "australia", "japan", "china", "miami", "emilia_romagna", "monaco",
    "canada", "spain", "austria", "great_britain", "hungary", "belgium",
    "netherlands", "italy", "azerbaijan", "singapore", "united_states",
    "mexico", "sao_paulo", "las_vegas", "qatar", "abu_dhabi")

  def meetingName(gp: String): String =
    if (gp == "sao_paulo") "São Paulo Grand Prix"
    else gp.split('_').map(_.capitalize).mkString(" ") + " Grand Prix"

  val DriverNumbers: IndexedSeq[Int] = IndexedSeq(1, 2, 3, 4, 10, 11, 14,
    16, 18, 20, 22, 23, 24, 27, 31, 44, 55, 63, 77, 81)

  val Teams: IndexedSeq[String] = IndexedSeq("Oracle Red Bull Racing",
    "Scuderia Ferrari", "Mercedes-AMG PETRONAS F1 Team", "McLaren F1 Team",
    "Aston Martin Aramco F1 Team", "BWT Alpine F1 Team", "Williams Racing",
    "Visa Cash App RB F1 Team", "Stake F1 Team Kick Sauber",
    "MoneyGram Haas F1 Team")

  val TeamColour: Map[String, String] = Teams.zipWithIndex
    .map { case (t, i) => t -> f"#${i * 1234567 % 0xFFFFFF}%06X" }.toMap

  val Compounds: IndexedSeq[String] = IndexedSeq("SOFT", "MEDIUM", "HARD")

  private val Ladder = IndexedSeq(25, 18, 15, 12, 10, 8, 6, 4, 2, 1)
  def points(pos: Int): Int = if (pos >= 1 && pos <= 10) Ladder(pos - 1) else 0

  /** Seconds rounded to the millisecond, as the timing feed reports. */
  def ms(s: Double): Double = math.rint(s * 1000) / 1000
}
