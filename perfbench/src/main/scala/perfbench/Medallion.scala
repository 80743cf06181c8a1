package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.gold.GoldTransforms
import graft.io.{ParquetSink, Scd2}
import graft.silver.SilverTransforms
import graft.sources.BronzeReader

/** The medallion pipeline side of the benchmark: generated seasons landed
  * as partitioned bronze parquet, a HISTORICAL backfill, then INCREMENTAL
  * single-Grand-Prix refreshes. Every call into a program stage is one
  * op: a bronze read, a silver transform and its partition overwrite, the
  * SCD2 build or merge and its atomic rewrite, a gold rebuild. */
final class Medallion(spark: SparkSession, runner: OpRunner, gen: F1Gen,
    warehouse: Path) {
  import spark.implicits._

  private val wh = warehouse.toString
  def bronze(t: String): String = s"$wh/bronze/$t"
  def silver(t: String): String = s"$wh/silver/$t"
  def gold(t: String): String = s"$wh/gold/$t"
  private val dim = silver("drivers")

  /** Silver table → (bronze table it reads, transform, expected rows of a
    * weekend). */
  val silverTables: Seq[(String, String, DataFrame => DataFrame, Weekend => Int)] =
    Seq(
      ("sessions", "sessions", SilverTransforms.sessions, _.sessions.size),
      ("qualifying_results", "qualifying", SilverTransforms.qualifying,
        _.quali.size),
      ("race_results", "race", SilverTransforms.raceResults, _.race.size),
      ("laps", "laps", SilverTransforms.laps, _.validLaps),
      ("pitstops", "pit", SilverTransforms.pitstops, _.validPits))

  val bronzeTables: Seq[String] =
    Seq("sessions", "qualifying", "race", "laps", "pit", "drivers")

  private val landed = mutable.ArrayBuffer[Weekend]()
  /** Weekends whose silver partitions have been written. */
  private val processed = mutable.ArrayBuffer[Weekend]()

  /** Ingestion, not a program stage: append the weekends' rows as bronze
    * partitions (year, grand_prix). */
  def land(ws: Seq[Weekend]): Unit = {
    val gpOfRound = element_at(typedLit(F1Gen.GrandsPrix), _: org.apache.spark.sql.Column)
    val frames = Seq(
      "sessions" -> ws.flatMap(_.sessions).toDF()
        .withColumn("grand_prix", gpOfRound((col("meeting_key") % 100).cast("int"))),
      "qualifying" -> ws.flatMap(_.quali).toDF(),
      "race" -> ws.flatMap(_.race).toDF(),
      "laps" -> ws.flatMap(_.laps).toDF(),
      "pit" -> ws.flatMap(_.pits).toDF(),
      "drivers" -> ws.flatMap(_.drivers).toDF()
        .withColumn("year", (col("session_key") / 1000).cast("int"))
        .withColumn("grand_prix",
          gpOfRound((col("session_key") / 10 % 100).cast("int"))))
    frames.foreach { case (t, df) =>
      df.write.mode("append").partitionBy("year", "grand_prix").parquet(bronze(t))
    }
    landed ++= ws
  }

  private def rowsOf(df: DataFrame, tag: String): (DataFrame, Observation) = {
    val obs = Observation(tag)
    (df.observe(obs, count(lit(1)).as("rows")), obs)
  }
  private def rows(obs: Observation): Long = obs.get("rows").asInstanceOf[Long]

  /** HISTORICAL backfill of whole seasons: bronze reads and silver
    * partition overwrites per year, the SCD2 historical build, gold. */
  def backfill(years: Seq[Int]): Seq[OpRecord] =
    years.flatMap(y => toSilver(y, None)) ++ Seq(scd2(None)) ++ goldOps()

  /** INCREMENTAL refresh of one weekend: partition-pruned bronze reads,
    * silver partition overwrites, the SCD2 merge, gold. */
  def refresh(w: Weekend): Seq[OpRecord] =
    toSilver(w.year, Some(w)) ++ Seq(scd2(Some(w))) ++ goldOps()

  private val read = mutable.HashMap[String, DataFrame]()

  private def toSilver(year: Int, weekend: Option[Weekend]): Seq[OpRecord] = {
    val inScope = weekend.map(Seq(_))
      .getOrElse(landed.filter(_.year == year).toSeq)
    // a failed read must fail the stages after it, never let them run on
    // an earlier scope's frame
    read.clear()
    val reads = bronzeTables.map { t =>
      runner.run(s"sources.read.$t")(
        BronzeReader.read(spark, bronze(t), Some(year), weekend.map(_.gp)))(
        read(t) = _) { _ => (0L, true) }
    }
    val writes = silverTables.map { case (t, src, transform, expect) =>
      runner.run(s"silver.$t")(transform(read(src))) { df =>
        val (observed, obs) = rowsOf(df, s"pb_silver_$t")
        ParquetSink.overwritePartitions(observed, silver(t),
          Seq("year", "grand_prix_name"))
        rows(obs)
      } { n => (n, n == inScope.map(expect).sum) }
    }
    processed ++= inScope.filterNot(processed.contains)
    reads ++ writes
  }

  /** Race session key of the latest processed weekend: observations up
    * to it are the drivers' history to date. */
  private def cutoff: Long = processed.map(_.race.head.session_key).max

  /** SCD2 drivers dimension: the historical build over every processed
    * observation, or the merge of one weekend's batch into the existing
    * dimension; then the atomic rewrite. Checked: one current row per
    * driver, on the team the generator has the driver in, and no
    * overlapping validity intervals. */
  private def scd2(weekend: Option[Weekend]): OpRecord =
    runner.run(if (weekend.isEmpty) "scd2.buildHistorical" else "scd2.merge")({
      val history = BronzeReader.read(spark, bronze("drivers"))
        .filter(col("session_key") <= cutoff)
      weekend match {
        case None => Scd2.buildHistorical(history)
        case Some(_) =>
          Scd2.merge(spark.read.parquet(dim), read("drivers"), Some(history))
      }
    }) { df =>
      val (observed, obs) = rowsOf(df, "pb_scd2")
      ParquetSink.atomicRewrite(observed, dim)
      rows(obs)
    } { n => (n, scd2Valid()) }

  def scd2Valid(): Boolean = {
    val rowsByDriver = spark.read.parquet(dim)
      .select("driver_number", "team_name", "valid_from", "valid_to",
        "is_current").collect().toSeq
      .groupBy(_.getInt(0))
    val teams = gen.currentTeams(processed.toSeq)
    rowsByDriver.keySet == teams.keySet && rowsByDriver.forall { case (d, rs) =>
      val current = rs.filter(_.getBoolean(4))
      val sorted = rs.sortBy(_.getTimestamp(2).getTime)
      current.size == 1 && current.head.getString(1) == teams(d) &&
        sorted.sliding(2).forall {
          case Seq(a, b) => !a.isNullAt(3) &&
            !a.getTimestamp(3).after(b.getTimestamp(2))
          case _ => true
        }
    }
  }

  /** Gold rebuild: four tables from the silver tables and the dimension.
    * Checked: row counts, and every driver's season points at the last
    * round equal the ladder sums the generator computes. */
  private def goldOps(): Seq[OpRecord] = {
    def s(t: String) = spark.read.parquet(silver(t))
    val races = processed.size
    val tables: Seq[(String, () => DataFrame, Long)] = Seq(
      ("championship_tracker", () => GoldTransforms.championshipTracker(
        s("sessions"), s("race_results"), s("drivers")), races * 20L),
      ("driver_performance_summary_qualifying", () =>
        GoldTransforms.driverPerformanceQualifying(s("sessions"),
          s("qualifying_results"), s("drivers")), races * 20L),
      ("driver_performance_summary_race", () =>
        GoldTransforms.driverPerformanceRace(s("sessions"),
          s("race_results"), s("drivers")), races * 20L),
      ("race_weekend_insights", () => GoldTransforms.raceWeekendInsights(
        s("sessions"), s("qualifying_results"), s("race_results"),
        s("drivers")), races.toLong))
    tables.map { case (t, build, expect) =>
      runner.run(s"gold.$t")(build()) { df =>
        val (observed, obs) = rowsOf(df, s"pb_gold_$t")
        ParquetSink.overwrite(observed, gold(t))
        rows(obs)
      } { n =>
        (n, n == expect && (t != "championship_tracker" || pointsValid()))
      }
    }
  }

  def pointsValid(): Boolean = {
    val got = spark.read.parquet(gold("championship_tracker"))
      .groupBy("year", "driver_number")
      .agg(max("season_points_total")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    got == gen.ladderSums(processed.toSeq)
  }

  /** The silver tables equal a backfill-only build over the bronze of
    * the processed weekends: compared by row count and digest, audit
    * timestamps left out. Returns the tables that differ. */
  def silverMismatches(): Seq[String] = silverTables.flatMap {
    case (t, src, transform, _) =>
      def digest(df: DataFrame): (Long, String) = {
        val cols = df.columns.filterNot(Set("created_at", "updated_at")).sorted
        val (renamed, d) = Catalog.digestColumns(df.select(cols.map(col).toIndexedSeq: _*))
        val r = renamed.agg(count(lit(1)), d).head()
        (r.getLong(0), String.valueOf(r.get(1)))
      }
      val keys = processed.map(w => s"${w.year}/${w.gp}").toSeq
      val scope = BronzeReader.read(spark, bronze(src))
        .filter(concat_ws("/", col("year"), col("grand_prix")).isin(keys: _*))
      if (digest(spark.read.parquet(silver(t))) == digest(transform(scope))) None
      else Some(t)
  }

  /** Bytes of the files under `dir`. */
  def bytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  def bronzeBytes: Long = bytes(s"$wh/bronze")
  def storedBytes: Long = bytes(s"$wh/silver") + bytes(s"$wh/gold")
}
