package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.core.Tables

/** The analytics catalog side of the benchmark: the frozen query lists,
  * the expected outputs, and one op = construct, materialize, check. */
object Catalog {

  val FixtureTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** A frozen list file: `name<TAB>reference seconds` per line, in cost
    * order, `#` comments. */
  def readList(p: Path): IndexedSeq[(String, Double)] =
    Files.readAllLines(p, UTF_8).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).map(a => a(0) -> a(1).toDouble).toIndexedSeq

  /** Expected outputs: `name<TAB>rows<TAB>digest` per line. */
  def readExpected(p: Path): Map[String, (Long, String)] =
    Files.readAllLines(p, UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t'))
      .map(a => a(0) -> (a(1).toLong, a(2))).toMap

  /** First touch of every fixture table through the program's reader
    * (its per-session schema cache fills here). */
  def touchTables(spark: SparkSession, dir: String): Unit =
    FixtureTables.foreach(t => Tables.table(spark, dir, t))

  /** Order-independent digest of a frame's rows: the sum over rows of a
    * 64-bit hash of the row. Doubles and floats enter as 9 significant
    * digits, so last-bit drift in a float sum does not flip it; maps enter
    * as their sorted entries. Columns are addressed by position, so
    * duplicate output names are fine. */
  def digestColumns(df: DataFrame): (DataFrame, Column) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val parts = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val c = col(s"c$i")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c)
        case _: MapType => to_json(array_sort(map_entries(c)))
        case _ => c
      }
    }
    val h = if (parts.isEmpty) lit(0L) else xxhash64(parts.toIndexedSeq: _*)
    (renamed, sum(h.cast(DecimalType(38, 0))))
  }

  /** Materialize `df` through the `noop` sink (or into parquet at
    * `dumpTo`) and return (rows, digest), both observed during that one
    * pass over the output. */
  def materialize(df: DataFrame, tag: String,
      dumpTo: Option[String] = None): (Long, String) = {
    val (renamed, digest) = digestColumns(df)
    val obs = Observation(tag)
    val observed = renamed.observe(obs, count(lit(1)).as("rows"),
      digest.as("digest"))
    dumpTo match {
      case None => observed.write.mode("overwrite").format("noop").save()
      case Some(path) =>
        // the dump keeps the query's own column names for the oracle
        observed.toDF(df.columns.toIndexedSeq: _*).coalesce(1)
          .write.mode("overwrite").parquet(path)
    }
    val m = obs.get
    val d = Option(m("digest")).map(_.toString).getOrElse("0")
    (m("rows").asInstanceOf[Long], d)
  }

  /** One catalog op: construct the query, materialize it, check the row
    * count and digest against the expected values. A query with no
    * expected values (it failed the oracle when they were recorded)
    * fails its check. */
  def op(runner: OpRunner, spark: SparkSession, dir: String, name: String,
      expected: Map[String, (Long, String)]): OpRecord =
    runner.run(name)(SparkEntry.queries(name)(spark, dir))(
      materialize(_, s"pb_$name")) { case (rows, digest) =>
      (rows, expected.get(name).contains((rows, digest)))
    }
}
