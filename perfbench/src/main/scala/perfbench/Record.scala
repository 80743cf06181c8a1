package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Maintenance tool, not part of a benchmark run: classifies the whole
  * catalog into construction-job-free and construction-job queries, and
  * dumps every result for the DuckDB oracle together with its row count
  * and digest.
  *
  * Three passes over the catalog in one JVM: a cold pass, a warm traced
  * pass (the classification uses it: on a cold pass a table's first-touch
  * schema inference starts one extra job in some constructions), and a
  * dump pass. Writes `classify.tsv`, `oracle_sql.json` and `errors.json`
  * plus one parquet directory per query under `outDir`.
  *
  * Usage: Record <fixtureDir> <outDir> [query,query,...]
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args.take(2)
    val only = args.lift(2).map(_.split(',').toSet)
    val spark = graft.core.GraftSession.local(
      Runtime.getRuntime.availableProcessors().toString, "perfbench-record")
    val names = SparkEntry.queries.keys.toIndexedSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val tracer = new Tracer(spark)
    tracer.install()
    val runner = new OpRunner(spark)
    val digests = scala.collection.mutable.HashMap[String, List[String]]()
    def pass(dumpTo: Option[String]) = names.map { n =>
      runner.run(n)(SparkEntry.queries(n)(spark, dir))(
        Catalog.materialize(_, s"pb_$n", dumpTo.map(o => s"$o/$n"))) {
        case (rows, d) =>
          digests(n) = digests.getOrElse(n, Nil) :+ d
          (rows, true)
      }
    }
    val cold = pass(None)
    val warm = pass(None)
    val dump = pass(Some(out))
    tracer.fence()
    val lines = names.indices.map { k =>
      val (c, w, d) = (cold(k), warm(k), dump(k))
      def cj(r: OpRecord) = tracer.get(runner.constructGroup(r.index)).jobs
      def xj(r: OpRecord) = tracer.get(runner.execGroup(r.index)).jobs
      val ds = digests.getOrElse(names(k), Nil)
      Seq(names(k), cj(c), cj(w), xj(w),
        w.seconds.map(s => f"$s%.4f").getOrElse("NaN"),
        f"${w.constructS}%.4f", d.outputRows,
        ds.lift(1).getOrElse("-"), ds.lift(2).getOrElse("-"),
        w.error.orElse(d.error).getOrElse("").replace('\t', ' ')
          .replace('\n', ' ')).mkString("\t")
    }
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, "classify.tsv"), (("name\tcold_construct_jobs" +
      "\twarm_construct_jobs\twarm_exec_jobs\twarm_op_s\twarm_construct_s" +
      "\trows\tdigest_warm\tdigest_dump\terror") +: lines).mkString("", "\n", "\n")
      .getBytes(UTF_8))
    def q(s: String) = Json.str(s)
    Files.write(Paths.get(out, "oracle_sql.json"), SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      .getBytes(UTF_8))
    Files.write(Paths.get(out, "errors.json"), dump.filter(_.error.isDefined)
      .map(r => s"${q(r.name)}: ${q(r.error.get)}").mkString("{", ",", "}")
      .getBytes(UTF_8))
    spark.stop()
  }
}
