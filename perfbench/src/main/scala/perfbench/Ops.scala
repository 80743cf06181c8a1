package perfbench

import org.apache.spark.sql.SparkSession

/** The outcome of one op. `seconds` is None when the op threw: a failed
  * op has no time, never a ~0 s one. `ok` is false when it threw or when
  * its output check failed. */
final case class OpRecord(index: Int, name: String, seconds: Option[Double],
    ok: Boolean, error: Option[String], constructS: Double,
    closeS: Double, freed: Int, outputRows: Long, startMs: Double,
    endMs: Double) {
  def failed: Boolean = !ok
}

/** Runs ops in a closed loop on the calling thread: each op starts after
  * the previous one ended. Every op runs under two job groups, one for its
  * construction and one for its execution, so a traced run can attribute
  * Spark's events to the op and phase that caused them. */
final class OpRunner(spark: SparkSession) {
  private var next = 0
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  /** Wall clock in epoch ms, with the resolution of `nanoTime`. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** When set, runs at the end of every op, after its output is
    * materialized and before its GlobalRank scope closes. Its time is left
    * out of the op's time and summed in `probeS`. */
  var probe: Option[() => Unit] = None
  private var probeNs = 0L
  def probeS: Double = probeNs / 1e9

  def constructGroup(i: Int): String = s"pb/$i/construct"
  def execGroup(i: Int): String = s"pb/$i/exec"

  /** Run one op. `construct` builds (and may already run jobs);
    * `execute` materializes what construct returned. Both are timed and
    * run inside one GlobalRank scope, which the op closes before its
    * clock stops. `check` then verifies the output, untimed, and yields
    * the op's output-row count and whether the check passed. An error
    * anywhere makes the op failed. */
  def run[T, R](name: String)(construct: => T)(execute: T => R)(
      check: R => (Long, Boolean)): OpRecord = {
    val i = next
    next += 1
    val sc = spark.sparkContext
    val scope = graft.operators.GlobalRank.openScope()
    val t0 = System.nanoTime()
    val start = nowMs
    var tc = t0
    var freed = 0
    var closeNs = 0L
    var pausedNs = 0L
    val result: Either[Throwable, R] =
      try {
        sc.setJobGroup(constructGroup(i), name)
        val built = construct
        tc = System.nanoTime()
        sc.setJobGroup(execGroup(i), name)
        Right(execute(built))
      } catch { case e: Throwable => Left(e) }
      finally {
        sc.clearJobGroup()
        val p0 = System.nanoTime()
        probe.foreach(_())
        pausedNs = System.nanoTime() - p0
        probeNs += pausedNs
        val c0 = System.nanoTime()
        freed = scope.close()
        closeNs = System.nanoTime() - c0
      }
    val t1 = System.nanoTime() - pausedNs
    val end = nowMs - pausedNs / 1e6
    val checked = result.flatMap { r =>
      try Right(check(r)) catch { case e: Throwable => Left(e) }
    }
    checked match {
      case Right((rows, ok)) =>
        OpRecord(i, name, result.toOption.map(_ => (t1 - t0) / 1e9), ok,
          if (ok) None else Some("output check failed"), (tc - t0) / 1e9,
          closeNs / 1e9, freed, rows, start, end)
      case Left(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[perfbench] op $name failed: ${msg.take(300)}")
        OpRecord(i, name, result.toOption.map(_ => (t1 - t0) / 1e9),
          ok = false, Some(msg.take(300)), (tc - t0) / 1e9, closeNs / 1e9,
          freed, 0L, start, end)
    }
  }
}
