package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession factory: Verify, Bench, the audit mains
  * and the test suites all build their session here, so a conf change
  * reaches every run the same way.
  *
  * The reference configures AQE + skew-join + 200 shuffle partitions on a
  * 2-worker Glue cluster (`src/jobs/config/job_config.py:211-218` in
  * /root/reference). We keep AQE (runtime coalescing, skew-join splitting,
  * broadcast demotion) but size `spark.sql.shuffle.partitions` to the actual
  * parallelism — on a real cluster this would be 2-3x total cores; the
  * harness runs local[N].
  *
  * Dynamic partition overwrite is deliberately NOT a session conf: it
  * would turn every partitioned `SaveMode.Overwrite` on the session into
  * a partial replace. [[graft.io.ParquetSink.overwritePartitions]] sets
  * it per write instead.
  */
object GraftSession {
  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
              Runtime.getRuntime.availableProcessors().toString),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // If events.parquet carries TIMESTAMP(NANOS) (one of the fixture's
      // historical contracts), surface it as long nanos instead of
      // rejecting it; a timestamp[us] fixture ignores this flag and
      // Tables.eventsUs adapts either way.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
