package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session, never stop per-suite
}

object SparkSpec {
  // the product session factory itself, so specs see exactly the confs
  // and extensions (SQL kernels, TopKPerKey planning) every main runs with
  lazy val session: SparkSession = graft.core.GraftSession.local("4", "graft-test")
}
