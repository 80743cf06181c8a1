package perfbench

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class OpRunnerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.core.GraftSession.local("2", "perfbench-test")
  override def afterAll(): Unit = spark.stop()

  test("a throwing op is failed and has no time") {
    val r = new OpRunner(spark).run("boom")(throw new IllegalStateException("x"))(
      (_: Unit) => 1L)(n => (n, true))
    assert(r.failed && r.seconds.isEmpty)
    assert(r.error.contains("x"))
  }

  test("an op whose check fails is failed but keeps its time") {
    val r = new OpRunner(spark).run("bad")(spark.range(10))(_.count())(n =>
      (n, n == 11))
    assert(r.failed && r.seconds.exists(_ > 0))
    assert(r.outputRows == 10)
  }

  test("a passing op is timed and not failed") {
    val r = new OpRunner(spark).run("good")(spark.range(10))(_.count())(n =>
      (n, n == 10))
    assert(!r.failed && r.seconds.exists(_ > 0))
  }

  test("a probe runs while the op's pins are held and is not in its time") {
    val runner = new OpRunner(spark)
    var pinned: org.apache.spark.sql.DataFrame = null
    var rowsInProbe = -1L
    runner.probe = Some { () =>
      rowsInProbe = pinned.count()
      Thread.sleep(300)
    }
    val t0 = System.nanoTime()
    val r = runner.run("probed")({
      pinned = graft.operators.GlobalRank.pinned(spark.range(10).toDF())
      pinned
    })(_.count())(n => (n, n == 10))
    val wall = (System.nanoTime() - t0) / 1e9
    assert(!r.failed && r.freed == 1 && rowsInProbe == 10)
    assert(r.seconds.exists(wall - _ >= 0.3) && runner.probeS >= 0.3)
  }

  test("the digest ignores row order and last-bit float drift") {
    import spark.implicits._
    val a = Seq((1, 0.1 + 0.2, "x"), (2, 1.5, "y")).toDF("k", "v", "s")
    val b = Seq((2, 1.5, "y"), (1, 0.3, "x")).toDF("k", "v", "s")
    val c = Seq((2, 1.5, "y"), (1, 0.4, "x")).toDF("k", "v", "s")
    val (ra, da) = Catalog.materialize(a, "pb_test_a")
    val (rb, db) = Catalog.materialize(b, "pb_test_b")
    val (_, dc) = Catalog.materialize(c, "pb_test_c")
    assert(ra == 2 && rb == 2 && da == db && da != dc)
  }

  test("the traced run attributes jobs to the op that started them") {
    val runner = new OpRunner(spark)
    val tracer = new Tracer(spark)
    tracer.install()
    try {
      val eager = runner.run("eager")({ spark.range(5).count(); spark.range(3) })(
        _.collect().length.toLong)(n => (n, n == 3))
      val lazyOp = runner.run("lazy")(spark.range(4))(_.collect().length.toLong)(
        n => (n, n == 4))
      tracer.fence()
      assert(tracer.get(runner.constructGroup(eager.index)).jobs >= 1)
      assert(tracer.get(runner.constructGroup(lazyOp.index)).jobs == 0)
      Seq(eager, lazyOp).foreach { r =>
        assert(tracer.get(runner.execGroup(r.index)).jobs >= 1)
        assert(tracer.get(runner.execGroup(r.index)).queryExecutions == 1)
      }
      assert(tracer.unattributedEvents == 0)
    } finally tracer.uninstall()
  }
}
