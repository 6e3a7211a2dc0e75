package perfbench

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each workload's correctness gate passes on the state its own loop
  * leaves and rejects a planted wrong target.
  */
class GatesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = Files.createTempDirectory("perfbench-gates")
  private lazy val spark = {
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)
    Main.session(work)
  }

  override def afterAll(): Unit = {
    spark.stop()
    Fs.deleteTree(work)
  }
  private def ctx(seed: Long) = new Ctx(spark, new Tracer(spark, enabled = false), new Gen(seed))

  private def loop(w: Workload, dir: String, ops: Int): Unit = {
    w.setup(work.resolve(dir))
    (1 to ops).foreach(_ => w.next().run())
    w.verify()
  }

  for (target <- Seq("derby", "lake", "dim")) {
    test(s"etl_daily gate rejects a wrong $target target") {
      val w = new EtlDaily(ctx(3))
      loop(w, s"etl-$target", ops = 2)
      w.corrupt(target)
      intercept[IllegalStateException](w.verify())
    }
  }

  test("query_fleet gate rejects a dump that differs from its oracle") {
    val w = new QueryFleet(ctx(3))
    w.setup(work.resolve("fleet"))
    w.warm()
    w.verify()
    w.corrupt()
    intercept[IllegalStateException](w.verify())
  }

  test("index_lifecycle gate rejects a root serving a document the corpus does not hold") {
    val w = new IndexLifecycle(ctx(3))
    loop(w, "index", ops = IndexLifecycle.Cycle.indexOf("erase") + 1)
    w.corrupt()
    intercept[IllegalStateException](w.verify())
  }
}
