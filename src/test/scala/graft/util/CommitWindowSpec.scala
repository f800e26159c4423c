package graft.util

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicBoolean

class CommitWindowSpec extends AnyFunSuite {
  private lazy val sc = SparkTestSession.spark.sparkContext

  test("a failing body is rethrown only after its slow sibling has finished") {
    val siblingDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("append failed")
    val window = new CommitWindow(sc)
    window.add("commit-a")(throw boom)
    window.add("commit-b") { Thread.sleep(500); siblingDone.set(true) }
    val thrown = intercept[IllegalStateException](window.run())
    assert(siblingDone.get, "the window rethrew while a sibling body was still running")
    assert(thrown eq boom)
  }

  test("earliest-registered failure wins, later ones are suppressed; pools are per body") {
    val window = new CommitWindow(sc)
    val late = new RuntimeException("first registered, fails last")
    val early = new RuntimeException("second registered, fails first")
    window.add("commit-a") { Thread.sleep(300); throw late }
    window.add("commit-b")(throw early)
    val thrown = intercept[RuntimeException](window.run())
    assert(thrown eq late)
    assert(thrown.getSuppressed.toSeq == Seq(early))

    val ok = new CommitWindow(sc)
    val pools = (0 until 3).map(i => ok.add(s"commit-$i")(sc.getLocalProperty("spark.scheduler.pool")))
    ok.run()
    assert(pools.map(_()) == Seq("commit-0", "commit-1", "commit-2"))
    assert(sc.getLocalProperty("spark.scheduler.pool") == null, "the caller's pool must stay unset")
  }
}
