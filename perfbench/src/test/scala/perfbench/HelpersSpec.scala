package perfbench

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.CdcTable

class HelpersSpec extends AnyFunSuite {

  private def stream(seed: Long, n: Int): Seq[String] = {
    val g = new Gen(seed, 4, 50, 30, 7)
    (0 until n).map(_ => Gen.envelope(g.next(), 1000L, 2000L))
  }

  test("the generator is deterministic per seed") {
    assert(stream(42, 500) == stream(42, 500))
    assert(stream(42, 500) != stream(43, 500))
  }

  test("generated updates and deletes only touch live keys") {
    val g = new Gen(7, 2, 20, 1000, 1000)
    val live = Array.fill(2)(collection.mutable.Set[String]())
    (0 until 2000).map(_ => g.next()).filter(_.valid).foreach { e =>
      e.op match {
        case "c" => assert(live(e.coll).add(e.key), s"create of live $e")
        case "u" => assert(live(e.coll)(e.key), s"update of dead $e")
        case "d" => assert(live(e.coll).remove(e.key), s"delete of dead $e")
      }
    }
    val state = Gen.replay({
      val h = new Gen(7, 2, 20, 1000, 1000); (0 until 2000).map(_ => h.next())
    })
    assert(state.map { case (c, m) => c -> m.keySet } ==
      live.zipWithIndex.map { case (s, c) => c -> s.toSet }.toMap
        .filter(_._2.nonEmpty))
  }

  test("every event's seq is recoverable from its raw message") {
    val g = new Gen(3, 1, 10, 5, 2)
    (0 until 60).map(_ => g.next()).foreach { e =>
      assert(Gen.seqOf(Gen.envelope(e, 0L, 0L)).contains(e.seq), e)
    }
  }

  test("the tail percentile keeps ten samples beyond it and reports n") {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    assert(Stats.tail(xs(10000)).pct == 99.9)
    assert(Stats.tail(xs(1000)) == Stats.Tail(99, Stats.percentile(xs(1000), 99), 1000))
    assert(Stats.tail(xs(999)).pct == 95)
    assert(Stats.tail(xs(200)).pct == 95)
    assert(Stats.tail(xs(100)).pct == 90)
    assert(Stats.tail(xs(40)).pct == 75)
    assert(Stats.tail(xs(39)).pct == 50)
    assert(Stats.tail(xs(3)) == Stats.Tail(50, 2.0, 3))
    assert(Stats.percentile(xs(101), 90) == 91.0)
  }

  test("driver-only time is wall time minus the union of job intervals") {
    val jobs = Seq((10L, 30L), (20L, 40L), (50L, 60L), (90L, 120L), (-5L, 2L))
    // covered inside [0, 100]: [0,2] + [10,40] + [50,60] + [90,100] = 52
    assert(Stats.unionLength(Seq((10L, 30L), (20L, 40L))) == 30)
    assert(Stats.driverOnlyMs(0, 100, jobs) == 48)
    assert(Stats.driverOnlyMs(0, 100, Nil) == 100)
    assert(Stats.driverOnlyMs(0, 100, Seq((0L, 100L), (5L, 6L))) == 0)
  }

  test("lag is taken from the manifest commit of each row's file") {
    def commit(n: Long, ts: Long, files: String*) = CdcTable.Commit(n, 1,
      "append", ts, None, new StructType(), files)
    val commits = Seq(commit(1, 5000, "d=x/a.parquet", "d=x/b.parquet"),
      commit(2, 9000, "d=x/c.parquet"))
    val rows = Seq(("file:/t/tbl/d=x/a.parquet", 4000L),
      ("file:///t/tbl/d=x/c.parquet", 8500L), ("file:/t/tbl/d=x/b.parquet", 1000L))
    assert(IngestStream.lagMs("/t/tbl", commits, rows) == Seq(1000L, 500L, 4000L))
    intercept[IllegalStateException] {
      IngestStream.lagMs("/t/tbl", commits, Seq(("file:/t/tbl/d=x/z.parquet", 0L)))
    }
  }

  test("a failing operation raises the error rate and leaves no timing") {
    val l = new Ledger
    val timings = Seq(
      l.op("ok")((12.0, true)),
      l.op("wrong answer")((99.0, false)),
      l.op("throws")(throw new RuntimeException("injected")),
      l.op("ok again")((14.0, true))).flatten
    assert(timings == Seq(12.0, 14.0))
    assert(l.attempted == 4 && l.failed == 2)
    assert(l.errorRate == 0.5)
    assert(l.failures.exists(_.contains("injected")))
  }
}
