package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Stats.Span

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred) == Stats.Tail(90, 90.0, 10))
    // 150 samples: p93 is rank 140, ten beyond; p94 would leave nine
    val t = Stats.tail((1 to 150).map(_.toDouble))
    assert(t == Stats.Tail(93, 140.0, 10))
    assert(math.ceil(94 * 150 / 100.0).toInt == 141)
    // eleven samples: the smallest qualifies, with exactly ten beyond
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Stats.Tail(9, 1.0, 10))
  }

  test("tail of ten or fewer samples is the worst sample") {
    assert(Stats.tail(Seq(5.0, 9.0, 7.0)) == Stats.Tail(100, 9.0, 0))
    assert(Stats.tail((1 to 10).map(_.toDouble)) == Stats.Tail(100, 10.0, 0))
  }

  test("tail does not depend on sample order") {
    val xs = (1 to 200).map(i => (i * 37 % 200).toDouble)
    assert(Stats.tail(xs) == Stats.tail(xs.sorted))
    assert(Stats.tail(xs).beyond >= 10)
  }

  test("interval union counts overlapping and nested jobs once") {
    // [0,10) and [5,15) overlap; [20,30) contains [22,25)
    val jobs = Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L))
    assert(Stats.unionLength(jobs) == 25L)
    assert(Stats.unionLength(Nil) == 0L)
    // touching intervals merge without double counting
    assert(Stats.unionLength(Seq((0L, 5L), (5L, 9L))) == 9L)
  }

  test("interval union clips to the window, so Spark driver time is the rest") {
    val jobs = Seq((-5L, 3L), (4L, 6L), (8L, 20L))
    val covered = Stats.unionLength(jobs, 0L, 10L)
    assert(covered == 3L + 2L + 2L)
    val wall = 10L
    assert(wall - covered == 3L)
  }

  test("self time subtracts the union of a span's direct children") {
    val spans = Seq(
      Span(0, -1, 1, "op", 0L, 100L),
      Span(1, 0, 1, "sources.commit", 10L, 40L),
      Span(2, 0, 1, "sources.refresh", 30L, 70L), // overlaps its sibling
      Span(3, 2, 1, "marts.inner", 35L, 45L), // grandchild: not the op's child
      Span(4, 0, 1, "sink.write", 90L, 120L)) // runs past the op's end
    val self = Stats.selfTimes(spans)
    assert(self(0) == 100L - ((70L - 10L) + (100L - 90L)))
    assert(self(1) == 30L)
    assert(self(2) == 40L - 10L)
    assert(self(3) == 10L)
    assert(self(4) == 30L)
  }

  test("an operation that throws or fails its check is a failure with no time") {
    assert(Main.attempt(() => throw new RuntimeException("boom")) == Left("java.lang.RuntimeException: boom"))
    assert(Main.attempt(() => () => Some("wrong rows")) == Left("wrong rows"))
    assert(Main.attempt(() => () => throw new IllegalStateException("bad check")).isLeft)
    val ok = Main.attempt(() => { Thread.sleep(5); () => None })
    assert(ok.exists(_ >= 0.005))
  }

  test("an operation's layers are read after it runs and before its check") {
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val got = Main.attempt(() => { order += "run"; () => { order += "check"; None } },
      sec => order += s"after ${sec >= 0}")
    assert(order == Seq("run", "after true", "check"))
    assert(got.isRight)
    order.clear()
    Main.attempt(() => throw new RuntimeException("boom"), _ => order += "after")
    assert(order.isEmpty)
  }

  test("a fatal error ends the run instead of counting as a failure") {
    assertThrows[OutOfMemoryError](Main.attempt(() => throw new OutOfMemoryError("heap")))
    assertThrows[InterruptedException](Main.attempt(() => throw new InterruptedException()))
  }

  test("fail ratio counts failed over attempted operations") {
    assert(Stats.failRatio(10, 0) == 0.0)
    assert(Stats.failRatio(8, 2) == 0.25)
    assert(Stats.failRatio(0, 0) == 1.0)
    assertThrows[IllegalArgumentException](Stats.failRatio(3, 4))
  }
}
