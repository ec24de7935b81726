package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def batches(seed: Long): Seq[String] = {
    val s = new Gen.LineStream(seed)
    Seq.fill(3)(Gen.csv(s.take(2000)))
  }

  test("the same seed gives byte-identical CSV batches") {
    assert(batches(7) == batches(7))
  }

  test("another seed gives other inputs") {
    assert(batches(7) != batches(8))
    assert(Gen.events(7, 0, 100, 10) != Gen.events(8, 0, 100, 10))
  }

  test("table rows, orders and events repeat for a seed") {
    assert(Gen.linesOf(3, 42) == Gen.linesOf(3, 42))
    assert(Gen.order(3, 42, 100) == Gen.order(3, 42, 100))
    assert(Gen.events(3, 0, 500, 20) == Gen.events(3, 0, 500, 20))
  }

  test("operation order and parameters repeat for a seed") {
    def draws(seed: Long) = {
      val r = Rng(seed, "component-jobs")
      (r.shuffle(1 to 11), Seq.fill(20)(r.nextInt(1000)))
    }
    assert(draws(5) == draws(5))
    assert(draws(5) != draws(6))
  }

  test("streams of one seed are independent") {
    val a = Rng(1, "a")
    val b1 = Rng(1, "b").nextLong()
    a.nextLong(); a.nextLong()
    assert(Rng(1, "b").nextLong() == b1)
  }

  test("line batches are key-ordered slices of one stream") {
    val s = new Gen.LineStream(9)
    val rows = s.take(1000) ++ s.take(1000)
    assert(rows.map(_.key) == rows.map(_.key).sorted)
    assert(rows.map(_.key).distinct.size == rows.size)
  }

  test("the checker's CSV parser reads back what the generator writes") {
    val rows = new Gen.LineStream(11).take(500)
    val parsed = Files2.parseCsv(Gen.csv(rows))
    assert(parsed.head == Gen.LiColumns.map(_._1))
    assert(parsed.tail == rows.map(Gen.fields))
    assert(rows.exists(_.comment.contains("\"")) && rows.exists(_.comment.contains(",")))
  }

  test("a p90 needs at least 100 samples of its class") {
    assert(Stats.p90((1 to 99).map(_.toDouble)).isEmpty)
    assert(Stats.p90((1 to 100).map(_.toDouble)).exists(v => math.abs(v - 90.1) < 1e-9))
  }

  test("percentiles interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.quantile(Seq(10.0, 20.0), 0.9) == 19.0)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  test("covered time counts overlapping intervals once") {
    assert(Tracer.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Tracer.unionNs(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Tracer.unionNs(Nil) == 0L)
  }
}
