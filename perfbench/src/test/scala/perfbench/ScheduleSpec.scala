package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ScheduleSpec extends AnyFunSuite {

  private val pool = (1 to 1500).map(i => s"$i")
  private val mix = Main.XesMix

  test("a seed always produces the same schedule and class labels") {
    val a = Schedule.build(7L, pool, mix)
    assert(a == Schedule.build(7L, pool, mix))
    assert(a.map(_.kind) == Schedule.build(7L, pool, mix).map(_.kind))
    assert(a != Schedule.build(8L, pool, mix))
  }

  test("class counts are exact and every named percentile has its samples") {
    for (seed <- 0L until 20L) {
      val s = Schedule.build(seed, pool, mix)
      assert(s.size == mix.total)
      assert(s.count(_.kind == "small") == mix.small)
      assert(s.count(_.kind == "bulk") == mix.bulk)
      assert(s.count(_.kind == "hit") == mix.hit)
    }
    assert(Stats.reportable(mix.small, 0.90))
    assert(Stats.reportable(mix.bulk, 0.50))
    assert(Stats.reportable(mix.hit, 0.50))
    assert(Stats.reportable(mix.total, 0.50))
  }

  test("small requests name new resources; bulk requests distinct ones") {
    val s = Schedule.build(3L, pool, mix)
    val small = s.filter(_.kind == "small").map(_.ids)
    assert(small.forall(_.size == 1) && small.distinct.size == small.size)
    s.filter(_.kind == "bulk").foreach { r =>
      assert(r.ids.size == mix.bulkIds && r.ids.distinct.size == mix.bulkIds)
    }
  }

  test("a hit repeats a recent small request, never one of the latest") {
    for (seed <- 0L until 20L) {
      val s = Schedule.build(seed, pool, mix)
      s.filter(_.kind == "hit").foreach { h =>
        val t = s(h.target)
        assert(t.kind == "small" && t.index < h.index && t.ids == h.ids)
        val smallsAfter = s.slice(t.index + 1, h.index).count(_.kind == "small")
        assert(smallsAfter >= mix.minBack && smallsAfter < mix.window)
      }
    }
  }
}
