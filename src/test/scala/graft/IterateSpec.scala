package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.analytics.Iterate

/** The shared iteration policy: `toFixpoint` stops on the first
  * repeated probe and never steps past `maxRounds`; `rounds` hands
  * back a frame whose lineage does not grow with the round count.
  */
class IterateSpec extends SparkSpec {

  private def start(x: Long): DataFrame =
    spark.range(1).select(lit(x).as("x"))

  private def value(df: DataFrame): Long = df.head().getLong(0)

  test("toFixpoint stops at the first repeated probe, within maxRounds steps") {
    // 3 -> 2 -> 1 -> 0 -> 0: the probe first repeats after step 4
    def run(maxRounds: Int): (Iterate.Fixpoint, Int) = {
      var calls = 0
      val fp = Iterate.toFixpoint(start(3L), maxRounds)(value) { (df, i) =>
        assert(i == calls, "rounds are passed 0-based, in order")
        calls += 1
        df.select(greatest(col("x") - 1L, lit(0L)).as("x"))
      }
      (fp, calls)
    }
    val (done, doneCalls) = run(10)
    assert(done.converged && done.rounds == 4 && doneCalls == 4)
    assert(value(done.frame) == 0L)
    val (exact, exactCalls) = run(4)
    assert(exact.converged && exactCalls == 4)
    val (capped, cappedCalls) = run(2)
    assert(!capped.converged && capped.rounds == 2 && cappedCalls == 2)
    assert(value(capped.frame) == 1L, "the capped frame is the frame after maxRounds steps")
  }

  test("toFixpoint reports converged = false when the probe never repeats") {
    var calls = 0
    val fp = Iterate.toFixpoint(start(0L), 5)(value) { (df, _) =>
      calls += 1
      df.select((col("x") + 1L).as("x"))
    }
    assert(!fp.converged)
    assert(fp.rounds == 5 && calls == 5)
    assert(value(fp.frame) == 5L)
  }

  test("rounds returns a checkpointed frame whose lineage does not grow with n") {
    def lineage(n: Int): (Long, Int) = {
      val out = Iterate.rounds(start(0L), n)(_.select((col("x") + 1L).as("x")))
      out.queryExecution.analyzed match {
        case r: LogicalRDD =>
          assert(r.rdd.isCheckpointed, s"n=$n: the result RDD is not checkpointed")
          (value(out), r.rdd.toDebugString.linesIterator.size)
        case p => fail(s"n=$n: expected the plan to be one checkpointed RDD, got\n$p")
      }
    }
    val depths = Seq(1, 2, 5, 8).map { n =>
      val (v, depth) = lineage(n)
      assert(v == n.toLong)
      depth
    }
    assert(depths.distinct.size == 1, s"lineage depth grew with n: $depths")
  }
}
