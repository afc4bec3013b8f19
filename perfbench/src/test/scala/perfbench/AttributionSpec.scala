package perfbench

import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {

  private val xesWrite =
    """org.apache.spark.sql.Dataset.toLocalIterator(Dataset.scala:3512)
      |graft.xes.XesWriter$.write(XesWriter.scala:142)
      |graft.api.EventLogGenerator$.generateXes(EventLogGenerator.scala:137)
      |graft.api.XesHttpServer.generateAndReply(XesHttpServer.scala:156)""".stripMargin

  private val internalThread =
    """org.apache.spark.sql.execution.exchange.BroadcastExchangeExec.relationFuture(BroadcastExchangeExec.scala:130)
      |java.base/java.util.concurrent.FutureTask.run(FutureTask.java:264)
      |java.base/java.lang.Thread.run(Thread.java:840)""".stripMargin

  private val benchWrite =
    """org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:251)
      |perfbench.Batch.measure(Batch.scala:80)""".stripMargin

  test("step 1: the innermost engine frame of the stage call site decides") {
    assert(Attribution.attribute(xesWrite, None, "api") == ("xes", 1))
    val probe = xesWrite.linesIterator.filterNot(_.contains("XesWriter")).mkString("\n")
    assert(Attribution.attribute(probe, None, "xes") == ("api", 1))
  }

  test("step 1 wins over the SQL execution's call site") {
    val sql = "graft.llm.Dedup$.ngramJaccardPairs(Dedup.scala:10)"
    assert(Attribution.attribute(xesWrite, Some(sql), "queries") == ("xes", 1))
  }

  test("step 2: a job from a Spark thread takes its SQL execution's module") {
    val sql = "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\ngraft.analytics.PageRank$.pageRank(PageRank.scala:88)"
    assert(Attribution.attribute(internalThread, Some(sql), "llm") == ("analytics", 2))
  }

  test("step 3: no engine frame anywhere falls back to the entry module") {
    assert(Attribution.attribute(benchWrite, Some(benchWrite), "llm") == ("llm", 3))
    assert(Attribution.attribute(internalThread, None, "analytics") == ("analytics", 3))
    assert(Attribution.attribute(null, None, "api") == ("api", 3))
  }

  test("top-level engine objects map to their modules; others are skipped") {
    assert(Attribution.moduleOfFrame("graft.Tables$.events(Tables.scala:33)").contains("sources"))
    assert(Attribution.moduleOfFrame("graft.SparkEntry$.queries(SparkEntry.scala:40)").contains("queries"))
    assert(Attribution.moduleOfFrame("graft.Bench$.main(Bench.scala:9)").isEmpty)
    assert(Attribution.moduleOfFrame("graftx.llm.Foo.bar(Foo.scala:1)").isEmpty)
    val cs = "graft.Bench$.main(Bench.scala:9)\ngraft.queries.PipelineQueries$.f(PipelineQueries.scala:2)"
    assert(Attribution.innermost(cs).contains("queries"))
  }
}
