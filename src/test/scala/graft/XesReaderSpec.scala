package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.xes.{XesReader, XesWriter}

/** Write → read round-trip gates for the XES source: both writers,
  * all attribute types, XML escaping, omitted-null attributes, and
  * sidecar tolerance. The fixture-scale identity gate is
  * q_xes_roundtrip's DuckDB oracle.
  */
class XesReaderSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val schema = StructType(Seq(
    StructField("case:concept:name", StringType),
    StructField("time:timestamp", TimestampType),
    StructField("concept:name", StringType),
    StructField("n", LongType),
    StructField("score", DoubleType),
    StructField("flag", BooleanType)))

  private def sample = spark.createDataFrame(Seq(
    Row("c1", ts("2024-01-01 09:00:00"), "a<&>\"'", 7L, 1.25, true),
    Row("c1", ts("2024-01-01 09:00:05"), "b", null, null, false),
    Row("c2", ts("2024-01-01 09:01:00"), "a", -3L, 0.5, null)
  ).asJava, schema)

  private def canon(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.select("case:concept:name", "time:timestamp", "concept:name",
      "n", "score", "flag").collect().toSet

  test("single-file write → read returns exactly the input rows, types intact") {
    val tmp = Files.createTempDirectory("xes-read")
    val file = tmp.resolve("log.xes")
    XesWriter.write(sample, file)
    val back = XesReader.read(spark, file.toString)
    assert(back.schema("time:timestamp").dataType == TimestampType)
    assert(back.schema("n").dataType == LongType)
    assert(back.schema("score").dataType == DoubleType)
    assert(back.schema("flag").dataType == BooleanType)
    assert(canon(back) == canon(sample))
  }

  test("sharded write → read returns exactly the input rows (sidecars skipped)") {
    val tmp = Files.createTempDirectory("xes-read-shards")
    val dir = tmp.resolve("shards").toString
    XesWriter.writeShards(sample, dir)
    assert(canon(XesReader.read(spark, dir)) == canon(sample))
  }

  test("streaming parse is incremental: first event costs a prefix, not the document") {
    // build a ~multi-megabyte single-shard log directly (5k traces ×
    // 4 events) and prove the StAX iterator never materializes it:
    // producing the FIRST event must consume only a small prefix of
    // the bytes — the property that makes a giant shard OOM-proof.
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<log>\n")
    for (t <- 1 to 5000) {
      sb.append(s"""<trace><string key="concept:name" value="case$t"/>\n""")
      for (e <- 1 to 4)
        sb.append(s"""<event><string key="concept:name" value="act$e"/>""" +
          s"""<int key="n" value="${t * 10 + e}"/></event>\n""")
      sb.append("</trace>\n")
    }
    sb.append("</log>\n")
    val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(bytes.length > 1000000, s"fixture should be MB-sized, got ${bytes.length}")
    var consumed = 0L
    val counting = new java.io.InputStream {
      private val in = new java.io.ByteArrayInputStream(bytes)
      override def read(): Int = { val b = in.read(); if (b >= 0) consumed += 1; b }
      override def read(buf: Array[Byte], off: Int, len: Int): Int = {
        val n = in.read(buf, off, len); if (n > 0) consumed += n; n
      }
    }
    val it = XesReader.staxEvents(counting)
    val first = it.next()
    assert(first.caseId == "case1")
    assert(consumed < bytes.length / 10,
      s"first event consumed $consumed of ${bytes.length} bytes — not streaming")
    assert(it.size == 5000 * 4 - 1, "remaining events all parse")

    // and the full Spark read paths agree on the same file
    val tmp = Files.createTempDirectory("xes-big")
    val file = tmp.resolve("big.xes")
    Files.write(file, bytes)
    val legacy = XesReader.read(spark, file.toString)
    assert(legacy.count() == 20000L)
    val v2 = spark.read.format("xes").load(file.toString)
    assert(v2.count() == 20000L)
    assert(v2.where(org.apache.spark.sql.functions.col("n") === 12343L).count() == 1)
  }

  test("trace case id appearing AFTER its events still labels every event") {
    // XES allows trace attributes anywhere among the children; the
    // per-trace buffering labels every event of the trace
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<log>
        |<trace>
        |<event><string key="concept:name" value="first"/></event>
        |<event><string key="concept:name" value="second"/></event>
        |<string key="concept:name" value="late-case"/>
        |</trace>
        |</log>""".stripMargin
    val tmp = Files.createTempDirectory("xes-late")
    val file = tmp.resolve("late.xes")
    Files.write(file, xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val back = XesReader.read(spark, file.toString)
      .select("case:concept:name", "concept:name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set(("late-case", "first"), ("late-case", "second")))
  }

  test("conflicting attribute types widen to string with the raw text") {
    val tmp = Files.createTempDirectory("xes-read-conflict")
    val file = tmp.resolve("log.xes")
    val s1 = StructType(Seq(
      StructField("case:concept:name", StringType),
      StructField("time:timestamp", TimestampType),
      StructField("v", LongType)))
    val s2 = StructType(Seq(
      StructField("case:concept:name", StringType),
      StructField("time:timestamp", TimestampType),
      StructField("v", StringType)))
    XesWriter.write(spark.createDataFrame(
      Seq(Row("c1", ts("2024-01-01 09:00:00"), 5L)).asJava, s1), file)
    val file2 = tmp.resolve("log2.xes")
    XesWriter.write(spark.createDataFrame(
      Seq(Row("c2", ts("2024-01-01 09:01:00"), "five")).asJava, s2), file2)
    val back = XesReader.read(spark, tmp.toString + "/*.xes")
    assert(back.schema("v").dataType == StringType)
    val vs = back.select("v").collect().map(_.getString(0)).toSet
    assert(vs == Set("5", "five"))
  }
}
