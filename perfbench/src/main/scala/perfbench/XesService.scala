package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Duration
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.api.{EventLogGenerator, ResultCache, XesHttpServer}
import graft.queries.EventQueries

/** Expected content of one resource's XES log. Timestamps are formatted
  * as `EventLogGenerator` resolves dateless bounds.
  */
final case class Expect(events: Long, traces: Long, minTs: String, maxTs: String)

/** The paper's product path: an in-process `XesHttpServer` over the
  * events table, driven over loopback HTTP by a closed loop of
  * `clients` threads that share one seeded request schedule. Every
  * request sets `use_cache=true`. Latency is client-observed, from send
  * to the last body byte.
  */
final class XesService(sfDir: String, mix: Schedule.Mix, clients: Int) extends Workload {
  val name = "xes_service"

  private var out: Path = _
  private var server: XesHttpServer = _
  private var cache: ResultCache = _
  private var cacheDir: Path = _
  private var port = 0
  private var servers = 0
  private var expect = Map.empty[String, Expect]
  private var pool = Vector.empty[String]
  private var eventRows = 0L
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .executor(Executors.newCachedThreadPool(r => { val t = new Thread(r, "bench-http"); t.setDaemon(true); t }))
    .build()

  def prepare(spark: SparkSession, out: Path): Unit = {
    this.out = out
    val eventlog: DataFrame = EventQueries.asEventlog(Tables.events(spark, sfDir))
    servers += 1
    cacheDir = out.resolve(s"cache-$servers")
    cache = new ResultCache(cacheDir)
    wipeCache() // left over from an earlier process
    server = new XesHttpServer(() => eventlog, cache)
    port = server.start()
  }

  def release(): Unit = if (server != null) { server.stop(); server = null; wipeCache() }

  /** Per-resource expectations, computed with plain Spark over the
    * events table (the filters `generate` applies by default: clicks and
    * purchases whose lifecycle resolves to `complete`, non-null case).
    * Only resources with at least one such event enter the schedule, so
    * no request expects an empty (204) answer.
    */
  def check(spark: SparkSession): Unit = {
    val ev = Tables.events(spark, sfDir)
    eventRows = ev.count()
    val kept = ev.filter(col("event_type").isin("click", "purchase") &&
        !coalesce(col("value") < 6, lit(false)) && col("user_id").isNotNull)
      .select(col("user_id").cast("string").as("r"), col("ts"),
        concat_ws("-", col("user_id"), date_format(col("ts"), "yyyyMMdd")).as("case"))
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    expect = kept.groupBy("r").agg(count(lit(1)), countDistinct(col("case")),
        date_format(min(col("ts")), fmt), date_format(max(col("ts")), fmt))
      .collect().map(r => r.getString(0) -> Expect(r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .toMap
    pool = expect.keys.toVector.sorted
  }

  private def wipeCache(): Unit = {
    val s = Files.list(cacheDir)
    try s.forEach(p => Files.delete(p)) finally s.close()
  }

  private def send(r: Req): (Int, Array[Byte]) = {
    val base = s"http://127.0.0.1:$port"
    val req =
      if (r.kind == "bulk")
        HttpRequest.newBuilder(URI.create(s"$base/resources?use_cache=true"))
          .POST(HttpRequest.BodyPublishers.ofString(
            r.ids.map(i => "\"" + i + "\"").mkString("{\"resource_ids\": [", ",", "]}")))
          .header("Content-Type", "application/json")
      else HttpRequest.newBuilder(URI.create(s"$base/resource/${r.ids.head}?use_cache=true")).GET()
    val resp = http.send(req.timeout(Duration.ofSeconds(120)).build(), HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode(), resp.body())
  }

  /** The cache file a request's response is keyed under. */
  private def cachePath(r: Req): Path = {
    val es = r.ids.map(expect)
    val p = EventLogGenerator.Params(resourceIds = r.ids,
      startDate = Some(es.map(_.minTs).min), endDate = Some(es.map(_.maxTs).max))
    cache.pathFor(EventLogGenerator.cacheKey(p))
  }

  private def mtime(p: Path): Option[Long] =
    if (Files.exists(p)) Some(Files.getLastModifiedTime(p).to(TimeUnit.NANOSECONDS)) else None

  /** Why a response is wrong, if it is. */
  private def verify(r: Req, body: Array[Byte]): Option[String] = {
    val want = r.ids.map(expect)
    XesCheck.count(body) match {
      case Left(err) => Some(s"malformed XES: $err")
      case Right((traces, events)) =>
        val (t, e) = (want.map(_.traces).sum, want.map(_.events).sum)
        if (traces == t && events == e) None
        else Some(s"$traces traces / $events events, expected $t / $e")
    }
  }

  /** Sends a schedule from `clients` closed-loop threads. */
  private def run(schedule: Vector[Req], tracer: Tracer, phase: Int): Array[Done] = {
    val finished = schedule.map(_ => new CountDownLatch(1))
    val results = new Array[Done](schedule.size)
    val next = new AtomicInteger(0)
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < schedule.size) {
          val r = schedule(i)
          if (r.target >= 0) finished(r.target).await()
          val path = cachePath(r)
          val before = mtime(path)
          val s = Clock.now()
          val d =
            try {
              val (status, body) = send(r)
              val e = Clock.now()
              val hit = before.isDefined && mtime(path) == before
              Done(r, s, e, status, body, hit, None)
            } catch { case ex: Exception => Done(r, s, Clock.now(), -1, Array.emptyByteArray, false, Some(ex.toString)) }
          tracer.record(tracer.nextId(), 0, s"request:${r.kind}", s"p$phase.r$i", d.send, d.end)
          results(i) = d
          finished(i).countDown()
          i = next.getAndIncrement()
        }
      }, s"bench-client-$c")
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    results
  }

  /** Every response against its expectation; outside any timed region. */
  private def failures(results: Array[Done]): Seq[String] = {
    val out = results.toSeq.flatMap { d =>
      val why = d.error.orElse {
        if (d.status != 200) Some(s"HTTP ${d.status}")
        else verify(d.r, d.body).orElse {
          if (d.observedHit != (d.r.kind == "hit")) Some(s"cache ${if (d.observedHit) "hit" else "miss"} on a ${d.r.kind} request")
          else None
        }
      }
      why.map(w => s"request ${d.r.index} (${d.r.kind}): $w")
    }
    out.take(5).foreach(Main.log)
    out
  }

  def measure(spark: SparkSession, seed: Long, seconds: Int, tracer: Tracer,
              phase: Int): Phase = {
    if (phase > 0) { release(); prepare(spark, out) }
    val results = run(Schedule.build(seed, pool, mix), tracer, phase)
    val wall = (results.map(_.end).max - results.map(_.send).min) / 1000.0
    val failed = failures(results)

    def p(kind: String, q: Double): Double = {
      val xs = results.toSeq.filter(_.r.kind == kind).map(d => d.end - d.send)
      if (xs.isEmpty) 0.0 else Stats.percentile(xs, q)
    }
    val misses = results.toSeq.filter(d => d.r.kind != "hit" && d.status == 200)
    Phase(
      wallS = wall,
      attempted = results.length, failed = failed.size, units = 1,
      entryModule = results.indices.map(i => s"p$phase.r$i" -> "api").toMap,
      tableRows = results.length.toDouble * eventRows,
      llmOutputRows = 0,
      extra = Seq(
        Metric("api.small_p50_ms", p("small", 0.50), "ms"),
        Metric("api.small_p90_ms", p("small", 0.90), "ms"),
        Metric("api.bulk_p50_ms", p("bulk", 0.50), "ms"),
        Metric("api.hit_p50_ms", p("hit", 0.50), "ms"),
        Metric("api.cache_hit_ratio", results.count(_.observedHit).toDouble / results.length, "ratio"),
        Metric("xes.bytes_out_mb", misses.map(_.body.length.toLong).sum / 1048576.0, "MB")))
  }
}

/** One answered request. */
private final case class Done(r: Req, send: Double, end: Double, status: Int,
                              body: Array[Byte], observedHit: Boolean, error: Option[String])

/** Counts `<trace>` and `<event>` elements of an XES document whose root
  * is `<log>`, or says why it is not well-formed.
  */
object XesCheck {
  private val factory = {
    val f = javax.xml.parsers.SAXParserFactory.newInstance()
    f.setNamespaceAware(true)
    f
  }

  def count(body: Array[Byte]): Either[String, (Long, Long)] = {
    var traces = 0L; var events = 0L; var depth = 0; var root = ""
    val h = new org.xml.sax.helpers.DefaultHandler {
      override def startElement(uri: String, local: String, q: String, a: org.xml.sax.Attributes): Unit = {
        if (depth == 0) root = local
        depth += 1
        if (local == "trace") traces += 1 else if (local == "event") events += 1
      }
      override def endElement(uri: String, local: String, q: String): Unit = depth -= 1
    }
    try {
      factory.newSAXParser().parse(new java.io.ByteArrayInputStream(body), h)
      if (root != "log") Left(s"root element <$root>") else Right((traces, events))
    } catch { case e: Exception => Left(e.getMessage) }
  }
}
