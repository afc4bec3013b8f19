package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

import graft.Tables

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --data <dir holding sf0.1, sf0.01> --out <dir> [--pins <file>]
  * }}}
  *
  * The process sets up `SetUps` times (session, warm-up, workload
  * preparation such as the server start) and reports the median as
  * `setup_s`; the first set-up is timed from JVM start. Then it prepares
  * the output checks (untimed) and measures one phase with tracing off.
  * With `--trace 1` it sets up once, and after the untraced phase runs a
  * traced phase and one more untraced phase. The last stdout line is the
  * JSON result; see README.md for the metrics.
  */
object Main {

  val SetUps = 3

  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%6.1f s] $msg")

  /** The `xes_service` request mix: 60% small, 10% bulk, 30% hits. */
  val XesMix: Schedule.Mix = Schedule.Mix(small = 100, bulk = 20, hit = 50)

  def workload(name: String, data: String, pins: Path): Workload = name match {
    case "xes_service" =>
      new XesService(s"$data/sf0.1", XesMix, clients = cpus)
    case "pair_gen" =>
      new Batch(name, s"$data/sf0.01", Batch.PairGen, Batch.loadPins(pins), minPasses = 3)
    case "fixpoint" =>
      new Batch(name, s"$data/sf0.01", Batch.Fixpoint, Batch.loadPins(pins), minPasses = 1)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  lazy val cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(out: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The warm-up `graft.Bench` runs before its first timed query. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    Tables.events(spark, sfDir).limit(1).write.format("noop").mode("overwrite").save()
    val base = spark.range(0L, 20000L, 1L, 8)
      .select(col("id"), pmod(col("id"), lit(97L)).as("k"))
    val agg = base.groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
    base.join(agg, Seq("k"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("k")).orderBy(col("id"))))
      .filter(col("rn") <= 3)
      .write.format("noop").mode("overwrite").save()
  }

  /** Highest resident set size of this process so far, in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val data = arg("data")
    val out = Paths.get(arg("out")).toAbsolutePath
    val pins = Paths.get(args.getOrElse("pins", "perfbench/pins.tsv"))
    Files.createDirectories(out)
    val wl = workload(name, data, pins)
    val pinMode = args.get("pin").contains("1")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark: SparkSession = null
    val nSetups = if (trace) 1 else SetUps
    val setups = (0 until nSetups).map { i =>
      val t0 = if (i == 0) jvmStart else System.currentTimeMillis().toDouble
      spark = session(out)
      warmUp(spark, s"$data/sf0.1")
      wl.prepare(spark, out)
      val s = (System.currentTimeMillis() - t0) / 1000.0
      if (i < nSetups - 1) { wl.release(); spark.stop() }
      s
    }
    log(f"set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s")

    if (pinMode) {
      pin(spark, wl)
      spark.stop(); sys.exit(0)
    }

    wl.check(spark)
    val plain = wl.measure(spark, seed, seconds, new Tracer(false), 0)
    log(f"phase 0: wall ${plain.wallS}%.3f s, ${plain.units} unit(s), ${plain.failed}/${plain.attempted} failed")

    var attempted = plain.attempted
    var failed = plain.failed
    val metrics: Seq[Metric] =
      if (!trace) Seq(
        // the end-to-end metrics, in BENCHMARK.json order
        Metric("setup_s", Stats.median(setups), "s"),
        Metric("wall_s", plain.wallS, "s"),
        Metric("ok_ratio", 1.0 - failed.toDouble / attempted, "ratio"),
        Metric("peak_rss_mb", peakRssMb(), "MB"))
      else {
        val rec = new Recorder
        val tracer = new Tracer(true)
        spark.sparkContext.addSparkListener(rec)
        spark.listenerManager.register(rec)
        val traced = wl.measure(spark, seed, seconds, tracer, 1)
        BusDrain(spark.sparkContext)
        spark.listenerManager.unregister(rec)
        spark.sparkContext.removeSparkListener(rec)
        attempted += traced.attempted
        failed += traced.failed
        // an untraced phase as warm as the traced one, for the overhead
        val after = wl.measure(spark, seed, seconds, new Tracer(false), 2)
        attempted += after.attempted
        failed += after.failed
        log(f"phase 1 (traced): wall ${traced.wallS}%.3f s; phase 2: wall ${after.wallS}%.3f s")
        val spans = tracer.all
        val jobs = Layers.attribute(rec, spans, traced)
        val file = out.resolve(s"spans-$name-seed$seed.jsonl")
        Files.write(file, Layers.spanLines(spans, jobs).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        log(s"span trace: $file")
        log(s"jobs by attribution step: ${(1 to 3).map(k => s"$k: ${jobs.count(_.step == k)}").mkString(", ")}")
        // the class latencies come from the untraced phase
        Layers.complete(plain.extra.filter(_.name.endsWith("_ms")) ++
          traced.extra.filterNot(_.name.endsWith("_ms")) ++
          Layers.compute(rec, spans, traced, jobs) :+
          Metric("trace.overhead_pct", (traced.wallS / after.wallS - 1.0) * 100.0, "%"))
      }

    wl.release()
    spark.stop()
    val body = metrics.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""").mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    System.out.flush()
    sys.exit(0)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).bigDecimal.toPlainString

  /** Prints the pinned-output lines of a batch workload. */
  private def pin(spark: SparkSession, wl: Workload): Unit = wl match {
    case b: Batch => b.pinLines(spark).foreach(println)
    case _ => throw new IllegalArgumentException("only batch workloads have pinned outputs")
  }
}
