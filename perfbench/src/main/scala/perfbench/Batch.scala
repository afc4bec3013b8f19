package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.{SparkEntry, Tables}

/** A query of a batch workload, with the module of its entry operator
  * and the tables it reads.
  */
final case class Query(name: String, module: String, tables: Seq[String])

/** A fixed list of `SparkEntry` queries over one scale factor. Each
  * measured operation is the query function call (construction: any
  * driver jobs it runs eagerly) followed by a `noop` write of the frame
  * it returns (execution), as in `graft.Bench`. The untraced phase makes
  * at least `minPasses` whole passes over the list, and more until their
  * timed regions add up to `seconds`; a pass's wall time is the sum of its
  * operations' times, and the phase reports the median pass. In the first
  * pass each output is checked against its pinned row count and checksum,
  * outside the timed region.
  */
final class Batch(val name: String, sfDir: String, queries: Seq[Query],
                  pinned: Map[String, (Long, BigDecimal)], minPasses: Int)
    extends Workload {

  private var tableRows = Map.empty[String, Long]
  private val outputRows = scala.collection.mutable.Map.empty[String, Long]

  def prepare(spark: SparkSession, out: Path): Unit = ()
  def release(): Unit = ()

  /** Counts the rows of the tables the queries read. The outputs are
    * checked in the first pass of the untraced phase, after each query's
    * timed region.
    */
  def check(spark: SparkSession): Unit =
    tableRows = queries.flatMap(_.tables).distinct
      .map(t => t -> Tables.load(spark, sfDir, t).count()).toMap

  /** Whether `df` matches the pinned output of `q`; keeps its row count. */
  private def verify(q: Query, df: DataFrame): Boolean = {
    val got = Batch.digest(df)
    outputRows += q.name -> got._1
    val ok = pinned.get(q.name).contains(got)
    if (!ok) Main.log(s"${q.name}: output $got != pinned ${pinned.getOrElse(q.name, "-")}")
    ok
  }

  /** `name<TAB>rows<TAB>sum` for every query, in the format of `loadPins`. */
  def pinLines(spark: SparkSession): Seq[String] = queries.map { q =>
    val (rows, sum) = Batch.digest(SparkEntry.queries(q.name)(spark, sfDir))
    s"${q.name}\t$rows\t$sum"
  }

  def measure(spark: SparkSession, seed: Long, seconds: Int, tracer: Tracer,
              phase: Int): Phase = {
    val fns = SparkEntry.queries
    val passWalls = Seq.newBuilder[Double]
    val entry = Map.newBuilder[String, String]
    var attempted = 0; var failed = 0; var passes = 0
    // the traced run's later phases make one pass each
    val (minP, budgetMs) = if (phase == 0) (minPasses, seconds * 1000.0) else (1, 0.0)
    var measuredMs = 0.0
    while (passes < minP || measuredMs < budgetMs) {
      var passMs = 0.0
      val perQuery = Seq.newBuilder[String]
      queries.foreach { q =>
        val op = s"p$phase.$passes.${q.name}"
        entry += op -> q.module
        val id = tracer.nextId()
        val s0 = Clock.now()
        var s1 = s0
        attempted += 1
        val ok = try {
          val df = fns(q.name)(spark, sfDir)
          s1 = Clock.now()
          tracer.record(tracer.nextId(), id, "construct", op, s0, s1)
          df.write.format("noop").mode("overwrite").save()
          val s2 = Clock.now()
          tracer.record(tracer.nextId(), id, "execute", op, s1, s2)
          tracer.record(id, 0, "query", op, s0, s2)
          passMs += s2 - s0
          perQuery += f"${q.name} ${s1 - s0}%.0f+${s2 - s1}%.0f"
          phase > 0 || passes > 0 || verify(q, df)
        } catch { case e: Exception => Main.log(s"${q.name} failed: $e"); false }
        if (!ok) failed += 1
      }
      Main.log(f"phase $phase pass $passes: ${passMs / 1000}%.3f s (construct+execute ms: ${perQuery.result().mkString(", ")})")
      passWalls += passMs / 1000.0
      measuredMs += passMs
      passes += 1
    }
    val walls = passWalls.result()
    Phase(
      wallS = Stats.median(walls),
      attempted = attempted, failed = failed, units = passes,
      entryModule = entry.result(),
      tableRows = passes.toDouble * queries.map(_.tables.map(tableRows).sum).sum,
      llmOutputRows = passes.toDouble * queries.filter(_.module == "llm").map(q => outputRows.getOrElse(q.name, 0L)).sum,
      extra = Nil)
  }
}

object Batch {
  /** Row count and an order-insensitive checksum: the exact sum of one
    * 64-bit hash per row over every column.
    */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(df.columns.toSeq.map(c => col("`" + c.replace("`", "``") + "`")): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Pinned (rows, checksum) per query, from a `name<TAB>rows<TAB>sum` file. */
  def loadPins(path: Path): Map[String, (Long, BigDecimal)] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, s) = l.split("\t")
        n -> (rows.toLong, BigDecimal(s))
      }.toMap

  val PairGen: Seq[Query] = Seq(
    Query("q_ngram_jaccard", "llm", Seq("documents")),
    Query("q_ngram_jaccard_ppjoin", "llm", Seq("documents")),
    Query("q_ngram_containment", "llm", Seq("documents")),
    Query("q_minhash_lsh", "llm", Seq("documents")),
    Query("q_embed_neardup_lsh", "llm", Seq("embeddings")))

  val Fixpoint: Seq[Query] = Seq(
    Query("q_pagerank", "analytics", Seq("embeddings")),
    Query("q_pagerank_warm", "analytics", Seq("embeddings")),
    Query("q_label_prop", "analytics", Seq("embeddings")),
    Query("q_bfs_hops", "analytics", Seq("embeddings")),
    Query("q_kcore", "analytics", Seq("embeddings")),
    Query("q_textrank", "llm", Seq("documents")),
    Query("q_ppr_expand", "analytics", Seq("embeddings")),
    Query("q_dedup_clusters_incremental", "llm", Seq("documents")))
}
