package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** What one measured phase of a workload produced. Totals cover `units`
  * repetitions of the workload's unit of work (query-list passes, or one
  * request schedule), and per-layer metrics are reported per unit.
  */
final case class Phase(
    wallS: Double,
    attempted: Int,
    failed: Int,
    units: Int,
    /** operation id -> module of its entry operator */
    entryModule: Map[String, String],
    /** rows of the tables the phase's operations declare they read */
    tableRows: Double,
    /** rows produced by operations whose entry module is `llm` */
    llmOutputRows: Double,
    /** workload-specific per-layer metrics, already per unit */
    extra: Seq[Metric])

final case class Metric(name: String, value: Double, unit: String)

trait Workload {
  def name: String
  /** Timed as part of each set-up, after the session and its warm-up. */
  def prepare(spark: SparkSession, out: Path): Unit
  /** Undoes `prepare` between repeated set-ups and at the end. */
  def release(): Unit
  /** Untimed: computes what the output checks compare against. */
  def check(spark: SparkSession): Unit
  def measure(spark: SparkSession, seed: Long, seconds: Int, tracer: Tracer,
              phase: Int): Phase
}
