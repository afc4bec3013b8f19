package perfbench

/** Assigns each Spark job to one of the engine's modules (the packages
  * under `graft`), in three steps:
  *
  *  1. the innermost `graft.<module>` frame of the job's stage call site;
  *  2. otherwise, that of the call site of the SQL execution the job
  *     belongs to (jobs that Spark submits from its own threads, such as
  *     broadcast builds, carry no engine frame of their own);
  *  3. otherwise, the module of the operation's entry operator, declared
  *     with each query or request.
  */
object Attribution {

  val Modules: Set[String] = Set("analytics", "api", "functions", "llm",
    "operators", "queries", "sources", "streaming", "xes")

  /** Top-level engine objects that stand for a module. */
  private val TopLevel: Map[String, String] = Map(
    "Tables" -> "sources", "SparkEntry" -> "queries")

  private val Frame = """^\s*(?:at\s+)?graft\.([A-Za-z0-9_]+)[.$]""".r.unanchored

  def moduleOfFrame(line: String): Option[String] = line match {
    case Frame(seg) if Modules(seg) => Some(seg)
    case Frame(seg) => TopLevel.get(seg)
    case _ => None
  }

  /** Module of the innermost engine frame of a long-form call site. */
  def innermost(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.linesIterator).flatMap(moduleOfFrame).nextOption()

  /** The module and the step (1, 2 or 3) that decided it. */
  def attribute(stageCallSite: String, sqlCallSite: Option[String],
                entryModule: String): (String, Int) =
    innermost(stageCallSite).map(_ -> 1)
      .orElse(sqlCallSite.flatMap(innermost).map(_ -> 2))
      .getOrElse(entryModule -> 3)
}
