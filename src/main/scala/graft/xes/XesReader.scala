package graft.xes

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** XES XML source — the other half of the reference's artifact
  * lifecycle: the service SERVES .xes files (app.py:230) and its
  * consumers load them with `pm4py.read_xes`, so a library user needs
  * the read path to swap engines completely. Parses the writer's own
  * single-file and sharded outputs (and any XES whose attributes are
  * flat typed key/values) back into one row per event.
  *
  * Spark-first shape: files parse DISTRIBUTED via `binaryFiles` —
  * one task per shard file, so reading the sharded sink's output
  * scales with executors (a single-file log is inherently one task,
  * same note as the single-file writer) — and each file parses
  * STREAMING (StAX, `staxEvents`), so executor memory is bounded by
  * one trace rather than the whole document. Schema is inferred from
  * the typed attribute tags in TWO passes over the files (exactly
  * like `spark.read.json` without a user schema): pass 1 unions the
  * (key → XES type) set; pass 2 parses rows into that fixed schema.
  * A key observed under conflicting tags widens to string with the
  * raw attribute text.
  *
  * Type mapping (inverse of XesWriter's): date → timestamp,
  * int → long, float → double, boolean → boolean, string → string.
  * The trace's own `concept:name` becomes the case column; an absent
  * attribute is null (the writer omits null attributes symmetrically,
  * so write → read round-trips losslessly up to the date format's
  * millisecond precision — XesReaderSpec pins it, and the
  * q_xes_roundtrip oracle proves it against the raw table).
  */
object XesReader {

  /** key → (xes tag, raw value) per event, with its trace's case id. */
  private[xes] final case class RawEvent(caseId: String,
                                         attrs: Map[String, (String, String)])

  /** Streaming (StAX cursor) XES event iterator — memory is bounded
    * by ONE TRACE, not the document: events buffer only until their
    * trace closes (the trace's `concept:name` may legally appear
    * after its events, and every event of a trace carries the same
    * case id), so a giant single-shard log never materializes whole
    * on an executor. A stream whose root element is not `<log>`
    * (sidecars, _SUCCESS markers) yields no events. Malformed XML
    * after a valid root throws. The input stream is closed when the
    * document ends.
    *
    * Only DIRECT children are honored: events at trace depth,
    * attributes at event depth, the case id at trace depth — a
    * `<global>` block's defaults or nested containers never leak
    * into rows. DTDs and external entities are disabled (the
    * files are machine-written, and a log shard must not be able to
    * make the parser fetch anything).
    */
  private[graft] def staxEvents(in: java.io.InputStream): Iterator[RawEvent] = {
    val fac = javax.xml.stream.XMLInputFactory.newInstance()
    fac.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    fac.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    import javax.xml.stream.XMLStreamConstants._
    new scala.collection.AbstractIterator[RawEvent] {
      private val pending = scala.collection.mutable.Queue.empty[RawEvent]
      private var reader: javax.xml.stream.XMLStreamReader = _
      private var rootChecked = false
      private var done = false
      private var depth = 0
      private var traceDepth = -1
      private var eventDepth = -1
      private var caseId: String = null
      private var evAttrs: scala.collection.mutable.Builder[
        (String, (String, String)), Map[String, (String, String)]] = _
      private val traceEvs =
        scala.collection.mutable.ArrayBuffer.empty[Map[String, (String, String)]]

      private def finish(): Unit = {
        done = true
        if (reader != null) reader.close()
        in.close()
      }

      private def advance(): Unit = {
        if (done || pending.nonEmpty) return
        try {
          if (reader == null) reader = fac.createXMLStreamReader(in)
          while (pending.isEmpty && !done) {
            if (!reader.hasNext) finish()
            else reader.next() match {
              case START_ELEMENT =>
                depth += 1
                val name = reader.getLocalName
                if (!rootChecked) {
                  rootChecked = true
                  if (name != "log") finish()
                } else if (traceDepth < 0 && name == "trace") {
                  traceDepth = depth; caseId = null; traceEvs.clear()
                } else if (traceDepth > 0 && eventDepth < 0 &&
                           depth == traceDepth + 1 && name == "event") {
                  eventDepth = depth; evAttrs = Map.newBuilder
                } else if (eventDepth > 0 && depth == eventDepth + 1) {
                  evAttrs += reader.getAttributeValue(null, "key") ->
                    ((name, reader.getAttributeValue(null, "value")))
                } else if (traceDepth > 0 && eventDepth < 0 &&
                           depth == traceDepth + 1 && name == "string" &&
                           reader.getAttributeValue(null, "key") == "concept:name") {
                  caseId = reader.getAttributeValue(null, "value")
                }
              case END_ELEMENT =>
                if (eventDepth > 0 && depth == eventDepth) {
                  traceEvs += evAttrs.result(); eventDepth = -1
                } else if (traceDepth > 0 && depth == traceDepth) {
                  val cid = caseId
                  traceEvs.foreach(m => pending.enqueue(RawEvent(cid, m)))
                  traceEvs.clear(); traceDepth = -1
                }
                depth -= 1
              case END_DOCUMENT => finish()
              case _ =>
            }
          }
        } catch {
          // a stream that can't produce a root element (empty sidecar,
          // non-XML bytes) is "not an XES file" — skip, like the old
          // contains("<log") probe; errors PAST a valid root rethrow
          case _: javax.xml.stream.XMLStreamException if !rootChecked =>
            finish()
        }
      }

      override def hasNext: Boolean = { advance(); pending.nonEmpty }
      override def next(): RawEvent = {
        advance()
        if (pending.isEmpty) throw new NoSuchElementException("staxEvents")
        pending.dequeue()
      }
    }
  }

  private[xes] def typeOfTag(tag: String): DataType = typeOf(tag)

  private def typeOf(tag: String): DataType = tag match {
    case "date" => TimestampType
    case "int" => LongType
    case "float" => DoubleType
    case "boolean" => BooleanType
    case _ => StringType
  }

  private def parseValue(dt: DataType, raw: String): Any = dt match {
    case TimestampType =>
      java.sql.Timestamp.from(java.time.OffsetDateTime.parse(raw).toInstant)
    case LongType => java.lang.Long.valueOf(raw)
    case DoubleType => java.lang.Double.valueOf(raw)
    case BooleanType => java.lang.Boolean.valueOf(raw)
    case _ => raw
  }

  /** Read XES file(s) at `path` (a file, a sharded directory, or a
    * glob) into an event DataFrame. Column order: the case column,
    * then attribute keys sorted.
    *
    * One task per shard file (scan parallelism = shard count), each
    * parsed STREAMING via `staxEvents` — per-executor memory is
    * bounded by one trace, so a multi-gigabyte single-shard log reads
    * in constant space instead of materializing the document twice
    * (bytes + DOM) the way `wholeTextFiles` did. Sidecars skip via
    * the iterator's root-element probe.
    */
  def read(spark: SparkSession, path: String,
           caseCol: String = XesWriter.DefaultCaseCol): DataFrame = {
    val events = spark.sparkContext.binaryFiles(path)
      .flatMap { case (_, pds) => staxEvents(pds.open()) }
    // pass 1: schema. A key under exactly one tag gets that tag's
    // type; conflicting tags widen to string (raw text preserved).
    val keyTags: Map[String, Set[String]] = events
      .flatMap(_.attrs.map { case (k, (tag, _)) => (k, tag) })
      .distinct().collect().groupBy(_._1).map { case (k, ts) => k -> ts.map(_._2).toSet }
    val keys = keyTags.keys.toSeq.sorted
    val types: Map[String, DataType] = keyTags.map { case (k, tags) =>
      k -> (if (tags.size == 1) typeOf(tags.head) else StringType)
    }
    val schema = StructType(
      StructField(caseCol, StringType) +:
        keys.map(k => StructField(k, types(k))))
    // pass 2: rows (files re-parse, like schema-less spark.read.json)
    val rows = events.map { ev =>
      Row.fromSeq(ev.caseId +: keys.map { k =>
        ev.attrs.get(k) match {
          case None => null
          case Some((_, raw)) if types(k) == StringType => raw
          case Some((_, raw)) => parseValue(types(k), raw)
        }
      })
    }
    spark.createDataFrame(rows, schema)
  }
}
