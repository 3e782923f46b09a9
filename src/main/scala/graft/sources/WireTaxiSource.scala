package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.Events
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.Statistics
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for the reference's taxi wire format —
  * newline-delimited snake_case JSON with a `type` discriminator
  * (events/kinesis/Event.java:35-54), optionally gzipped per file
  * (TaxiEventReader.java:84-118). This is the batch-source analogue
  * of the reference's Kinesis consumer registration
  * (ProcessTaxiStream.java:73-84): where Flink wires a SourceFunction
  * by hand, Spark's connector API lets the engine register the wire
  * format as a first-class table so every downstream optimization
  * (filter pushdown, column pruning, partition parallelism) applies
  * before a single line is parsed.
  *
  *   spark.read.format("wire-taxi").load(dir | file)
  *
  * Scale design:
  *  - one InputPartition per file — gzip streams are not splittable,
  *    so the file is the parallelism unit exactly as a Kinesis shard
  *    is the reference's (a 100 TB corpus is many files, not one);
  *  - column pruning reaches the parser: only requested fields are
  *    extracted from each JsonNode, and rows are built directly as
  *    InternalRow (no Row round-trip);
  *  - pushed filters run against the parsed node BEFORE projection,
  *    so a `type = 'trip'` scan never materializes watermark rows.
  *    Every filter is also returned as residual for Spark to
  *    re-check — the same belt-and-braces contract the built-in
  *    Parquet source uses, so a semantics mismatch in the source can
  *    drop rows at worst never corrupt results;
  *  - malformed lines are skipped, matching the reader contract R1
  *    (TaxiEventReader.java:136-141) and the codec's skip-malformed
  *    layer (EventCodec.parseEvents).
  */
class WireTaxiSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "wire-taxi"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Events.wireSchema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("wire-taxi requires a load path"))
    new WireTaxiTable(path, schema)
  }
}

class WireTaxiTable(path: String, schema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"wire-taxi:$path"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WireTaxiScanBuilder(path, schema,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt))
}

class WireTaxiScanBuilder(path: String, tableSchema: StructType,
    maxFilesPerTrigger: Option[Int])
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(WireTaxiFilters.supported)
    filters // all residual: Spark re-evaluates (safe double-check)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new WireTaxiScan(path, required, pushed, maxFilesPerTrigger)
}

class WireTaxiScan(path: String, required: StructType,
    pushed: Array[Filter], maxFilesPerTrigger: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** On-disk bytes of the listed files — the size signal Catalyst's
    * join planning consumes (gzipped files under-report their decoded
    * size, the same conservative estimate built-in file sources
    * give). Row count is unknowable without parsing; left empty. */
  override def estimateStatistics(): Statistics = {
    val bytes = WireTaxiFiles.list(path).map { f =>
      try java.nio.file.Files.size(java.nio.file.Paths.get(f))
      catch { case _: Exception => 0L }
    }.sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def description(): String =
    s"WireTaxiScan path=$path, ReadSchema: ${required.simpleString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]"

  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String): MicroBatchStream =
    new WireTaxiMicroBatchStream(path, required, pushed,
      maxFilesPerTrigger, checkpointLocation)

  override def planInputPartitions(): Array[InputPartition] =
    WireTaxiFiles.list(path).map(f => WireTaxiPartition(f): InputPartition)

  override def createReaderFactory(): PartitionReaderFactory =
    new WireTaxiReaderFactory(required, pushed)
}

object WireTaxiFiles {
  /** Name-sorted regular files under `path` (or `path` itself when it
    * IS a regular file). Hidden and in-flight files — `.`/`_`
    * prefixes, the Hadoop/Spark convention the replay writer's
    * dot-temp files follow — are excluded, matching the built-in file
    * sources. A nonexistent path yields an EMPTY listing — never the
    * path itself: in streaming, discover() appends what this returns
    * to the checkpointed discovery log, and a bogus "file" entry for a
    * not-yet-created input directory would be replayed as a permanent
    * per-batch failure on every restart. Empty means the source just
    * waits for data, like the built-in file sources do. */
  def list(path: String): Array[String] = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(p)) {
      val listing = java.nio.file.Files.list(p)
      try listing.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filter { f =>
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }
        .map(_.toString).toArray.sorted
      finally listing.close()
    } else if (java.nio.file.Files.isRegularFile(p)) Array(path)
    else Array.empty
  }
}

/** Stream offset: how many files of the checkpointed DISCOVERY log
  * have been ingested. */
case class WireTaxiOffset(fileCount: Int) extends Offset {
  override def json(): String = fileCount.toString
}

/** MICRO_BATCH_READ over the wire directory — the engine's streaming
  * source analogue of the reference's Kinesis consumer registration
  * (ProcessTaxiStream.java:73-84): each new file is a batch of shard
  * records.
  *
  * Offsets index a DISCOVERY LOG, not the raw listing: each
  * latestOffset() appends newly-listed files to
  * `<checkpoint>/wiretaxi-files.log` (driver-only writer, appended
  * BEFORE the engine commits the batch, so the log is always a
  * superset of committed offsets), and offset `n` always denotes the
  * first n logged files. A multi-writer producer may therefore
  * publish files in any name order — the replay writer interleaves
  * `part-P-S` across partitions — without the prefix-of-a-sorted-
  * listing races (duplicated or skipped files) a listing-based offset
  * has. Files must still be immutable once visible; in-flight
  * `.`/`_`-prefixed temp files are excluded by the shared lister. */
class WireTaxiMicroBatchStream(path: String, required: StructType,
    pushed: Array[Filter], maxFilesPerTrigger: Option[Int] = None,
    checkpointLocation: String = "") extends MicroBatchStream
    with SupportsTriggerAvailableNow
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {

  private val logFile: Option[java.nio.file.Path] =
    if (checkpointLocation.isEmpty) None
    else {
      val dir = java.nio.file.Paths.get(
        checkpointLocation.stripPrefix("file:"))
      java.nio.file.Files.createDirectories(dir)
      Some(dir.resolve("wiretaxi-files.log"))
    }

  // discovery order (log order); restart reloads the committed log
  private var seen: Vector[String] = logFile match {
    case Some(f) if java.nio.file.Files.exists(f) =>
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(f)).asScala
        .filter(_.nonEmpty).toVector
    case _ => Vector.empty
  }
  private var seenSet: Set[String] = seen.toSet

  /** List the directory and append not-yet-logged files (name-sorted
    * within the discovery batch) to the log. Driver-only. */
  private def discover(): Int = synchronized {
    val fresh = WireTaxiFiles.list(path).filterNot(seenSet)
    if (fresh.nonEmpty) {
      logFile.foreach { f =>
        java.nio.file.Files.write(f,
          scala.jdk.CollectionConverters.SeqHasAsJava(
            fresh.toSeq).asJava,
          java.nio.charset.StandardCharsets.UTF_8,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
      seen = seen ++ fresh
      seenSet = seenSet ++ fresh
    }
    seen.length
  }

  // Trigger.AvailableNow: pin the target at query start so the run
  // drains exactly that prefix (and the engine still runs the final
  // no-data batch that flushes watermark-closed windows — sources
  // without this support are wrapped and terminated early, losing
  // that flush).
  private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(discover())

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val all = availableNowTarget.getOrElse(discover())
    val s = start.asInstanceOf[WireTaxiOffset].fileCount
    limit match {
      case mf: ReadMaxFiles =>
        WireTaxiOffset(math.min(all, s + mf.maxFiles()))
      case _ => WireTaxiOffset(all)
    }
  }

  override def reportLatestOffset(): Offset = WireTaxiOffset(discover())

  override def initialOffset(): Offset = WireTaxiOffset(0)

  override def latestOffset(): Offset = WireTaxiOffset(discover())

  override def deserializeOffset(json: String): Offset =
    WireTaxiOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WireTaxiOffset].fileCount
    val e = end.asInstanceOf[WireTaxiOffset].fileCount
    if (e > seen.length) discover()
    require(e <= seen.length,
      s"offset $e beyond the $path discovery log (${seen.length})")
    seen.slice(s, e).toArray
      .map(f => WireTaxiPartition(f): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WireTaxiReaderFactory(required, pushed)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Kinesis-shaped admission metrics, surfaced per batch in
    * `StreamingQueryProgress.sources[].metrics` (the engine analogue
    * of the reference's only SLO — the consumer-lag alarm on
    * GetRecords.IteratorAgeMilliseconds,
    * cfn-templates/flink-refarch-infrastructure.yml:355-369):
    *  - `pendingFiles`: discovered-but-unconsumed files ("shards
    *    behind") at this progress point;
    *  - `iteratorAgeMs`: now − modification time of the OLDEST
    *    unconsumed file — how stale the next record to be admitted
    *    already is. 0 when fully caught up; grows monotonically while
    *    admission (maxFilesPerTrigger) throttles below the publish
    *    rate, exactly like the Kinesis metric it mirrors. */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val consumed =
      if (latestConsumedOffset.isPresent)
        latestConsumedOffset.get.asInstanceOf[WireTaxiOffset].fileCount
      else 0
    val (pending, ageMs) = synchronized {
      val pend = seen.length - consumed
      val age =
        if (pend <= 0) 0L
        else {
          val oldest = java.nio.file.Paths.get(seen(consumed))
          try math.max(0L, System.currentTimeMillis() -
            java.nio.file.Files.getLastModifiedTime(oldest).toMillis)
          catch { case _: java.io.IOException => 0L } // racing deletion
        }
      (math.max(0, pend), age)
    }
    java.util.Map.of(
      "pendingFiles", pending.toString,
      "iteratorAgeMs", ageMs.toString)
  }
}

case class WireTaxiPartition(file: String) extends InputPartition

class WireTaxiReaderFactory(required: StructType, pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WireTaxiPartitionReader(
      partition.asInstanceOf[WireTaxiPartition].file, required, pushed)
}

/** Streams one wire file: gunzip by magic byte, parse each line with
  * Jackson, drop lines failing the pushed filters, project the pruned
  * schema straight into an InternalRow. */
class WireTaxiPartitionReader(
    file: String, required: StructType, pushed: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val reader = {
    val raw = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(file))
    val in = new java.io.PushbackInputStream(raw, 2)
    val b1 = in.read(); val b2 = in.read()
    if (b2 != -1) in.unread(b2)
    if (b1 != -1) in.unread(b1)
    val stream =
      if (b1 == 0x1f && b2 == 0x8b) new java.util.zip.GZIPInputStream(in)
      else in
    new java.io.BufferedReader(
      new java.io.InputStreamReader(stream, "UTF-8"))
  }

  private var row: InternalRow = _

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      parse(line) match {
        case Some(n) if pushed.forall(WireTaxiFilters.eval(_, n)) =>
          row = project(n)
          return true
        case _ => // malformed or filtered at source: skip
      }
      line = reader.readLine()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()

  private def parse(line: String): Option[JsonNode] =
    try {
      val n = mapper.readTree(line)
      if (n != null && n.isObject) Some(n) else None
    } catch { case _: Exception => None }

  private def project(n: JsonNode): InternalRow = {
    val values = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      values(i) = WireTaxiFilters.extract(n, required(i))
      i += 1
    }
    new GenericInternalRow(values)
  }
}

/** Shared JSON-field extraction and source-side filter evaluation. */
object WireTaxiFilters {

  /** Typed value of a wire field, null when absent (matches the
    * union-schema semantics of EventCodec.parseEvents). Timestamps
    * become epoch MICROS, the InternalRow encoding of TimestampType. */
  def extract(n: JsonNode, field: StructField): Any = {
    val v = n.get(field.name)
    if (v == null || v.isNull) return null
    field.dataType match {
      case StringType => UTF8String.fromString(v.asText())
      // isIntegralNumber (not canConvertToLong): for floating-point
      // nodes canConvertToLong only range-checks, silently truncating
      // e.g. trip_id: 5.5 to 5 — diverging from both the from_json
      // codec path (marks the record corrupt) and longCmp below
      // (compares such nodes as doubles). Non-integral input is null
      // here so extraction, pushed-filter eval, and the codec agree.
      case LongType =>
        if (v.isIntegralNumber && v.canConvertToLong) v.asLong() else null
      case DoubleType => if (v.isNumber) v.asDouble() else null
      case TimestampType =>
        parseTimestampMicros(v.asText())
      case other =>
        throw new IllegalArgumentException(
          s"wire-taxi: unsupported column type $other for ${field.name}")
    }
  }

  /** ISO-8601 with the same leniency the from_json codec path has
    * for this engine's wire data: a space date/time separator and a
    * missing zone designator (treated as UTC — every graft session
    * pins spark.sql.session.timeZone=UTC) both parse instead of
    * nulling, so the connector and the text path agree row for row.
    * Returns epoch MICROS boxed, or null. */
  def parseTimestampMicros(s: String): Any = {
    def micros(inst: java.time.Instant): Any =
      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
    try micros(java.time.Instant.parse(s))
    catch {
      case _: Exception =>
        try {
          val t = s.trim.replace(' ', 'T')
          val zoned = t.length > 10 &&
            (t.endsWith("Z") || t.lastIndexOf('+') > 10 ||
              t.lastIndexOf('-') > 10)
          if (zoned) // +hh:mm offsets: ISO_INSTANT accepts only Z
            micros(java.time.OffsetDateTime.parse(t).toInstant)
          else micros(java.time.Instant.parse(t + "Z"))
        } catch { case _: Exception => null }
    }
  }

  /** Filters the source evaluates itself. Timestamp comparisons stay
    * residual-only — Spark's session-zone parsing is the single
    * source of truth for those. */
  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, v) => comparable(a, v)
    case GreaterThan(a, v) => comparable(a, v)
    case GreaterThanOrEqual(a, v) => comparable(a, v)
    case LessThan(a, v) => comparable(a, v)
    case LessThanOrEqual(a, v) => comparable(a, v)
    case In(a, vs) => vs.nonEmpty && vs.forall(comparable(a, _))
    case IsNotNull(_) | IsNull(_) => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case _ => false
  }

  private def comparable(attr: String, value: Any): Boolean = value match {
    case _: String => attr == "type"
    case _: Long | _: Int | _: Double => numericCols(attr)
    case _ => false
  }

  private val numericCols = Set("trip_id", "pickup_lat", "pickup_lon",
    "dropoff_lat", "dropoff_lon", "total_amount")

  /** SQL three-valued logic collapsed to keep/drop: a comparison on
    * an absent field is false (the residual re-check agrees). */
  def eval(f: Filter, n: JsonNode): Boolean = f match {
    case EqualTo(a, v) => cmp(a, v, n).contains(0)
    case GreaterThan(a, v) => cmp(a, v, n).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(a, v, n).exists(_ >= 0)
    case LessThan(a, v) => cmp(a, v, n).exists(_ < 0)
    case LessThanOrEqual(a, v) => cmp(a, v, n).exists(_ <= 0)
    case In(a, vs) => vs.exists(v => cmp(a, v, n).contains(0))
    case IsNotNull(a) => hasField(a, n)
    case IsNull(a) => !hasField(a, n)
    case And(l, r) => eval(l, n) && eval(r, n)
    case Or(l, r) => eval(l, n) || eval(r, n)
    case _ => true // unsupported never reaches here; keep = safe
  }

  private def hasField(attr: String, n: JsonNode): Boolean = {
    val v = n.get(attr)
    v != null && !v.isNull
  }

  /** compare(field, literal) → None when the field is absent or the
    * node isn't of a comparable kind. */
  private def cmp(attr: String, value: Any, n: JsonNode): Option[Int] = {
    val v = n.get(attr)
    if (v == null || v.isNull) return None
    value match {
      case s: String => if (v.isTextual) Some(v.asText().compareTo(s)) else None
      case num: Long => longCmp(v, num)
      case num: Int => longCmp(v, num.toLong)
      case num: Double => numCmp(v, num)
      case _ => None
    }
  }

  /** Integral literals compare through Long when the JSON value is
    * integral too — a double round-trip would collapse neighbors
    * above 2^53 and a row dropped at the source has no residual
    * resurrection. */
  private def longCmp(v: JsonNode, l: Long): Option[Int] =
    if (v.isIntegralNumber && v.canConvertToLong)
      Some(java.lang.Long.compare(v.asLong(), l))
    else numCmp(v, l.toDouble)

  private def numCmp(v: JsonNode, d: Double): Option[Int] =
    if (v.isNumber) Some(java.lang.Double.compare(v.asDouble(), d)) else None
}
