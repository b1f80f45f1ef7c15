package graft.sources

import java.time.ZoneOffset

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DoubleType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Grid

/** DataSource V2 `TableProvider` for the ERDDAP griddap source — the
  * engine-native form of the reference's only pushdown mechanism
  * (`config.py:203-241`): predicates and required columns compile into
  * the bracket-sliced griddap URL, so the SERVER returns only the
  * needed cells.
  *
  *   spark.read.format("erddap")
  *     .option("points", "32.5,-70.0;32.25,-70.25")
  *     .option("start_date", "1960-01-01").option("end_date", "1960-12-01")
  *     .load()
  *     .filter($"time" >= "1960-03-01" && $"time" < "1960-05-01")
  *     .select("time", "temperature")
  *
  * What pushes down (see [[ErddapScanBuilder]]):
  *  - time bounds → the `[t0:t1]` slice (month granularity; the filter
  *    is also re-applied post-scan, so sub-month bounds stay exact)
  *  - latitude/longitude equality → prunes the point list to the
  *    matching snapped grid point (a pruned point is never requested)
  *  - required columns → the requested variable list (`temperature` →
  *    `Temperature[...]`) — an unrequested variable never leaves the
  *    server
  *
  * The scan is main's one multi-point read. It spreads the POINT LIST
  * over `min(points, defaultParallelism)` input partitions whose points
  * share one [[ErddapSource]], so each slot paces its requests like the
  * reference's one client (`extract.py:53-55`). A point that still
  * fails after its retries fails the read, naming the point. Output
  * rows are the CLEANED observation shape (lowercase names, typed
  * columns, NaN → null), matching `transform.py:10-28`.
  *
  * Bytes come from `option("fixture_dir", ...)` — a directory of
  * recorded bodies keyed by the first 16 sha256 hex chars of the URL,
  * replayed without pacing — or live HTTP when absent. A sliced URL
  * whose fixture is missing fails loudly (like a 404), which is what
  * makes the pushdown OBSERVABLE in tests: recording only the narrowed
  * URL proves the narrow URL is what the scan requests.
  */
class ErddapTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "erddap"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ErddapTableProvider.FullSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new ErddapTable(new CaseInsensitiveStringMap(properties))
}

object ErddapTableProvider {
  /** The cleaned observation schema (`transform.py:10-28` lowercase
    * names; time typed, measures nullable doubles). */
  val FullSchema: StructType = new StructType()
    .add("time", TimestampType).add("depth", DoubleType)
    .add("latitude", DoubleType).add("longitude", DoubleType)
    .add("temperature", DoubleType).add("salinity", DoubleType)

  /** Spark column name → ERDDAP variable name. */
  val VariableFor: Map[String, String] =
    Map("temperature" -> "Temperature", "salinity" -> "Salinity")

  def fixtureKey(url: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(url.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString.take(16)
  }
}

final class ErddapTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"erddap(${options.getOrDefault("points", "")})"
  override def schema(): StructType = ErddapTableProvider.FullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ErddapScanBuilder(options)
}

/** Compiles Spark predicates + required columns into the URL slice.
  * All accepted filters are ALSO returned for post-scan evaluation
  * (inexact pushdown: coordinates snap to the grid and time slices
  * have month granularity — Spark's re-filter keeps SQL semantics
  * exact while the server still only ships the narrowed slice). */
final class ErddapScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private def required(name: String): String = {
    val v = options.get(name)
    require(v != null && v.nonEmpty, s"erddap source requires option '$name'")
    v
  }

  private var points: Seq[(Double, Double)] =
    required("points").split(";", -1).toSeq.map { p =>
      p.split(",", -1).map(_.trim.toDoubleOption) match {
        case Array(Some(la), Some(lo)) => (la, lo)
        case _ => throw new IllegalArgumentException(
          s"erddap option 'points': malformed entry '$p' (expected lat,lon)")
      }
    }
  private var start: String = required("start_date")
  private var end: String = required("end_date")
  private var requiredSchema: StructType = ErddapTableProvider.FullSchema
  private var pushed: Array[Filter] = Array.empty

  private def asDate(v: Any): Option[String] = v match {
    case t: java.sql.Timestamp => Some(t.toInstant.toString.take(10))
    case t: java.time.Instant => Some(t.toString.take(10))
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case s: String if s.length >= 10 => Some(s.take(10))
    case _ => None
  }
  private def asDouble(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case n: Number => Some(n.doubleValue())
    case _ => None
  }

  /** Upper-bound truncation must WIDEN, never narrow: a bound with an
    * intraday component (`time <= '1960-05-01T12:00'`) still needs the
    * 1960-05-01 rows, so the slice end rounds UP to the next day unless
    * the bound is exactly midnight. The post-scan re-filter restores
    * sub-day exactness either way. */
  private def asDateCeil(v: Any): Option[String] = asDate(v).map { d =>
    val midnight = v match {
      case t: java.sql.Timestamp => t.toInstant.toString.drop(10).matches("T00:00(:00(\\.0+)?)?Z?")
      case t: java.time.Instant  => t.equals(t.truncatedTo(java.time.temporal.ChronoUnit.DAYS))
      case s: String if s.length > 10 => s.drop(10).matches("[T ]00:00(:00(\\.0+)?)?Z?")
      case _ => true // Date / LocalDate / bare "yyyy-MM-dd" carry no intraday part
    }
    if (midnight) d else java.time.LocalDate.parse(d).plusDays(1).toString
  }

  // ISO dates compare lexicographically, so max/min narrows the slice
  private def tryPush(f: Filter): Boolean = f match {
    case GreaterThanOrEqual("time", v) => asDate(v).exists { d => start = if (d > start) d else start; true }
    case GreaterThan("time", v)        => asDate(v).exists { d => start = if (d > start) d else start; true }
    case LessThanOrEqual("time", v)    => asDateCeil(v).exists { d => end = if (d < end) d else end; true }
    case LessThan("time", v)           => asDateCeil(v).exists { d => end = if (d < end) d else end; true }
    case EqualTo("latitude", v) => asDouble(v).exists { x =>
      points = points.filter { case (la, lo) => Grid.snap(la, lo)._1 == Grid.snap(x, lo)._1 }; true }
    case EqualTo("longitude", v) => asDouble(v).exists { x =>
      points = points.filter { case (la, lo) => Grid.snap(la, lo)._2 == Grid.snap(la, x)._2 }; true }
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(tryPush)
    filters // everything re-evaluated post-scan (pushdown is inexact)
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(s: StructType): Unit = requiredSchema = s

  override def build(): Scan = {
    val vars = requiredSchema.fieldNames.toSeq
      .flatMap(ErddapTableProvider.VariableFor.get) match {
      case Seq() => Seq("Temperature") // rows still needed for time/coords
      case vs => vs
    }
    new ErddapScan(points, start, end, vars, requiredSchema, pushed,
                   Option(options.get("fixture_dir")))
  }
}

/** The points one slot reads, in order, through one [[ErddapSource]]. */
final case class ErddapPointsPartition(points: Seq[(Double, Double)]) extends InputPartition

final class ErddapScan(
    points: Seq[(Double, Double)], start: String, end: String,
    variables: Seq[String], requiredSchema: StructType,
    pushed: Array[Filter], fixtureDir: Option[String])
    extends Scan with Batch {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"ErddapScan(points=${points.mkString(";")}, slice=[$start..$end], " +
      s"vars=${variables.mkString(",")}, PushedFilters=[${pushed.mkString(", ")}])"

  override def planInputPartitions(): Array[InputPartition] = {
    val slots = math.min(points.size, SparkSession.active.sparkContext.defaultParallelism)
    Array.tabulate(slots) { s =>
      ErddapPointsPartition(points.zipWithIndex.collect { case (p, i) if i % slots == s => p })
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ErddapReaderFactory(start, end, variables, requiredSchema, fixtureDir)
}

/** Reads one slot's grid points in turn: build each URL, fetch through
  * the slot's retry/rate-limit discipline, parse + clean into InternalRows. */
final class ErddapReaderFactory(
    start: String, end: String, variables: Seq[String],
    requiredSchema: StructType, fixtureDir: Option[String])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val source = fixtureDir match {
      case Some(dir) => // replay has no server to spare: not paced
        new ErddapSource(new FixtureDirBackend(dir), minIntervalMs = 0L, sleeper = _ => ())
      case None => new ErddapSource(new HttpBackend)
    }
    val points = partition.asInstanceOf[ErddapPointsPartition].points
    new PartitionReader[InternalRow] {
      private val rows: Iterator[InternalRow] = points.iterator.flatMap { case (lat, lon) =>
        val (body, _) =
          try source.fetchRaw(lat, lon, start, end, variables)
          catch { case NonFatal(e) =>
            throw new java.io.IOException(s"erddap point $lat,$lon failed to fetch: ${e.getMessage}", e) }
        val lines = body.linesIterator.filter(_.nonEmpty).toVector
        if (lines.isEmpty) Iterator.empty
        else {
          val header = lines.head.split(",", -1).map(_.trim.toLowerCase(java.util.Locale.ROOT))
          val idx = requiredSchema.fieldNames.map(header.indexOf(_))
          // units row detected by VALUE, same as the batch path
          // (Clean.stripUnitsRow): a body without one loses no data row
          val unitsRows = lines.drop(1).headOption.count { l =>
            graft.ops.Clean.UnitsRowMarkers.contains(l.split(",", -1).headOption.getOrElse("").trim)
          }
          lines.iterator.drop(1 + unitsRows).map { line =>
            val f = line.split(",", -1)
            val vals = requiredSchema.fields.zip(idx).map { case (field, i) =>
              if (i < 0 || i >= f.length || f(i).isEmpty || f(i) == "NaN") null
              else field.dataType match {
                case TimestampType =>
                  // cleaned semantics: Spark's own cast parser, the one
                  // Clean's try_to_timestamp runs, at the session's UTC —
                  // zone-less and date-only cells type as there, and a
                  // malformed cell is null
                  DateTimeUtils.stringToTimestamp(UTF8String.fromString(f(i)), ZoneOffset.UTC)
                    .map(t => java.lang.Long.valueOf(t)).orNull
                case DoubleType =>
                  // null-on-error like try_cast (pd.to_numeric
                  // errors='coerce', transform.py:23) — one malformed
                  // cell must not fail the scan
                  try {
                    val d = f(i).toDouble
                    if (d.isNaN) null else java.lang.Double.valueOf(d)
                  } catch { case _: NumberFormatException => null }
                case other => throw new IllegalStateException(s"unexpected type $other")
              }
            }
            InternalRow.fromSeq(vals.toIndexedSeq)
          }
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Fixture bytes from a directory of recorded bodies keyed by
  * sha256(url)[0:16] — the replayable executor-side twin of
  * [[FixtureBackend]] (a plain Map cannot ride a DSv2 option). */
final class FixtureDirBackend(dir: String) extends SourceBackend {
  def get(url: String): String = {
    val p = java.nio.file.Paths.get(dir, ErddapTableProvider.fixtureKey(url))
    if (!java.nio.file.Files.exists(p))
      throw new java.io.IOException(s"404 (no fixture ${p.getFileName} for): $url")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }
}
