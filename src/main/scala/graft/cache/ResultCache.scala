package graft.cache

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.Instant
import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Json

/** Query-result cache with the reference's semantics
  * (`cache_manager.py:33-337`), re-expressed as a keyed Parquet store:
  *
  *  - key: `sha256("{lat:.6f}_{lon:.6f}_{start}_{end}_{sorted vars}")`
  *    first 16 hex chars, byte-for-byte parity with the reference
  *    (`cache_manager.py:63-74`) — verified against hashes produced by
  *    the reference's own function in CacheSpec.
  *  - layout: `dir/data/<hash>/` holds the cached frame as parquet;
  *    `dir/meta/<hash>/` holds its one-row metadata (coords, dates,
  *    variables JSON, row count, fetched_at, expires_at, size).
  *    INSERT-OR-REPLACE = overwrite both dirs for the key. Every meta
  *    read uses [[ResultCache.MetaSchema]], so no read infers a schema
  *    and a torn meta dir (only `_temporary/`) reads as no rows. A data
  *    dir is read only once it is committed, with the schema `put`
  *    stored beside it (`_schema.json`), so a hit infers no schema.
  *  - TTL 24 h, per-entry size cap 100 MB (`config.py:58-63`), probe
  *    only returns entries with `expires_at > now` (P6), nearby lookup
  *    = spatial box filter ranked by Manhattan distance (P7/O4,
  *    `cache_manager.py:302-318`).
  *
  * SQLite was an implementation detail of the reference, not a
  * semantic; Parquet keeps the cache readable by the engine itself. At
  * cluster scale the same layout works on any shared filesystem —
  * point lookups touch exactly one key directory (partition-pruned by
  * construction), and only `stats`/`nearby` scan the (tiny, one row
  * per query) metadata table.
  *
  * @param clock injectable now() for TTL tests
  */
final class ResultCache(
    spark: SparkSession,
    dir: String,
    ttlHours: Int = ResultCache.TtlHours,
    maxEntryBytes: Long = ResultCache.MaxEntryBytes,
    clock: () => Instant = () => Instant.now()) {
  import ResultCache.{MetaSchema, SchemaFile, queryHash}

  private val metaRoot = Paths.get(dir, "meta")
  private val dataRoot = Paths.get(dir, "data")

  /** The reference DECLARES a 6 h cleanup cadence (`config.py:63`,
    * `cleanup_interval_hours`) but never schedules it — cleanup only
    * runs when something calls it. The closest faithful reading that
    * still honors the declared interval: sweep expired entries
    * opportunistically, from the write path, at most once per
    * interval. `Instant.MIN` makes the first `put` of a cache's life
    * sweep whatever a previous process left behind. */
  private val lastCleanup =
    new java.util.concurrent.atomic.AtomicReference[Instant](Instant.MIN)

  private def maybeCleanup(now: Instant): Unit = {
    val prev = lastCleanup.get()
    if (java.time.Duration.between(prev, now).toHours >= ResultCache.CleanupIntervalHours &&
        lastCleanup.compareAndSet(prev, now)) {
      cleanupExpired()
    }
  }

  private def metaDir(h: String): Path = metaRoot.resolve(h)
  private def dataDir(h: String): Path = dataRoot.resolve(h)

  /** S8: cache a query result (`cache_manager.py:123-177`). Returns
    * false (and stores nothing) when the entry exceeds the size cap.
    * The size is the UTF-8 length of the rows-as-JSON form the
    * reference serialized, computed distributed (no collect).
    *
    * APPROXIMATION, not byte parity: Spark's toJSON drops null fields
    * and formats timestamps differently than pandas
    * `to_json(orient='records', date_format='iso')`
    * (`cache_manager.py:139-148`), so entries within a few percent of
    * the 100 MB cap can be accepted/rejected differently than the
    * reference would. The cap is an operational guard, not a query
    * semantic, so the cheap estimate is preferred over reproducing
    * pandas' serializer byte-for-byte. */
  def put(lat: Double, lon: Double, startDate: String, endDate: String,
          variables: Seq[String], data: DataFrame): Boolean = {
    val h = queryHash(lat, lon, startDate, endDate, variables)
    maybeCleanup(clock())
    val (rowCount, jsonBytes) = {
      val r = data.toJSON.agg(
        count(lit(1)).as("n"),
        coalesce(sum(length(col("value"))), lit(0L)).as("bytes")).collect().head
      (r.getLong(0), r.getLong(1))
    }
    // '[' + records + (n-1) commas + ']' — pandas to_json(orient='records')
    val sizeBytes = 2L + jsonBytes + math.max(0L, rowCount - 1)
    if (sizeBytes > maxEntryBytes) return false

    val now = clock()
    val expires = now.plusSeconds(ttlHours.toLong * 3600)
    data.write.mode(SaveMode.Overwrite).parquet(dataDir(h).toString)
    // the schema beside the committed data, written whole or not at all
    // (temp file + rename); Parquet readers skip `_`-prefixed names
    val tmp = Files.createTempFile(dataDir(h), "_schema", ".tmp")
    Files.writeString(tmp, data.schema.json)
    Files.move(tmp, dataDir(h).resolve(SchemaFile), StandardCopyOption.ATOMIC_MOVE)
    val meta = Row(h, lat, lon, startDate, endDate, ResultCache.variablesJson(variables),
                   rowCount, Timestamp.from(now), Timestamp.from(expires), sizeBytes)
    // a one-row local relation: one partition, so one meta file
    spark.createDataFrame(java.util.List.of(meta), MetaSchema)
      .write.mode(SaveMode.Overwrite).parquet(metaDir(h).toString)
    true
  }

  /** S9/P6: probe by exact key; Some(frame) only when present and
    * unexpired (`cache_manager.py:76-121`). */
  def get(lat: Double, lon: Double, startDate: String, endDate: String,
          variables: Seq[String]): Option[DataFrame] = {
    val h = queryHash(lat, lon, startDate, endDate, variables)
    if (!Files.exists(metaDir(h))) return None
    val fresh = !readMeta(Seq(metaDir(h)))
      .filter(col("expires_at") > Timestamp.from(clock()))
      .isEmpty
    if (fresh) readEntry(h) else None
  }

  /** The full metadata table (one row per cached query); empty-schema
    * safe when the cache has no entries yet. */
  def metadata: DataFrame = {
    val dirs = listKeys(metaRoot)
    if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), MetaSchema)
    else readMeta(dirs).coalesce(1) // bound: one row per cache entry
  }

  private def readMeta(dirs: Seq[Path]): DataFrame =
    spark.read.schema(MetaSchema).parquet(dirs.map(_.toString): _*)

  /** The cached frame of key `h`, once its write committed, read with
    * its stored schema so no job infers it. The schema file is the
    * commit marker: `put` writes it after the data commits, so a put
    * killed mid-write reads as a miss. An entry an earlier version
    * wrote has `_SUCCESS` but no schema file, and is read by inference. */
  private def readEntry(h: String): Option[DataFrame] = {
    val schema = dataDir(h).resolve(SchemaFile)
    val reader =
      if (Files.exists(schema)) Some(spark.read.schema(DataType.fromJson(Files.readString(schema)).asInstanceOf[StructType]))
      else if (Files.exists(dataDir(h).resolve("_SUCCESS"))) Some(spark.read)
      else None
    reader.map(_.parquet(dataDir(h).toString).coalesce(1)) // bound: one entry, ≤ maxEntryBytes
  }

  /** O3: the cache listing (`cache_manager.py:248-280`) — unexpired
    * entries ordered `fetched_at DESC`, with the reference's
    * `file_size_kb` derived column (`file_size / 1024`). */
  def listEntries: DataFrame =
    metadata
      .filter(col("expires_at") > Timestamp.from(clock()))
      .withColumn("file_size_kb", col("file_size_bytes").cast("double") / 1024.0)
      .drop("file_size_bytes")
      .orderBy(col("fetched_at").desc)

  /** A nearby hit with its cached frame: `data` is the lazily-read
    * cached result, `distanceDegrees` the Euclidean distance the
    * reference reports per hit. */
  final case class NearbyHit(hash: String, latitude: Double, longitude: Double,
                             distanceDegrees: Double, data: DataFrame)

  /** [[nearby]] that hands back the cached DATA, not just metadata:
    * one [[NearbyHit]] per unexpired in-radius entry, Manhattan-ranked
    * like the reference's listing, each carrying its cached frame.
    * The metadata scan collects only the (tiny, one-row-per-query)
    * hit list; the frames themselves stay lazy parquet reads. */
  def nearbyData(lat: Double, lon: Double, radiusDegrees: Double = 0.5): Seq[NearbyHit] =
    nearby(lat, lon, radiusDegrees)
      .select("query_hash", "latitude", "longitude", "distance_degrees")
      .collect().toSeq
      .flatMap { r =>
        readEntry(r.getString(0)).map(
          NearbyHit(r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), _))
      }

  /** P7/O4: nearby-query lookup (`cache_manager.py:295-337`) — box
    * predicate, TTL predicate, Manhattan-ranked, Euclidean distance
    * recomputed per row exactly as the reference does. */
  def nearby(lat: Double, lon: Double, radiusDegrees: Double = 0.5): DataFrame =
    metadata
      .filter(col("expires_at") > Timestamp.from(clock()))
      .filter(abs(col("latitude") - lat) < radiusDegrees &&
              abs(col("longitude") - lon) < radiusDegrees)
      .withColumn("distance_degrees",
        sqrt(pow(col("latitude") - lat, 2) + pow(col("longitude") - lon, 2)))
      .orderBy((abs(col("latitude") - lat) + abs(col("longitude") - lon)).asc)

  /** Cache statistics (`cache_manager.py:195-230`): one agg pass. */
  def stats: Map[String, Any] = {
    val now = Timestamp.from(clock())
    val r = metadata.agg(
      count(lit(1)).as("total"),
      count(when(col("expires_at") > now, 1)).as("active"),
      coalesce(sum(when(col("expires_at") > now, col("file_size_bytes"))), lit(0L)).as("bytes"),
      min(when(col("expires_at") > now, col("fetched_at"))).as("oldest"),
      max(when(col("expires_at") > now, col("fetched_at"))).as("newest")).collect().head
    Map(
      "total_entries" -> r.getAs[Long]("total"),
      "active_entries" -> r.getAs[Long]("active"),
      "expired_entries" -> (r.getAs[Long]("total") - r.getAs[Long]("active")),
      "total_size_mb" -> r.getAs[Long]("bytes").toDouble / (1024 * 1024),
      "oldest_entry" -> Option(r.getAs[Timestamp]("oldest")),
      "newest_entry" -> Option(r.getAs[Timestamp]("newest")),
      "ttl_hours" -> ttlHours)
  }

  /** Delete expired entries (`cache_manager.py:179-193`); returns the
    * number of keys removed. Expired keys are found from the metadata
    * rows (one row each). Orphaned keys have no row: a meta dir that is
    * missing (a put killed between its data and meta writes) or not
    * committed (one killed mid-overwrite). One is swept once nothing
    * under its dirs was modified within the TTL, so another process's
    * in-flight put, seconds old, is never swept. Both dirs are dropped. */
  def cleanupExpired(): Int = {
    val now = clock()
    val expired = metadata.filter(col("expires_at") <= Timestamp.from(now))
      .select("query_hash").collect().map(_.getString(0)).toSeq
    val cutoff = now.minusSeconds(ttlHours.toLong * 3600)
    val orphans = (listKeys(metaRoot) ++ listKeys(dataRoot)).map(_.getFileName.toString).distinct
      .filter(h => !Files.exists(metaDir(h).resolve("_SUCCESS")) && Seq(metaDir(h), dataDir(h))
        .flatMap(tree).forall(Files.getLastModifiedTime(_).toInstant.isBefore(cutoff)))
    val swept = (expired ++ orphans).distinct
    swept.foreach { h => deleteRecursive(metaDir(h)); deleteRecursive(dataDir(h)) }
    swept.length
  }

  /** Clear everything (`cache_manager.py:283-293`). */
  def clearAll(): Unit = { deleteRecursive(metaRoot); deleteRecursive(dataRoot) }

  import scala.jdk.CollectionConverters._

  private def listKeys(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala.filter(Files.isDirectory(_)).toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }

  /** `p` and every path under it, parents first; none when absent. */
  private def tree(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq
      finally s.close()
    }

  private def deleteRecursive(p: Path): Unit = tree(p).reverse.foreach(Files.delete(_))
}

object ResultCache {
  val TtlHours = 24            // config.py:61
  val MaxEntryBytes: Long = 100L * 1024 * 1024 // config.py:62 (100 MB)
  val CleanupIntervalHours = 6 // config.py:63 (declared cadence)
  private val SchemaFile = "_schema.json" // the data schema `put` stores beside an entry's data

  /** The one-row-per-entry metadata table, stated once: `put` writes
    * it and every meta read declares it. Every field is nullable, as a
    * Parquet read reports them, so an entry written before this schema
    * was declared (an inferred one) reads back unchanged. */
  val MetaSchema: StructType = StructType(Seq(
    "query_hash" -> StringType, "latitude" -> DoubleType, "longitude" -> DoubleType,
    "start_date" -> StringType, "end_date" -> StringType, "variables" -> StringType,
    "row_count" -> LongType, "fetched_at" -> TimestampType, "expires_at" -> TimestampType,
    "file_size_bytes" -> LongType).map { case (n, t) => StructField(n, t) })

  /** F10: the query key, byte-for-byte with the reference
    * (`cache_manager.py:63-74`): Python's `f"{x:.6f}"` ==
    * `String.format(Locale.ROOT, "%.6f", x)` for doubles (both
    * round-half-even on the decimal expansion). */
  def queryHash(lat: Double, lon: Double, startDate: String, endDate: String,
                variables: Seq[String]): String = {
    val key = f"${fmt(lat)}_${fmt(lon)}_${startDate}_${endDate}_${variables.sorted.mkString("_")}"
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes("UTF-8"))
    digest.map("%02x".format(_)).mkString.take(16)
  }

  private def fmt(x: Double): String = String.format(Locale.ROOT, "%.6f", x: java.lang.Double)

  /** `json.dumps(list)` parity: `["A", "B"]` with ", " separators and
    * string escapes (backslash, quote, control chars) so a variable
    * name containing `"` or `\` still serializes to valid JSON. */
  def variablesJson(vs: Seq[String]): String = vs.map(Json.str).mkString("[", ", ", "]")
}
