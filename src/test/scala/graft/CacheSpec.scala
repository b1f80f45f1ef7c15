package graft

import java.nio.file.Files
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.cache.ResultCache

/** Result-cache semantics (`cache_manager.py`): key byte-parity with
  * hashes produced by the reference's own `_generate_query_hash` on
  * sample inputs, TTL behavior via an injectable clock, size cap,
  * nearby ranking. */
class CacheSpec extends AnyFunSuite with SparkTestSession {

  private val vars = Seq("Temperature", "Salinity")

  test("F10: key hashes match the reference's function byte-for-byte") {
    // Expected values computed by running the reference's exact
    // f-string + sha256[:16] on these inputs (cache_manager.py:63-74).
    assert(ResultCache.queryHash(32.5, -70.0, "1960-01-01", "1960-02-01", vars)
      == "ffe523f1280cd135")
    assert(ResultCache.queryHash(10.0, -85.0, "1955-01-01", "1960-12-31", Seq("Salinity"))
      == "fa9bdf0ae37ede06")
    assert(ResultCache.queryHash(32.25, -70.25, "1958-06-01", "1958-06-01", Seq("Temperature"))
      == "6db5d18bc290c301")
    assert(ResultCache.queryHash(12.125, -84.875, "1955-02-01", "1955-03-01", vars)
      == "0af2c8b1dc144839")
    // variables are SORTED into the key; negative zero keeps its sign
    assert(ResultCache.queryHash(-0.0, -70.0, "1955-01-01", "1955-01-01", Seq("B", "A", "C"))
      == "2ca1c0837db2159f")
  }

  test("variables JSON matches json.dumps shape") {
    assert(ResultCache.variablesJson(Seq("Temperature", "Salinity"))
      == """["Temperature", "Salinity"]""")
    // escaping parity: quotes, backslashes, control chars stay valid JSON
    assert(ResultCache.variablesJson(Seq("a\"b", "c\\d", "e\nf"))
      == "[\"a\\\"b\", \"c\\\\d\", \"e\\nf\"]")
  }

  private def freshCache(now: () => Instant = () => Instant.now()): ResultCache =
    new ResultCache(spark,
      Files.createTempDirectory("graft-cache").toString, clock = now)

  private def sample = {
    import spark.implicits._
    Seq((1L, 21.5, 36.4), (2L, 22.0, 36.5)).toDF("id", "temperature", "salinity")
  }

  test("S8/S9: put then get roundtrips the frame") {
    val c = freshCache()
    assert(c.get(32.5, -70.0, "1960-01-01", "1960-02-01", vars).isEmpty)
    assert(c.put(32.5, -70.0, "1960-01-01", "1960-02-01", vars, sample))
    val got = c.get(32.5, -70.0, "1960-01-01", "1960-02-01", vars)
    assert(got.isDefined)
    assert(got.get.count() == 2)
    assert(got.get.columns.toSeq == Seq("id", "temperature", "salinity"))
    // different key -> miss
    assert(c.get(32.5, -70.0, "1960-01-01", "1960-03-01", vars).isEmpty)
  }

  test("P6: entries expire after the TTL") {
    var now = Instant.parse("2026-01-01T00:00:00Z")
    val c = freshCache(() => now)
    assert(c.put(32.5, -70.0, "1960-01-01", "1960-02-01", vars, sample))
    assert(c.get(32.5, -70.0, "1960-01-01", "1960-02-01", vars).isDefined)
    now = now.plusSeconds(23 * 3600)
    assert(c.get(32.5, -70.0, "1960-01-01", "1960-02-01", vars).isDefined)
    now = now.plusSeconds(2 * 3600) // past 24 h
    assert(c.get(32.5, -70.0, "1960-01-01", "1960-02-01", vars).isEmpty)
  }

  test("put sweeps expired entries opportunistically, at most once per 6 h interval") {
    var now = Instant.parse("2026-01-01T00:00:00Z")
    val c = freshCache(() => now)
    assert(c.put(32.5, -70.0, "1960-01-01", "1960-02-01", vars, sample))
    // within the declared interval (config.py:63): a put 1 h later must
    // NOT sweep — entry A is unexpired anyway, but the gate itself is
    // what's under test (total count stays 2)
    now = now.plusSeconds(3600)
    assert(c.put(33.5, -71.0, "1960-01-01", "1960-02-01", vars, sample))
    assert(c.metadata.count() == 2)
    // 24.5 h after A was stored: A is expired (24 h TTL), B is not
    // (stored at +1 h), and the interval has elapsed since the last
    // sweep — so this put cleans A out without anyone calling
    // cleanupExpired explicitly
    now = now.plusSeconds(23 * 3600 + 1800)
    assert(c.put(34.5, -72.0, "1960-01-01", "1960-02-01", vars, sample))
    assert(c.metadata.count() == 2, "expired entry should have been swept by put")
    assert(c.get(32.5, -70.0, "1960-01-01", "1960-02-01", vars).isEmpty)
    assert(c.get(34.5, -72.0, "1960-01-01", "1960-02-01", vars).isDefined)
  }

  test("size cap: oversize entries are rejected, not stored") {
    val c = new ResultCache(spark,
      Files.createTempDirectory("graft-cache").toString, maxEntryBytes = 10L)
    assert(!c.put(32.5, -70.0, "1960-01-01", "1960-02-01", vars, sample))
    assert(c.get(32.5, -70.0, "1960-01-01", "1960-02-01", vars).isEmpty)
    assert(c.metadata.count() == 0)
  }

  test("P7/O4: nearby lookup ranks by Manhattan distance within the box") {
    val c = freshCache()
    c.put(32.0, -70.0, "1960-01-01", "1960-02-01", vars, sample)   // d_manhattan 0.0
    c.put(32.25, -70.0, "1960-01-01", "1960-02-01", vars, sample)  // 0.25
    c.put(32.0, -70.4, "1960-01-01", "1960-02-01", vars, sample)   // 0.4
    c.put(33.0, -70.0, "1960-01-01", "1960-02-01", vars, sample)   // outside 0.5 box
    val got = c.nearby(32.0, -70.0, radiusDegrees = 0.5)
      .select("latitude", "longitude", "distance_degrees").collect()
    assert(got.length == 3)
    assert(got.map(r => (r.getDouble(0), r.getDouble(1))).toSeq ==
      Seq((32.0, -70.0), (32.25, -70.0), (32.0, -70.4)))
    assert(got(1).getDouble(2) == 0.25) // Euclidean recomputed per row
  }

  test("O3: listEntries orders unexpired entries fetched_at DESC with file_size_kb") {
    var now = Instant.parse("2026-01-01T00:00:00Z")
    val c = freshCache(() => now)
    c.put(32.0, -70.0, "1960-01-01", "1960-02-01", vars, sample)
    now = now.plusSeconds(3600)
    c.put(32.25, -70.0, "1960-01-01", "1960-02-01", vars, sample)
    now = now.plusSeconds(3600)
    c.put(32.5, -70.0, "1960-01-01", "1960-02-01", vars, sample)
    // first entry is now >24h old -> expired, must not be listed
    now = Instant.parse("2026-01-02T00:30:00Z")
    val got = c.listEntries.select("latitude", "fetched_at", "file_size_kb").collect()
    assert(got.length == 2)
    // newest first
    assert(got.map(_.getDouble(0)).toSeq == Seq(32.5, 32.25))
    assert(got(0).getTimestamp(1).after(got(1).getTimestamp(1)))
    assert(got(0).getDouble(2) > 0.0) // KB, reference's file_size / 1024
  }

  test("nearbyData hands back the cached frames ranked like nearby") {
    val c = freshCache()
    c.put(32.0, -70.0, "1960-01-01", "1960-02-01", vars, sample)
    import spark.implicits._
    val other = Seq((9L, 9.9, 9.9)).toDF("id", "temperature", "salinity")
    c.put(32.25, -70.0, "1960-01-01", "1960-02-01", vars, other)
    val hits = c.nearbyData(32.0, -70.0, radiusDegrees = 0.5)
    assert(hits.map(h => (h.latitude, h.longitude)) ==
      Seq((32.0, -70.0), (32.25, -70.0)))
    assert(hits.head.distanceDegrees == 0.0)
    assert(hits.head.data.count() == 2)            // the actual cached rows
    assert(hits(1).data.select("id").head.getLong(0) == 9L)
  }

  test("upsert: same key overwrites (INSERT OR REPLACE)") {
    import spark.implicits._
    val c = freshCache()
    c.put(32.5, -70.0, "1960-01-01", "1960-02-01", vars, sample)
    val bigger = Seq((1L, 1.0, 1.0), (2L, 2.0, 2.0), (3L, 3.0, 3.0))
      .toDF("id", "temperature", "salinity")
    c.put(32.5, -70.0, "1960-01-01", "1960-02-01", vars, bigger)
    assert(c.get(32.5, -70.0, "1960-01-01", "1960-02-01", vars).get.count() == 3)
    assert(c.metadata.count() == 1)
  }

  test("stats + cleanupExpired") {
    var now = Instant.parse("2026-01-01T00:00:00Z")
    val c = freshCache(() => now)
    c.put(32.0, -70.0, "1960-01-01", "1960-02-01", vars, sample)
    now = now.plusSeconds(3600)
    c.put(32.25, -70.0, "1960-01-01", "1960-02-01", vars, sample)
    // advance past A's TTL only AFTER both puts — a later put would
    // sweep A itself (the opportunistic-cleanup test above); here the
    // explicit cleanupExpired path is what's under test
    now = now.plusSeconds(23 * 3600 + 1800)
    val s = c.stats
    assert(s("total_entries") == 2L)
    assert(s("active_entries") == 1L)
    assert(s("expired_entries") == 1L)
    assert(c.cleanupExpired() == 1)
    assert(c.metadata.count() == 1)
    c.clearAll()
    assert(c.metadata.count() == 0)
  }

  test("a torn entry (a put killed mid-write) reads as a miss, and the next put repairs it") {
    for (side <- Seq("meta", "data")) {
      val dir = Files.createTempDirectory("graft-cache-torn")
      val c = new ResultCache(spark, dir.toString)
      assert(c.put(32.5, -70.0, "1960-01-01", "1960-02-01", vars, sample))
      // what an overwrite killed after its delete leaves: only _temporary/
      val torn = dir.resolve(side).resolve(ResultCache.queryHash(32.5, -70.0, "1960-01-01", "1960-02-01", vars))
      val s = Files.walk(torn)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(Files.delete(_))
      finally s.close()
      val attempt = Files.createDirectories(torn.resolve("_temporary/0/_temporary/attempt_0"))
      Files.write(attempt.resolve("part-00000.snappy.parquet"), Array[Byte](1, 2, 3))

      assert(c.get(32.5, -70.0, "1960-01-01", "1960-02-01", vars).isEmpty, side)
      val near = c.nearby(32.5, -70.0).collect()
      assert(near.length == (if (side == "meta") 0 else 1), side)
      assert(c.nearbyData(32.5, -70.0).isEmpty, side)
      c.listEntries.collect()
      c.stats

      assert(c.put(32.5, -70.0, "1960-01-01", "1960-02-01", vars, sample))
      assert(c.get(32.5, -70.0, "1960-01-01", "1960-02-01", vars).get.count() == 2, side)
      assert(c.nearby(32.5, -70.0).count() == 1, side)
    }
  }

  test("MetaSchema reads a meta dir written with an inferred schema, rows unchanged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cache-compat")
    val h = ResultCache.queryHash(32.5, -70.0, "1960-01-01", "1960-02-01", vars)
    val now = Instant.now()
    // the entry as a put without a declared schema wrote it: a tuple
    // frame whose column types Spark infers from the Scala types
    val metaDir = dir.resolve("meta").resolve(h).toString
    Seq((h, 32.5, -70.0, "1960-01-01", "1960-02-01", ResultCache.variablesJson(vars), 2L,
         java.sql.Timestamp.from(now), java.sql.Timestamp.from(now.plusSeconds(3600)), 120L))
      .toDF(ResultCache.MetaSchema.fieldNames.toIndexedSeq: _*)
      .coalesce(1).write.parquet(metaDir)
    sample.write.parquet(dir.resolve("data").resolve(h).toString)

    val inferred = spark.read.parquet(metaDir)
    assert(inferred.schema.map(f => f.name -> f.dataType) ==
      ResultCache.MetaSchema.map(f => f.name -> f.dataType))
    val c = new ResultCache(spark, dir.toString)
    assert(c.metadata.schema == ResultCache.MetaSchema)
    assert(c.metadata.collect().toSeq == inferred.collect().toSeq)
    assert(c.get(32.5, -70.0, "1960-01-01", "1960-02-01", vars).get.count() == 2)
    assert(c.nearby(32.5, -70.0).select("query_hash").as[String].collect().toSeq == Seq(h))
  }

  test("cleanupExpired sweeps orphaned keys once nothing under them changed within the TTL") {
    val dir = Files.createTempDirectory("graft-cache-orphan")
    var now = Instant.now()
    val c = new ResultCache(spark, dir.toString, clock = () => now)
    def key(lat: Double) = ResultCache.queryHash(lat, -70.0, "1960-01-01", "1960-02-01", vars)
    def dirs(h: String) = Seq(dir.resolve("meta").resolve(h), dir.resolve("data").resolve(h))
    def walk(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq
      finally s.close()
    }
    def deleteTree(p: java.nio.file.Path): Unit =
      walk(p).reverse.foreach(Files.delete(_))
    // torn: its meta dir holds only an uncommitted `_temporary/`
    def tear(h: String): Unit = {
      deleteTree(dirs(h).head)
      Files.createDirectories(dirs(h).head.resolve("_temporary/0"))
    }
    Seq(32.0, 32.25, 32.5).foreach(lat => assert(c.put(lat, -70.0, "1960-01-01", "1960-02-01", vars, sample)))
    val (oldTorn, dataOnly, freshTorn) = (key(32.0), key(32.25), key(32.5))
    tear(oldTorn)
    deleteTree(dirs(dataOnly).head) // a put killed between its data and meta writes
    tear(freshTorn)
    // the two old keys: nothing under them modified for 25 h
    val old = java.nio.file.attribute.FileTime.from(now.minusSeconds(25 * 3600))
    Seq(oldTorn, dataOnly).flatMap(dirs).filter(Files.exists(_)).flatMap(walk)
      .foreach(Files.setLastModifiedTime(_, old))

    assert(c.cleanupExpired() == 2)
    assert(Seq(oldTorn, dataOnly).flatMap(dirs).forall(!Files.exists(_)))
    assert(dirs(freshTorn).forall(Files.exists(_)), "a fresh torn key may be a put in flight")
    // the age is read through the injected clock: 25 h on, it is swept too
    now = now.plusSeconds(25 * 3600)
    assert(c.cleanupExpired() == 1)
    assert(dirs(freshTorn).forall(!Files.exists(_)))
  }
}
