package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{OceanEngine, SparkEntry}
import graft.cache.ResultCache
import graft.core.{Grid, Tables}
import graft.ops.{Clean, Describe, Quality}
import graft.sources.{ErddapSource, ErddapUrl, FixtureBackend}
import graft.streaming.EventStreams

/** `SparkEntry.queries` in the run's order. Per query one untimed
  * execution collects the rows for the output check (and warms the plan);
  * then two timed rounds force every query through the `noop` sink, as
  * `graft.Bench` does, and a query's time is its faster round. Bench
  * takes the min of three consecutive executions to damp scheduler and
  * GC swings; rounds several seconds apart also damp slow spells of a
  * shared host. Traced, each timed execution is split into construct (the
  * query closure), plan (forcing the executed plan) and run (the `noop`
  * write); the plan span also counts the plan's shuffle exchanges. */
final class QuerySuite(in: JsonNode) extends Workload {
  private val dir = in.get("tables").asText
  private val names = Input.strings(in.get("queries"))
  private val Rounds = 2

  def prepare(spark: SparkSession, setupIndex: Int): Unit =
    Tables.names.foreach(Tables.load(spark, dir, _))

  /** One scan, aggregation and shuffle, so the first query's cold run
    * does not carry the session's first-job costs. The cold runs then warm
    * every measured query before the timed rounds. */
  def warmUp(spark: SparkSession): Unit =
    Tables.lineitem(spark, dir).groupBy("l_returnflag").agg(count(lit(1)))
      .write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, tr: Tracer, passes: Seq[Boolean]): Seq[Map[String, Any]] = {
    val errors = scala.collection.mutable.Map.empty[String, String]
    def attempt[T](q: String)(f: => T): Option[T] =
      if (errors.contains(q)) None
      else try Some(f) catch { case e: Throwable => errors(q) = errorText(e); None }
    val facts = names.map { q =>
      attempt(q) {
        val t0 = System.nanoTime()
        val rows = tr.excluded(SparkEntry.queries(q)(spark, dir).collect())
        Map("cold_ms" -> millis(t0), "rows" -> rows.length, "fp" -> Fingerprint.of(rows))
      }.getOrElse(Map.empty[String, Any])
    }
    val times = Array.fill(passes.size, names.size)(Double.MaxValue)
    for (k <- 1 to Rounds; (q, j) <- names.zipWithIndex) inTurn(passes, k + j)(p => attempt(q) {
      val fn = SparkEntry.queries(q)
      val t0 = System.nanoTime()
      request(tr, passes(p), "query", s"$q#$k") { t =>
        val df = t.span("construct")(fn(spark, dir))
        t.span("plan")(t.countExchanges(df.queryExecution.executedPlan))
        t.span("run")(df.write.format("noop").mode("overwrite").save())
      }
      times(p)(j) = math.min(times(p)(j), millis(t0))
    })
    measureLiveHeap()
    passes.indices.map { p =>
      Map("ops" -> names.zipWithIndex.map { case (q, j) =>
        errors.get(q).map(e => Map("req" -> q, "error" -> e))
          .getOrElse(Map("req" -> q, "ms" -> times(p)(j)) ++ facts(j))
      })
    }
  }
}

/** Dashboard clicks on one [[OceanEngine]] with a fresh [[ResultCache]]
  * and an [[ErddapSource]] over a [[FixtureBackend]] (retry path kept, no
  * rate-limit wait). One click is
  * `fetchObservations` → `summary(df).collect()` →
  * `nearbyCached(...).collect()`. Traced, the click calls the same layer
  * functions in `fetchObservations`' order, each in its own span. */
final class Dashboard(in: JsonNode) extends Workload {
  private val workDir = Paths.get(in.get("work_dir").asText)
  private val points = Input.nodes(in.get("points"))
  private val clicks = Input.nodes(in.get("clicks"))
  private val vars = ErddapUrl.DefaultVariables
  private val fixtures: Map[String, String] = points.map { p =>
    ErddapUrl.build(p.get("lat").asDouble, p.get("lon").asDouble,
      p.get("start").asText, p.get("end").asText, vars) -> p.get("body").asText
  }.toMap

  private final case class Click(lat: Double, lon: Double, start: String, end: String)
  private def click(c: JsonNode): Click = {
    val p = points(c.get("point").asInt)
    Click(c.get("lat").asDouble, c.get("lon").asDouble, p.get("start").asText, p.get("end").asText)
  }

  private final class Engine(spark: SparkSession, val dir: Path) {
    val backend = new FixtureBackend(fixtures)
    val source = new ErddapSource(backend, minIntervalMs = 0L)
    val cache = new ResultCache(spark, dir.toString)
    val engine = new OceanEngine(spark, source, Some(cache))
    var fetches = 0
  }

  /** The facade click; returns (data, fromCache, score, describe rows, nearby rows). */
  private def facadeClick(ep: Engine, c: Click) = {
    val r = ep.engine.fetchObservations(c.lat, c.lon, c.start, c.end, vars)
    if (!r.fromCache) ep.fetches += 1
    val described = ep.engine.summary(r.data).collect()
    val near = ep.engine.nearbyCached(r.snappedLat, r.snappedLon).get.collect()
    (r.data, r.fromCache, r.quality.qualityScore, described.length, near.length)
  }

  /** The same click, one span per layer call. */
  private def tracedClick(spark: SparkSession, tr: Tracer, ep: Engine, c: Click) = {
    Grid.validateCoords(c.lat, c.lon).left.foreach(m => throw new IllegalArgumentException(m))
    Grid.validateDates(c.start, c.end).left.foreach(m => throw new IllegalArgumentException(m))
    val (sLat, sLon) = Grid.snap(c.lat, c.lon)
    val cached = tr.span("cache.get")(ep.cache.get(sLat, sLon, c.start, c.end, vars))
    val (data, report) = cached match {
      case Some(df) => (df, tr.span("quality")(Quality.report(df)))
      case None =>
        ep.fetches += 1
        val body = tr.span("source.fetch")(ep.source.fetchRaw(c.lat, c.lon, c.start, c.end, vars)._1)
        val raw = tr.span("source.parse")(ep.source.toRawDataFrame(spark, body))
        val cleaned = tr.span("clean")(Clean.cleanApiResponse(raw))
        val rep = tr.span("quality")(Quality.report(cleaned))
        if (rep.qualityScore > 0.0)
          tr.span("cache.put")(ep.cache.put(sLat, sLon, c.start, c.end, vars, cleaned))
        (cleaned, rep)
    }
    val described = tr.span("describe")(Describe.describe(data, round3 = true).collect())
    val near = tr.span("cache.nearby")(ep.cache.nearby(sLat, sLon).collect())
    (data, cached.isDefined, report.qualityScore, described.length, near.length)
  }

  /** The engine objects, on an empty cache. */
  def prepare(spark: SparkSession, setupIndex: Int): Unit =
    new Engine(spark, workDir.resolve(s"cache-setup-$setupIndex"))

  def warmUp(spark: SparkSession): Unit = {
    // on a scratch cache the measured clicks never see: two misses, then
    // two hits on each point, so the measured hits, whatever their place
    // in the sequence, run compiled code paths
    val ep = new Engine(spark, workDir.resolve("cache-warm"))
    val cs = points.take(2).map(p => Click(p.get("lat").asDouble, p.get("lon").asDouble,
      p.get("start").asText, p.get("end").asText))
    (cs ++ cs ++ cs).foreach(facadeClick(ep, _))
    Input.deleteTree(ep.dir)
  }

  def run(spark: SparkSession, tr: Tracer, passes: Seq[Boolean]): Seq[Map[String, Any]] = {
    val engines = passes.indices.map(p => new Engine(spark, workDir.resolve(s"cache-$p")))
    val ops = clicks.zipWithIndex.map { case (cj, i) =>
      val c = click(cj)
      val req = s"c$i"
      inTurn(passes, i) { p =>
        val ep = engines(p)
        try {
          val t0 = System.nanoTime()
          val (data, hit, score, described, near) =
            if (passes(p)) tr.span("click", req)(tracedClick(spark, tr, ep, c))
            else tr.excluded(facadeClick(ep, c))
          val ms = millis(t0)
          val rows = tr.excluded(data.collect()) // untimed: the rows the check compares
          Map("req" -> req, "ms" -> ms, "hit" -> hit, "score" -> score,
            "rows" -> rows.length, "fp" -> Fingerprint.of(rows),
            "describe_rows" -> described, "nearby" -> near)
        } catch {
          case ex: Throwable => Map("req" -> req, "error" -> errorText(ex))
        }
      }
    }
    measureLiveHeap()
    passes.indices.map { p =>
      val ep = engines(p)
      val entries = Option(ep.dir.resolve("meta").toFile.list()).map(_.length).getOrElse(0)
      Input.deleteTree(ep.dir)
      Map("ops" -> ops.map(_(p)), "fetches" -> ep.fetches,
        "attempts" -> ep.backend.attempts, "cache_entries" -> entries)
    }
  }
}

/** `EventStreams.ingestPipeline` (exact + near dedup, the RunIngest
  * default) fed by a `MemoryStream`, one micro-batch per request, on a
  * fresh landing and checkpoint. The first `lead_in` batches of each
  * stream are fed untimed; they warm the stream's paths (the second one
  * runs the confirm joins against the landing). */
final class StreamIngest(in: JsonNode) extends Workload {
  private val workDir = Paths.get(in.get("work_dir").asText)
  private def docs(n: JsonNode): Seq[(Long, String)] =
    Input.nodes(n).map(d => (d.get(0).asLong, d.get(1).asText))
  private val (leadIn, batches) =
    Input.nodes(in.get("batches")).map(docs).splitAt(in.get("lead_in").asInt)

  /** One started ingest stream on an empty landing under `dir`. */
  private final class Ingest(spark: SparkSession, val dir: Path) {
    private implicit val sq: SQLContext = spark.sqlContext
    import spark.implicits._
    val landing: String = dir.resolve("corpus").toString
    val input = MemoryStream[(Long, String)]
    val query = EventStreams.ingestPipeline(
      input.toDF().toDF("doc_id", "text"), landing, dir.resolve("ckpt").toString)
    query.processAllAvailable() // started and idle
    def runId: String = query.runId.toString
    def feed(b: Seq[(Long, String)], t: Tracer): Unit = {
      t.span("stream.add")(input.addData(b: _*))
      t.span("stream.process")(query.processAllAvailable())
    }
  }

  /** Start the ingest stream on an empty landing and stop it. */
  def prepare(spark: SparkSession, setupIndex: Int): Unit = {
    val ingest = new Ingest(spark, workDir.resolve(s"stream-setup-$setupIndex"))
    ingest.query.stop()
    Input.deleteTree(ingest.dir)
  }

  /** Each stream's lead-in batches are its warm-up. */
  def warmUp(spark: SparkSession): Unit = ()

  def run(spark: SparkSession, tr: Tracer, passes: Seq[Boolean]): Seq[Map[String, Any]] = {
    val ingests = passes.indices.map(p => new Ingest(spark, workDir.resolve(s"stream-$p")))
    val ops = try {
      passes.zip(ingests).foreach { case (traced, s) =>
        if (traced) tr.excludeBatches(s.runId, leadIn.indices)
        else tr.excludeGroup(s.runId)
        tr.excluded(leadIn.foreach(s.feed(_, Tracer.off)))
      }
      val timed = batches.zipWithIndex.map { case (b, i) =>
        inTurn(passes, i) { p =>
          val s = ingests(p)
          val t0 = System.nanoTime()
          request(tr, passes(p), "batch", s"b$i") { t =>
            t.bindBatch(s.runId, (leadIn.size + i).toLong)
            s.feed(b, t)
          }
          Map("req" -> s"b$i", "ms" -> millis(t0), "docs" -> b.size)
        }
      }
      measureLiveHeap()
      timed
    } finally ingests.foreach(_.query.stop())
    passes.indices.map { p =>
      val landing = ingests(p).landing
      val landed = tr.excluded(spark.read.parquet(landing).select("doc_id").collect().map(_.getLong(0)))
      val files = {
        val s = Files.walk(Paths.get(landing))
        try s.iterator.asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toSeq
        finally s.close()
      }
      val out = Map("ops" -> ops.map(_(p)), "landed_ids" -> landed.toSeq,
        "landing_files" -> files.size, "landing_bytes" -> files.map(Files.size(_)).sum)
      Input.deleteTree(ingests(p).dir)
      out
    }
  }
}
