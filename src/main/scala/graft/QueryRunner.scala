package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.queries.Query

/** The one runner under every main that runs SparkEntry queries: Bench
  * (time), Verify (dump), PlanFingerprints (shape) and FloorDecompProbe
  * (phases). Each main is a reporter, a function from one query to what
  * its output records. The runner selects through [[SparkEntry.select]]
  * before the session starts (a broken filter fails before any work),
  * builds the session, runs Bench's warm-up when asked, and turns a
  * query's throw into that query's error (the first line of its
  * message, ≤200 chars, logged once to stderr) while the loop goes on:
  * a broken query must never read as a fast one, nor stop the queries
  * after it. */
object QueryRunner {
  type Outcome[A] = (String, Either[String, A])

  /** `report` over the selected queries, in name order; the session is
    * stopped on return. */
  def run[A](tag: String, sfDir: String, filter: Option[String], app: String,
             cpus: String = GraftSession.DefaultCpus, warmUp: Boolean = false)
            (report: (SparkSession, Query) => A): Seq[Outcome[A]] = {
    val selected = SparkEntry.select(filter)
    val spark = GraftSession.build(app, cpus)
    try each(tag, spark, sfDir, selected, warmUp)(report) finally spark.stop()
  }

  /** The loop of [[run]], on a caller's session. A warm-up failure is
    * logged, never fatal: the per-query errors say more than a bare
    * stack trace and no output. */
  private[graft] def each[A](tag: String, spark: SparkSession, sfDir: String, queries: Seq[Query],
                             warmUp: Boolean = false)(report: (SparkSession, Query) => A): Seq[Outcome[A]] = {
    if (warmUp)
      try Bench.warmUp(spark, sfDir)
      catch { case e: Throwable => System.err.println(s"[$tag] warm-up failed: ${e.getMessage}") }
    queries.map { q =>
      q.name -> (try Right(report(spark, q)) catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[$tag] ${q.name} failed: $msg")
        Left(msg.linesIterator.nextOption().getOrElse("").take(200)) // "" must not throw here
      })
    }
  }

  /** Prints `line` and writes it to `outPath`: a capture of stdout
    * that keeps only its tail has made early cells unrecoverable. A
    * failed write (read-only checkout, missing dir) is logged and never
    * fails the run. */
  def emit(tag: String, line: String, outPath: String): Unit = {
    println(line)
    try Files.write(Paths.get(outPath), (line + "\n").getBytes(UTF_8))
    catch { case e: Throwable => System.err.println(s"[$tag] could not write $outPath: ${e.getMessage}") }
  }
}
