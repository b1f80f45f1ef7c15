package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where the artifacts of this JVM's landing queries live: q78's jsonl
  * shards, q81's IVF-PQ index and q97's benchmark grams. Their oracles
  * read these files back. */
final case class LandedDirs(jsonl: String, ivfPq: String, benchGrams: String)

/** One oracle-checked query: its name, its Spark build over a
  * scale-factor dir, and its DuckDB oracle SQL. The oracle sees the
  * landed dirs, so a query that lands files can check them. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: LandedDirs => String)
