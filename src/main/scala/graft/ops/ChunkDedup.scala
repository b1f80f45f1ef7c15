package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Paragraph-granularity exact dedup (the Dolma `dedupe`-by-paragraph
  * stage): duplicated BOILERPLATE inside otherwise-unique documents —
  * shared headers, licence blocks, navigation chrome — survives
  * document-level dedup (q21/q39) entirely, because the documents
  * differ. This operator drops repeats at sub-document granularity:
  * split each document into fixed word-count chunks, keep only the
  * corpus-wide FIRST occurrence of each distinct chunk text (ordered
  * by (doc_id, position) — deterministic, engine-independent), and
  * reassemble the survivors in document order.
  *
  * Scale shape: documents explode once to slim (doc_id, pos, chunk)
  * rows via the native [[graft.functions.WordChunks]] byte scan (a
  * chunk on single-space boundaries is a literal substring — the
  * composed split/slice/join HOFs materialized three intermediates
  * per row and dominated the explode stage). The only shuffle keys
  * are chunk texts — high-cardinality, so the first-occurrence window
  * parallelizes across the cluster (NOT the few-groups window trap
  * `bounded_topk` exists for) — and ALL chunks then regroup by doc_id
  * carrying their keep flag, so totals, kept counts, and reassembly
  * come out of ONE aggregation with no join back to the corpus.
  * Per-group state is bounded by document length. Never doc×doc.
  */
object ChunkDedup {

  /** (doc_id, pos, chunk) rows: chunk `pos` = words
    * [pos·w, (pos+1)·w) of the document, space-joined. Every document
    * yields at least one chunk (an empty text is one empty chunk), so
    * a fully-deduplicated document still appears in totals. */
  def chunks(docs: DataFrame, textCol: String, idCol: String, w: Int): DataFrame =
    // posexplode_outer + isNotNull, not posexplode: the plain form's
    // inferred `size(...) > 0` pre-filter re-evaluates the word_chunks
    // byte scan per doc; the outer variant runs it once (word_chunks
    // never returns an empty array, so the filter only re-drops the
    // null-text rows the plain explode dropped)
    docs.select(col(idCol),
      posexplode_outer(call_function("word_chunks", col(textCol), lit(w)))
        .as(Seq("pos", "chunk")))
      .filter(col("pos").isNotNull)

  /** Per-document dedup report: total chunk count, surviving chunk
    * count, and the reassembled text of the survivors (empty when
    * every chunk of the document appeared earlier in the corpus).
    * An `xxhash64(chunk)`-prefixed window key was measured and rejected
    * (BASELINE.md, Round 13 first session, "q73 keeper-window key A/B"). */
  def dedup(docs: DataFrame, textCol: String = "text",
            idCol: String = "doc_id", w: Int = 8): DataFrame =
    chunks(docs, textCol, idCol, w)
      .withColumn("keep", row_number().over(
        Window.partitionBy(col("chunk")).orderBy(col(idCol), col("pos"))) === 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
           sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
           // collect_list skips nulls, so only SURVIVING chunks enter
           // the aggregation buffer — a dropped chunk's text never
           // crosses the doc-keyed exchange (the whole point of dedup:
           // the more boilerplate the corpus carries, the less this
           // reassembly shuffles). The dropped-but-collected form this
           // replaces shuffled every chunk's text and filtered only in
           // the final projection.
           array_join(
             transform(
               array_sort(collect_list(when(col("keep"),
                 struct(col("pos"), col("chunk"))))),
               s => s.getField("chunk")), " ").as("text_dedup"))
      .select(col(idCol), col("n_chunks"), col("n_kept"), col("text_dedup"))
}
