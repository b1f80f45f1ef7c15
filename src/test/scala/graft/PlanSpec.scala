package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SimilarityQueries

/** Physical-plan audits: the properties that make these queries safe
  * at 100 TB, asserted so a regression (lost pushdown, broadcast
  * becoming a shuffle join, an accidental exchange in a map-only
  * pipeline) fails the build rather than silently degrading.
  * All run against sf0.001 — plan shape does not depend on SF. */
class PlanSpec extends AnyFunSuite with SparkTestSession {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(FormattedMode)
  }

  test("q02: filter and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:"), p.take(600))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate predicate not pushed")
    assert(p.contains("LessThan(l_quantity"), "quantity predicate not pushed")
    // column pruning: only the 5 needed columns are read
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice,") || !readSchema.contains("l_tax"),
           s"scan reads more columns than projected: $readSchema")
  }

  test("events: a ts-range predicate reaches PushedFilters through the normalization") {
    // Tables.events re-declares the micros-NTZ `ts` as session-zoned
    // TIMESTAMP at the scan (schema override, not a cast) precisely so
    // range predicates stay bare-attribute and prune row groups. A
    // regression back to `cast(ts)` leaves PushedFilters empty and the
    // events scan unpruned — invisible at sf0.001, a full 100 TB scan
    // at cluster scale.
    import org.apache.spark.sql.functions.col
    val bound = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
    val df = graft.core.Tables.events(spark, dir).filter(col("ts") >= bound)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("GreaterThanOrEqual(ts"),
      s"ts bound not pushed to the parquet scan:\n${p.take(1500)}")
  }

  test("q03/q04: dimension joins broadcast, never shuffle the fact side for dims") {
    assert(plan("q03_join_segment").contains("BroadcastHashJoin"))
    val p4 = plan("q04_star_join")
    assert(p4.contains("BroadcastHashJoin"), "nation/region should broadcast")
  }

  test("q07: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q07_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("+- Sort ["), s"unexpected full sort in:\n$p")
  }

  test("q26: per-row minhash is map-only — no KEY shuffle before the final sort") {
    val p = plan("q26_minhash_sig")
    // two exchanges: the r21 conditional spread (ROUND-ROBIN — a
    // deliberate guide-§2.5 repartition that engages every core on
    // the one-row-group fixture; inert at cluster scale) plus the
    // output ORDER BY (rangepartitioning). The signature computation
    // itself must never HASH-shuffle — a hashpartitioning exchange
    // here would mean the map-only shape regressed to a keyed
    // regroup.
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(!p.contains("hashpartitioning"),
      s"unexpected keyed exchange in a map-only query:\n$p")
    // r22 (ADVICE r21): the allowed count is CONDITIONAL on whether
    // the spread actually fires for this fixture (spreadSmallScan
    // returns the frame unchanged when it opts out) — a double spread
    // or an extra exchange in a non-spreading configuration both fail
    val docs = graft.core.Tables.documents(spark, dir)
    val spreadFires = !(SimilarityQueries.spreadSmallScan(docs) eq docs)
    if (spreadFires) {
      assert(exchanges == 2, s"expected spread + final sort only, got $exchanges:\n$p")
      assert(p.contains("REPARTITION_BY_NUM") || p.contains("RoundRobinPartitioning"),
        s"extra exchange is not the round-robin spread:\n$p")
    } else
      assert(exchanges == 1, s"expected the final sort alone, got $exchanges:\n$p")
  }

  test("spreadSmallScan: the bytes bound vetoes the spread on a big payload (r22)") {
    // The partition-count trigger alone is payload-blind: a few huge
    // files on many cores would round-robin-shuffle the full payload
    // (the guide-§8 anti-pattern). The sizeInBytes bound must veto
    // that BEFORE the partition probe; the bench fixtures (well under
    // the default bound) must keep spreading exactly as in r21.
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val conf = spark.conf
    // under-filled scan + tiny payload → spreads (the r21 behavior)
    val spread = SimilarityQueries.spreadSmallScan(docs)
    assert(spread.queryExecution.explainString(FormattedMode)
             .contains("REPARTITION_BY_NUM"),
           "small fixture scan no longer spreads")
    // same frame with the bound forced below its size → NO repartition
    conf.set("spark.graft.spread.maxBytes", "1")
    try {
      val vetoed = SimilarityQueries.spreadSmallScan(docs)
      val p = vetoed.queryExecution.explainString(FormattedMode)
      assert(!p.contains("REPARTITION_BY_NUM") && !p.contains("RoundRobinPartitioning"),
             s"payload above the bytes bound still spread:\n$p")
    } finally conf.unset("spark.graft.spread.maxBytes")
  }

  test("spreadSmallScan: unknown-size relations saturate the bytes sum instead of wrapping") {
    // Non-file relations report Long.MaxValue; summed naively, two of
    // them wrap negative and slip under the veto, and this under-filled
    // union would then be round-robin spread.
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.{Row, SQLContext}
    import org.apache.spark.sql.sources.{BaseRelation, TableScan}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rel = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = spark.sqlContext
      override def schema: StructType = StructType(Seq(StructField("id", LongType)))
      override def sizeInBytes: Long = Long.MaxValue
      override def buildScan(): RDD[Row] = spark.sparkContext.parallelize(Seq(Row(1L)), 1)
    }
    val df = spark.baseRelationToDataFrame(rel).union(spark.baseRelationToDataFrame(rel))
    assert(df.rdd.getNumPartitions * 2 <= spark.sparkContext.defaultParallelism,
      "precondition: the partition probe alone would spread this frame")
    val out = SimilarityQueries.spreadSmallScan(df)
    val p = out.queryExecution.explainString(FormattedMode)
    assert((out eq df) && !p.contains("RoundRobinPartitioning"),
      s"Long.MaxValue leaves slipped under the bytes veto:\n$p")
  }

  test("q08: rank window and output sort share ONE range exchange") {
    val p = plan("q08_window_rank")
    assert(p.contains("Window"), p.take(400))
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one shared range exchange, got $exchanges:\n$p")
  }

  test("q09: window and output sort share ONE range exchange") {
    // RangePartitioning(l_orderkey) satisfies the window's clustering
    // requirement AND prefix-satisfies the output's OrderedDistribution
    // (l_orderkey, l_linenumber) — so the whole query is one shuffle.
    // A regression to the naive hash-exchange window re-shuffles the
    // entire fact table a second time for the final ORDER BY.
    val p = plan("q09_window_running")
    assert(p.contains("Window"), p.take(400))
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one shared range exchange, got $exchanges:\n$p")
  }

  test("q01: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"))
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
           "expected partial+final aggregation")
  }

  test("q37: similarity join is an equi-join on the bucket, not a cartesian product") {
    val p = plan("q37_ann_sim_join")
    assert(!p.contains("CartesianProduct"), s"all-pairs join detected:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join detected:\n$p")
  }

  test("q60: the dedup graph's bucket join has an AGGREGATED hub side, not bands×bands") {
    // bandedStarEdges joins the band rows against the per-bucket min
    // aggregate — O(members) edges per bucket. A regression back to
    // the pairwise self-join (bands joined with bands on the bucket
    // key plus a doc inequality) would be quadratic in bucket size
    // and is exactly what a mega-dup-group at corpus scale cannot
    // survive.
    val edges = SimilarityQueries.bandedStarEdges(
      SimilarityQueries.minhashSigsFrame(spark, dir))
    val p = edges.queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), s"all-pairs join detected:\n$p")
    // the join's build/right side must come through the hub aggregate:
    // partial+final HashAggregate pair for min(doc_id) per bucket
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
           s"hub-side min aggregate missing — pairwise self-join regression?\n$p")
    // star edges never compare doc ids in the JOIN condition (the
    // pairwise form's `a.doc_id < b.doc_id` inequality)
    val joinLines = p.linesIterator.filter(_.contains("SortMergeJoin")).mkString("\n")
    assert(!joinLines.contains("<"), s"doc-inequality join condition:\n$joinLines")
  }

  test("q42: IVF assignment is a pure projection — no join, no window, no row expansion") {
    val p = plan("q42_ivf_assign")
    assert(!p.contains("Join"), s"row-expansion join in IVF assignment:\n$p")
    assert(!p.contains("Window"), s"window top-1 selection in IVF assignment:\n$p")
    assert(p.contains("argmax_dot"), "native argmax expression missing from the plan")
    // exactly one exchange: the output ORDER BY
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the final sort exchange, got $exchanges:\n$p")
  }

  test("q67: PQ encoding is a pure projection — no join, no window, no row expansion") {
    val p = plan("q67_pq_encode")
    assert(!p.contains("Join"), s"row-expansion join in PQ encoding:\n$p")
    assert(!p.contains("Window"), s"window selection in PQ encoding:\n$p")
    assert(p.contains("argmax_dot"), "native argmax expression missing from the plan")
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the final sort exchange, got $exchanges:\n$p")
  }

  test("q66: source overlap joins the mask histogram, never gram or doc pairs") {
    val p = plan("q66_source_overlap")
    assert(!p.contains("CartesianProduct"), s"all-pairs join detected:\n$p")
    // the only join input that expands rows is the broadcast pair
    // table against the domain-bounded (≤2^sources) mask histogram —
    // the corpus-proportional side is aggregated twice before any join
    assert(p.contains("bit_or"), "mask aggregation missing from the plan")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
           s"pair table should broadcast:\n$p")
  }

  test("q70: bits-histogram percentiles plan has no range sampling and no corpus sort") {
    val p = plan("q70_quartiles_hist")
    assert(p.contains("double_order_bits"), "order-bits bucketing missing from the plan")
    // the sort regime's defining cost (q32) is the sampled range
    // exchange — this regime must not have one anywhere
    assert(!p.toLowerCase.contains("rangepartitioning"),
           s"range exchange in histogram-regime plan:\n$p")
    // windows exist but only over bucket-count rows / bracket-bucket
    // members; the level-1 pass must be a hash aggregate
    assert(p.contains("HashAggregate"), s"level-1 counts not hash-aggregated:\n$p")
  }

  test("q69: grouped trend is one aggregation — no window, no join") {
    val p = plan("q69_grouped_trend")
    assert(!p.contains("Window"), s"window in closed-form regression plan:\n$p")
    assert(!p.contains("Join"), s"join in closed-form regression plan:\n$p")
  }

  test("q49: contamination joins on gram keys, never doc pairs") {
    val p = plan("q49_contamination")
    assert(!p.contains("CartesianProduct"), s"all-pairs join detected:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join detected:\n$p")
    // the gram expression must stay a single native word_ngrams call,
    // not an inlined lambda forest (the InferFiltersFromGenerate
    // hazard that cost 30x)
    assert(!p.contains("lambdafunction(concat_ws"),
           "HOF gram expression leaked back into the plan")
  }

  test("q97: landed-set decontamination joins on gram fingerprints, never doc pairs") {
    val p = plan("q97_decontaminate")
    assert(!p.contains("CartesianProduct"), s"all-pairs join detected:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join detected:\n$p")
    // sf0.001's benchmark slice is far under the gate: the landed set
    // must come in as a broadcast, not an exchange of the gram stream
    assert(p.contains("BroadcastHashJoin"), s"landed set not broadcast:\n$p")
  }

  test("q51: running totals never use a global single-partition window") {
    val p = plan("q51_token_shards")
    // r22: the data rows carry NO window at all — the within-chunk
    // running total is the stateful running_sum expression evaluated
    // in the shuffle-read stage (the r21 chunk-keyed window paid a
    // second full hashpartitioning(__pid) exchange for a clustering
    // the rows already had); the only window left orders the P chunk
    // TOTALS (metadata), never data
    assert(p.contains("running_sum"),
           s"expected the stateful running_sum projection in:\n$p")
    assert(!p.contains("windowspecdefinition(doc_id#"),
           s"found globally-ordered window over the data in:\n$p")
  }

  test("q95: epoch shuffle keeps the distributed-prefix-sum shape under the composite key") {
    val p = plan("q95_epoch_shuffle")
    assert(p.contains("running_sum"),
           s"expected the stateful running_sum projection in:\n$p")
    assert(!p.contains("windowspecdefinition(epoch_key#"),
           s"found globally-ordered window over the data in:\n$p")
    assert(!p.contains("CartesianProduct"), s"all-pairs detected:\n$p")
  }

  test("q96: quantile sketches ride bounded_topk buffers — no window, no join, no row shuffle") {
    val p = plan("q96_quantile_sketch")
    assert(p.contains("bounded_topk"), "sketch aggregate missing")
    assert(p.contains("ObjectHashAggregate"),
      "bounded_topk must plan as ObjectHashAggregate (map-side partial sketches)")
    assert(!p.contains("Window"), "a window-ranked sample is the row-shuffle scale trap")
    assert(!p.contains("Join"),
      s"sketch merge needs no join at all (count rides the pos-0 entry):\n$p")
    assert(!p.contains("CartesianProduct"), s"all-pairs detected:\n$p")
  }

  test("q84: real-token shard packing — native count in the scan projection, chunk-keyed window") {
    val p = plan("q84_bpe_shards")
    // the tokenizer is the native expression evaluated in the scan's
    // projection — no UDF, no join or extra shuffle added by counting
    assert(p.contains("bpe_token_count"), s"native tokenizer missing from:\n$p")
    // and the running total keeps q51's distributed-prefix-sum shape
    // (r22: stateful running_sum over the range-exchanged rows, no
    // data window — see the q51 pin)
    assert(p.contains("running_sum"),
           s"expected the stateful running_sum projection in:\n$p")
    assert(!p.contains("windowspecdefinition(doc_id#"),
           s"found globally-ordered window over the data in:\n$p")
  }

  test("q85: token-budget chunking is map-only — generate + project, zero pre-sort exchanges") {
    val p = plan("q85_token_chunks")
    assert(p.contains("bpe_chunks"), s"native chunker missing from:\n$p")
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the final sort exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"unexpected join in a per-doc chunking pipeline:\n$p")
    // the chunker must run ONCE per doc: plain (inner) posexplode
    // gets an optimizer-inferred `size(bpe_chunks(..)) > 0` filter
    // that evaluates the whole byte scan a second time — the
    // posexplode_outer + post-filter form avoids it (ChunkDedup
    // discipline), and the executed plan must show exactly one call
    val df = SparkEntry.queries("q85_token_chunks")(spark, dir)
    val calls = "bpe_chunks".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
    assert(calls == 1,
      s"bpe_chunks evaluated $calls times in the physical plan (inferred filter re-run?)")
  }

  test("no WindowExec anywhere runs with an empty partition spec") {
    // Every intentional single-partition meta window (Percentiles /
    // PrefixSum chunk offsets) is keyed by a constant, so a window
    // with NO partition spec can only be an accident — the exact
    // shape whose "No Partition Defined" warning used to be drowned
    // out by the intentional ones. Sweep the plans that use windows.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    for (name <- Seq("q32_describe", "q51_token_shards", "q57_percentile_hist",
                     "q70_quartiles_hist", "q08_window_rank", "q09_window_running")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save() // finalize AQE plan
      def sweep(p: org.apache.spark.sql.execution.SparkPlan): Unit = p.foreach {
        case w: WindowExec =>
          assert(w.partitionSpec.nonEmpty,
                 s"$name: WindowExec with empty partition spec:\n$w")
        case a: AdaptiveSparkPlanExec => sweep(a.executedPlan)
        case _ =>
      }
      sweep(df.queryExecution.executedPlan)
    }
  }

  test("q39: dedup anti-join broadcasts the dup-id set") {
    val p = plan("q39_neardup_dedup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
           s"expected broadcast anti-join:\n${p.take(800)}")
  }

  test("q53: grouped top-k is one Tungsten aggregation — no RDD detour, no window") {
    val p = plan("q53_top_per_lang")
    // the bounded_topk TypedImperativeAggregate runs in
    // ObjectHashAggregate with a partial (map-side pre-prune) phase
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    assert(p.contains("partial_bounded_topk") || p.contains("bounded_topk"),
           "bounded_topk aggregate missing from the plan")
    // the old formulation round-tripped through df.rdd (an
    // ExistingRDD scan severing codegen) and re-ranked with a window
    assert(!p.contains("Scan ExistingRDD"), "RDD detour is back")
    assert(!p.contains("Window"), "window sort is back")
  }

  test("q88: KMV sketch aggregates map-side — the exchange carries sketches, never texts") {
    val p = plan("q88_kmv_distinct")
    // the kmv_agg TypedImperativeAggregate runs in ObjectHashAggregate
    // with a PARTIAL phase: each partition reduces to <=k longs per
    // lang before the shuffle (the mergeable-sketch property)
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    assert(p.contains("partial_kmv_agg") || p.contains("kmv_agg"),
           "kmv_agg aggregate missing from the plan")
    // ReadSchema must prune to the two used columns — a sketch over
    // text must not drag source/n_chars through the scan
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("text") && read.contains("lang") && !read.contains("n_chars"),
           s"expected pruned scan, got: $read")
  }

  test("q90: both set sketches come from ONE documents scan, no join anywhere") {
    val p = plan("q90_kmv_setops")
    // the two conditional kmv_aggs ride a single aggregation over a
    // single scan — a formulation that scanned per sub-corpus (or
    // joined the sketches) would double the 100 TB read
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"expected ONE documents scan, got $scans:\n${p.take(900)}")
    assert(!p.contains("Join"), s"set-op join detected:\n${p.take(900)}")
    assert(p.contains("ObjectHashAggregate"), p.take(900))
  }

  test("q72: PII scrub is map-only — zero exchanges before the final sort") {
    val p = plan("q72_pii_scrub")
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the final sort exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"unexpected join in a projection pipeline:\n$p")
  }

  test("q73: chunk dedup shuffles chunk keys, never doc pairs") {
    val p = plan("q73_chunk_dedup")
    assert(!p.contains("CartesianProduct"), s"all-pairs detected:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop detected:\n$p")
    // first-occurrence keeper partitions by the high-cardinality
    // chunk text — the parallel-safe window shape
    assert(p.contains("Window"), "first-occurrence window missing")
  }

  test("q92: span dedup shuffles span fingerprints, then one doc regroup — never doc pairs") {
    val p = plan("q92_span_dedup")
    assert(!p.contains("CartesianProduct"), s"all-pairs detected:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop detected:\n$p")
    assert(!p.contains("Join"), s"span dedup needs no join at all:\n$p")
    assert(p.contains("Window"), "first-occurrence window missing")
    // exactly four exchanges: the r21 round-robin spread (guide §2.5
    // — parallelizes the word_spans explode off the one-row-group
    // fixture; inert at cluster scale), span_h window, doc_id
    // regroup, final sort. More KEYED exchanges than the two pinned
    // below means the single-aggregation reassembly regressed to a
    // join-back.
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(exchanges <= 4, s"expected ≤4 exchanges (spread, span_h, doc_id, sort), got $exchanges:\n$p")
    val keyed = "hashpartitioning".r.findAllIn(p).length
    assert(keyed <= 2, s"expected ≤2 keyed exchanges (span_h, doc_id), got $keyed:\n$p")
    // the span text itself must not ride the shuffle — only its
    // 60-bit fingerprint does
    assert(p.contains("span_h"), "span fingerprint column missing from the plan")
  }

  test("q93: LM scoring is MAP-ONLY (r18 map-fold arm) — one probe expression, no explode/join/regroup") {
    val p = plan("q93_lm_perplexity")
    assert(!p.contains("CartesianProduct"), s"all-pairs detected:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop detected:\n$p")
    // the scoring pass is a single projection: the lm_score byte-scan
    // expression probes the broadcast maps per position — the
    // relational shape (word_lm_entries explode → LM join → doc
    // regroup) must not reappear in the BroadcastEntries regime
    assert(p.contains("lm_score"), "map-fold probe expression missing")
    assert(!p.contains("Join"), s"scoring must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"scoring must not aggregate:\n$p")
    assert(!p.contains("Generate"), s"scoring must not explode entry rows:\n$p")
    assert(!p.contains("word_text_ngrams"), "gram STRINGS must not ride q93")
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the output-sort exchange, got $exchanges:\n$p")
    // the documents scan feeds doc_id/lang/text only
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("n_chars") && !readSchemas.contains("source"),
      s"documents scan reads unused columns:\n$readSchemas")
  }

  test("q94: DSIR scoring is map-only — one histogram pass feeds a folded literal, no join") {
    val p = plan("q94_dsir_weights")
    // the returned DataFrame is the SCORING pass (the histogram was
    // collected at build time, bounded by the bucket constant): a
    // join or aggregate exchange here means the broadcast-as-literal
    // design regressed
    assert(!p.contains("Join"), s"scoring must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"scoring must not aggregate:\n$p")
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the output-sort exchange, got $exchanges:\n$p")
  }

  test("q74: bloom prefilter guards the exact-confirm join") {
    val p = plan("q74_incremental_dedup")
    // the batch probes the collected blob BEFORE any join: provably-
    // absent rows never reach the confirm semi-join
    assert(p.contains("bloom_might_contain"), "bloom probe missing from the plan")
    assert(!p.contains("CartesianProduct"), s"all-pairs detected:\n$p")
  }

  test("q76: per-domain cap is the bounded_topk aggregate, counts broadcast back") {
    val p = plan("q76_domain_caps")
    assert(p.contains("bounded_topk"), "cap should reuse the bounded_topk aggregate")
    assert(!p.contains("Window"), "window-sort cap is the few-groups scale trap")
    assert(p.contains("BroadcastHashJoin"), "30-row count table should broadcast")
  }

  test("q77: text cleanup is map-only — zero exchanges before the final sort") {
    val p = plan("q77_text_cleanup")
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the final sort exchange, got $exchanges:\n$p")
    assert(p.contains("nfc_normalize") && p.contains("clean_spaces"),
           "native cleanup expressions missing from the plan")
  }

  test("q75: IVF-PQ search is scan → project → filter → TakeOrdered — no shuffle at all") {
    val p = plan("q75_ivfpq_search")
    assert(!p.contains("Join"), s"join in the ADC scan:\n$p")
    assert(!p.contains("Window"), s"window in the ADC scan:\n$p")
    assert(p.contains("argmax_dot"), "native argmax expression missing")
    assert(p.contains("TakeOrderedAndProject"), "top-k should be a bounded heap, not a sort")
    // one exchange: the carrier's presentation ORDER BY over the 20-row
    // result — the corpus-sized scan itself never shuffles
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(exchanges <= 1, s"ADC scan should not shuffle, got $exchanges:\n$p")
  }

  test("q61: tf-idf reads documents ONCE — corpus N is a memoized statistic, not a subtree") {
    // Round 13 removed the second documents scan (the corpus-count
    // aggregate + broadcast crossJoin): N now comes from the
    // Tables.documentsCount catalog-statistics memo as a literal.
    val p = plan("q61_tfidf_terms")
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"expected exactly 1 documents scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"no join belongs in the tf-idf plan:\n$p")
  }

  test("q79: batch IVF-PQ search scans the corpus ONCE for all probes") {
    val p = plan("q79_ivfpq_batch")
    // one FileScan in the lazy plan — per-probe work rides the
    // broadcast spec join, never a corpus re-scan per probe
    // formatted mode prints each scan once in the tree and once as a
    // "(n) Scan parquet" detail header — count the detail headers
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n$p")
    assert(!p.contains("CartesianProduct"), "probe fan-out must be an equi-join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
           s"probe spec not broadcast:\n$p")
    assert(p.contains("bounded_topk"), "per-probe top-k must be the bounded-heap aggregate")
    assert(!p.contains("WindowExec") && !p.contains("windowspecdefinition"),
           "no per-probe window sort")
  }

  test("q81: persisted-index search prunes to the probed centroids and never reads vectors") {
    // q81's plan builds against the LANDED index, so land it first
    // (same dir the carrier uses)
    val idxDir = graft.ops.IvfPqIndex.dirFor(dir)
    graft.ops.IvfPqIndex.land(graft.core.Tables.embeddings(spark, dir), idxDir,
      coarseK = 16, m = 4, ksub = 16)
    val df = graft.ops.IvfPqIndex.search(spark, idxDir,
      graft.core.Tables.embeddings(spark, dir),
      probeIds = Seq(123L, 77L, 401L), coarseK = 16, m = 4, ksub = 16,
      nprobe = 4, k = 10)
    val p = df.queryExecution.explainString(FormattedMode)
    // the index scan's ReadSchema carries only id + codes — the raw
    // vector column must NOT appear anywhere in the search plan
    assert(!p.contains("embedding"), s"raw vector column in the search plan:\n$p")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(readSchema.contains("code_0"), s"codes missing from the index scan: $readSchema")
    // centroid is a partition column: the isin must land as a
    // PartitionFilters entry, not a post-scan filter
    assert(p.contains("PartitionFilters"), s"no partition filters on the index scan:\n$p")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("centroid"), s"centroid not in partition filters: $pf")
    // and the pruned scan touches at most nprobe-per-probe centroids:
    // execute and count the actual partitions read
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("bounded_topk"), "per-probe top-k must be the bounded heap")
  }

  test("q86: semantic candidates come from the bucket equi-join, vectors never band-shuffle") {
    val p = plan("q86_semantic_incremental")
    assert(!p.contains("CartesianProduct"), s"all-pairs join detected:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join detected:\n$p")
    // every exchange that moves banded bucket rows (hash OR broadcast
    // — AQE broadcasts the small side at fixture scale) carries slim
    // (id, band, bucket) columns only; an embedding column crossing
    // one would ship vectors with every bucket row. FormattedMode
    // details each Exchange as a block with an `Input [..]: [cols]`
    // line.
    val blocks = p.split("\n\n").filter { b =>
      val head = b.linesIterator.next()
      head.matches(raw"\(\d+\) (Broadcast)?Exchange.*") &&
        b.linesIterator.exists(l => l.startsWith("Input") && l.contains("band#"))
    }
    assert(blocks.nonEmpty, s"no banding exchange found:\n$p")
    blocks.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("embedding") && !input.contains("bv#") &&
             !input.contains("cv#") && !input.contains("base_v"),
        s"vectors ride the banding exchange:\n$b")
    }
  }

  test("whole-stage codegen covers the relational core") {
    // FormattedMode under AQE omits codegen spans; CodegenMode lists
    // the compiled subtrees explicitly.
    val p = SparkEntry.queries("q01_pricing_summary")(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"), "codegen disabled on the hot path")
  }
}
