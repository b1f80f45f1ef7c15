package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew

/** Scale-path mechanics the brief calls out by name: salting for
  * skewed joins, bucketing for shuffle-free co-located joins. */
class ScaleOpsSpec extends AnyFunSuite with SparkTestSession {

  test("saltedJoin: same result as a plain join, key spread over salts") {
    import spark.implicits._
    // heavy skew: 90% of rows share key 1
    val large = ((1 to 900).map(i => (1L, i.toLong)) ++ (1 to 100).map(i => (i.toLong % 7 + 2, i.toLong)))
      .toDF("k", "row_id")
    val small = (1L to 10L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = large.join(small, "k").select("k", "row_id", "name")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(large, small, "k", "row_id", saltBuckets = 8)
      .select("k", "row_id", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
    // the hot key's rows really do carry distinct salts
    val salts = large.withColumn("s", pmod(hash(col("row_id")), lit(8)))
      .filter(col("k") === 1).select("s").distinct().count()
    assert(salts > 1)
  }

  test("aggThroughJoin: same result as join-then-agg, partial Aggregate BELOW the join") {
    import spark.implicits._
    // heavy skew: 90% of facts share key 1 — the shape whose joined
    // volume the pre-aggregation collapses to one partial per key
    val large = ((1 to 900).map(i => (1L, i.toLong * 10)) ++
      (1 to 100).map(i => (i.toLong % 7 + 2, i.toLong)))
      .toDF("k", "amount")
    val small = (1L to 10L).map(k => (k, s"seg_${k % 3}")).toDF("k", "segment")

    val direct = large.join(small, "k").groupBy("segment")
      .agg(count(lit(1)).as("n"), sum(col("amount")).as("total"))
      .collect().map(_.toSeq).toSet
    val preAgg = Skew.aggThroughJoin(large, small, "k",
      partialAggs = Seq(count(lit(1)).as("pn"), sum(col("amount")).as("ps")),
      groupCols = Seq("segment"),
      finalAggs = Seq(sum(col("pn")).as("n"), sum(col("ps")).as("total")))
    assert(preAgg.collect().map(_.toSeq).toSet == direct)

    // the plan property that IS the operator: the optimized plan's
    // join has an Aggregate on its large-side input (facts collapse
    // BEFORE the join), and the final Aggregate sits above the join
    val plan = preAgg.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty, "expected a join in the optimized plan")
    assert(joins.exists(j =>
      j.children.exists(c => c.collectFirst { case a: Aggregate => a }.nonEmpty)),
      s"no partial Aggregate below the join:\n$plan")
    assert(plan.collectFirst { case a: Aggregate => a }.nonEmpty)
  }

  test("ivfAssign at k=1024: output stays one row per vector, no expansion operators") {
    import spark.implicits._
    // a real coarse quantizer's k — the regime where the old
    // crossJoin+window formulation materialized an n·k expansion
    val n = 4096
    val dim = 16
    val emb = (0 until n)
      .map(i => (i.toLong, Seq.tabulate(dim)(d => math.sin(i * 0.37 + d * 0.91))))
      .toDF("vec_id", "embedding")
    val assigned = graft.ops.Similarity.ivfAssign(emb, k = 1024)
    val p = assigned.queryExecution.explainString(FormattedMode)
    assert(!p.contains("Join") && !p.contains("Window"),
           s"expansion operator in k=1024 assignment plan:\n$p")
    assert(assigned.count() == n)
    val byVec = assigned.groupBy("vec_id").count().filter(col("count") =!= 1).count()
    assert(byVec == 0, "assignment must emit exactly one row per vector")
    val range = assigned.agg(min("centroid"), max("centroid")).head()
    assert(range.getLong(0) >= 0L && range.getLong(1) < 1024L)
  }

  test("semanticDedup at k=256: joins stay broadcast, output one row per survivor") {
    import spark.implicits._
    // the corpus side must never expand or shuffle-join: reps are a
    // broadcast k-row table, so the only joins in the plan are
    // broadcast hash joins and the member scan stays linear
    val n = 4096
    val dim = 16
    val emb = (0 until n)
      .map(i => (i.toLong, Seq.tabulate(dim)(d => math.sin(i * 0.37 + d * 0.91))))
      .toDF("vec_id", "embedding")
    val out = graft.ops.Similarity.semanticDedup(emb, k = 256, tau = 0.999)
    val p = out.queryExecution.explainString(FormattedMode)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
           s"non-broadcast join in semanticDedup plan:\n$p")
    assert(!p.contains("Window"), s"window in semanticDedup plan:\n$p")
    // exactly ONE join in the whole plan: members × broadcast reps —
    // the corpus is never joined with itself to re-attach vectors
    // (count tree lines only — FormattedMode repeats node names in
    // the details section)
    val joins = "BroadcastHashJoin Inner".r.findAllIn(p).length
    assert(joins == 1, s"expected exactly one broadcast join, got $joins:\n$p")
    val rows = out.select("vec_id").collect().map(_.getLong(0))
    assert(rows.length == rows.distinct.length, "one row per survivor")
    assert(rows.length <= n && rows.length >= 256,
           "every representative survives; drops only above the threshold")
  }

  test("bucketed tables: co-located join plans without a shuffle") {
    // DROP clears the (session-scoped) catalog entry but a previous
    // JVM's warehouse directory survives and blocks CTAS — remove both.
    for (t <- Seq("b_orders", "b_lineitem")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(loc)) {
        val s = java.nio.file.Files.walk(loc)
        try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(java.nio.file.Files.delete(_))
        finally s.close()
      }
    }
    val dir = "/root/testdata/sf0.001"
    graft.core.Tables.orders(spark, dir)
      .select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    graft.core.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")

    // at sf0.001 the planner prefers broadcasting the tiny side (also
    // correct); disable broadcast to surface the big-×-big regime this
    // layout exists for — both sides must then join WITHOUT a shuffle.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem").join(
        spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.explainString(FormattedMode)
      assert(!"Exchange \\(".r.findAllIn(plan).hasNext,
             s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed read not used:\n$plan")
      // and it is still correct
      assert(joined.count() ==
        graft.core.Tables.lineitem(spark, dir).join(
          graft.core.Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned landing: month-partitioned parquet prunes to one partition") {
    // SURVEY §4's 100 TB north star: land observations partitioned by
    // time (or grid cell) so per-point/per-period queries read only
    // their partition — shuffle-free, scan ∝ selectivity.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("month", date_format(col("ts"), "yyyy-MM"))
      .write.partitionBy("month").mode("overwrite").parquet(dir)

    val pruned = spark.read.parquet(dir).filter(col("month") === "2024-01")
    val plan = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters: [isnotnull(month"),
           s"no partition filter in:\n$plan")
    // the pruned scan must not enumerate other months' files
    val scanned = pruned.select(input_file_name()).distinct().collect()
      .map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("month=2024-01")))
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    // The runtime half of the skew story (Skew.saltedJoin is the
    // static half): with AQE on, a hot key's oversized shuffle
    // partition is split into multiple tasks at execution time —
    // assert the final adaptive plan actually marked the join skewed.
    import spark.implicits._
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 95% of the left side shares key 1
      val left = (1 to 60000)
        .map(i => (if (i % 20 != 0) 1L else (i % 997).toLong, s"payload_$i"))
        .toDF("k", "payload")
      val right = (0 to 996).map(k => (k.toLong, s"dim_$k")).toDF("k", "name")
      val joined = left.join(right, "k")
      // collect() drives THIS frame's QueryExecution, so its adaptive
      // plan finalizes (count() would plan a separate execution)
      assert(joined.collect().length > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
             s"AQE did not mark the skewed join:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("skew mitigation equivalence: AQE-split join and salted join agree with plain") {
    // The measurement behind BASELINE.md's "Skew mitigation, measured
    // (r5 verdict item 7)" (20M rows, 90% hot key): unmitigated 6.7s,
    // AQE-split 1.0s (wins when its thresholds engage), salted 2.2s
    // (wins over unmitigated; pays small-side replication vs AQE).
    // Timing is environment-bound, so what this spec pins is the
    // CORRECTNESS half: both mitigations return exactly the plain
    // join's rows on a skewed key, so choosing by environment is safe.
    import spark.implicits._
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = (1 to 60000)
        .map(i => (if (i % 20 != 0) 1L else (i % 997).toLong, i.toLong))
        .toDF("k", "row_id")
      val right = (0 to 996).map(k => (k.toLong, s"dim_$k")).toDF("k", "name")
      val aqe = left.join(right, "k").select("k", "row_id", "name")
      val aqeRows = aqe.collect().map(_.toSeq).toSet
      assert(aqe.queryExecution.executedPlan.toString.contains("skew=true"),
             "AQE did not mark the skewed join")
      val saltedRows = Skew.saltedJoin(left, right, "k", "row_id", saltBuckets = 8)
        .select("k", "row_id", "name").collect().map(_.toSeq).toSet
      assert(saltedRows == aqeRows,
             "salted join and AQE-split join disagree on a skewed key")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("banded LSH: bits bound per-bucket candidates; bands recover recall") {
    // The scale contract of the q36/q37/q47 ANN family: bucket count
    // is 2^bits per band, so within-bucket pair count — the actual
    // join work — is O(n²/2^bits) and the caller sizes `bits` to the
    // corpus. Verify on the real embeddings table that (a) raising
    // bits shrinks the largest bucket and the candidate set, and
    // (b) per-bucket occupancy at the sized bits stays near n/2^bits.
    import graft.ops.Similarity
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val n = emb.count() // 500

    def maxBucket(bits: Int): Long =
      Similarity.bandedBuckets(emb, bits = bits, bands = 2)
        .groupBy("band", "bucket").count()
        .agg(max("count")).head.getLong(0)
    def candidates(bits: Int): Long =
      Similarity.candidatePairs(emb, bits = bits, bands = 2).count()

    val (m6, m12) = (maxBucket(6), maxBucket(12))
    assert(m12 < m6, s"raising bits 6→12 did not shrink the max bucket ($m6 → $m12)")
    // near-orthogonal corpus ⇒ buckets ~ binomial(n, 2^-bits); allow
    // a generous tail above the n/2^bits mean but far below n.
    assert(m12 <= 16, s"max bucket at bits=12 is $m12 for n=$n — bucket space not scaling")

    val (c6, c12) = (candidates(6), candidates(12))
    assert(c12 < c6, s"raising bits did not cut candidate pairs ($c6 → $c12)")
    assert(c6 < n * (n - 1) / 2, "candidate set must stay below all-pairs")

    // OR-amplification: more bands can only add candidate pairs.
    val oneBand = Similarity.candidatePairs(emb, bits = 10, bands = 1).count()
    val twoBands = Similarity.candidatePairs(emb, bits = 10, bands = 2).count()
    assert(twoBands >= oneBand, s"bands=2 produced fewer candidates ($twoBands < $oneBand)")
  }

  test("mega-dup bucket: star-edge hub skew is absorbed by AQE partition splitting") {
    // q60's residual scale risk (VERDICT r8 item 1): bandedStarEdges
    // makes every bucket's min-id doc a hub, so ONE mega-dup bucket
    // (boilerplate duplicated millions of times at 100 TB) puts that
    // bucket's whole membership on a single join key — in the
    // hub-onto-members join-back AND in every CC propagation round's
    // `bidir JOIN labels ON b`. This pins the mitigation measured in
    // BASELINE.md's "q60 star-hub skew, measured (r9)" (4M-member
    // bucket: star edges 5.6→2.1 s, CC 8.1→3.1 s once AQE splits the
    // hot partition): with skew
    // thresholds scaled to the data, the propagation join is marked
    // skew=true, and the labeling stays CORRECT and converges in the
    // star's diameter (2 rounds + fixpoint confirm) — the mega bucket
    // adds no rounds, only width, which splitting absorbs.
    import org.apache.spark.sql.functions.{col, least, min}
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val members = 500000
      val base = members.toLong + 10L
      // docs 0..members-1 share one signature (one bucket per band,
      // hub = doc 0); beyond that, 2-doc buckets as background
      val mega = spark.range(0, members).select(
        col("id").as("doc_id"),
        org.apache.spark.sql.functions.lit(111L).as("mh1"),
        org.apache.spark.sql.functions.lit(222L).as("mh2"),
        org.apache.spark.sql.functions.lit(333L).as("mh3"),
        org.apache.spark.sql.functions.lit(444L).as("mh4"))
      val pairs = spark.range(0, 4000).select(
        (col("id") + base).as("doc_id"),
        (expr("id div 2") * 7 + 1000000L).as("mh1"),
        (expr("id div 2") * 13 + 2000000L).as("mh2"),
        (expr("id div 2") * 17 + 3000000L).as("mh3"),
        (expr("id div 2") * 19 + 4000000L).as("mh4"))
      val sigs = mega.union(pairs).localCheckpoint()

      val edges = graft.SparkEntry.bandedStarEdges(sigs).localCheckpoint()
      // star, not clique: edge count is linear in bucket size
      assert(edges.count() == (members - 1) + 2000,
        "star generator emitted a non-linear edge count")

      // one propagation round's exact join shape, driven through ITS
      // OWN QueryExecution so the adaptive plan finalizes
      val e = edges.select(col("doc1").cast("long").as("a"),
                           col("doc2").cast("long").as("b"))
      val bidir = e.union(e.select(col("b").as("a"), col("a").as("b")))
        .filter(col("a") =!= col("b")).distinct().localCheckpoint()
      val labels = bidir.groupBy("a").agg(min("b").as("nbrMin"))
        .select(col("a").as("id"), least(col("a"), col("nbrMin")).as("component"))
        .localCheckpoint()
      val roundJoin = bidir
        .join(labels.select(col("id").as("b"), col("component").as("bcomp")), "b")
        .groupBy("a").agg(min("bcomp").as("nbrMin"))
      roundJoin.queryExecution.toRdd.foreach(_ => ())
      val plan = roundJoin.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the hub's hot partition:\n${plan.take(2000)}")

      // and the full operator stays correct + shallow on this graph
      val nodes = sigs.select(col("doc_id"))
      val (out, rounds) = graft.ops.ConnectedComponents.minLabelWithRounds(
        nodes, "doc_id", edges, "doc1", "doc2")
      assert(out.filter(col("component") === 0L).count() == members.toLong,
        "mega-bucket members not all labeled with the hub component")
      assert(rounds <= 3, s"star graph took $rounds rounds — diameter regression")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("occupancyBits holds expected bucket occupancy flat as the corpus grows") {
    import graft.ops.Similarity
    // the pure rule: ceil(log2(n / target)), clamped — doubling the
    // corpus adds one bit, so n/2^bits (and with it the O(occ²)
    // per-bucket pair work) stays ~constant at ANY corpus size
    assert(Similarity.occupancyBits(0) == 4)           // floor clamp
    assert(Similarity.occupancyBits(1024, 8) == 7)     // 128 buckets
    assert(Similarity.occupancyBits(2048, 8) == 8)     // doubling n → +1 bit
    assert(Similarity.occupancyBits(1L << 40, 8) == 24) // ceiling clamp
    // empirically: size bits to the real table and the MEAN occupancy
    // of non-empty buckets lands near the target (generous band —
    // near-orthogonal vectors fill buckets ~binomially)
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val n = emb.count()
    val bits = Similarity.occupancyBits(n, targetOccupancy = 8)
    val occ = Similarity.bandedBuckets(emb, bits = bits, bands = 2)
      .groupBy("band", "bucket").count()
      .agg(avg("count")).head.getDouble(0)
    assert(occ >= 1.0 && occ <= 32.0,
      s"mean occupancy $occ at bits=$bits for n=$n is far off the target")
  }

  test("bounded_topk at k=500: buffers stay bounded, result matches the window") {
    import spark.implicits._
    // 200k rows, 4 groups, shuffled input across 16 partitions: the
    // partial phase must reduce each map task to ≤ k entries per
    // group (the whole point), and the merged result must equal the
    // naive window ranking exactly — at a k two orders of magnitude
    // above the carriers' k=3.
    val k = 500
    val df = (1 to 200000)
      .map(i => (s"g${i % 4}", i.toLong, ((i * 2654435761L) % 1000003L)))
      .toDF("g", "id", "score")
      .repartition(16)
    val got = graft.ops.TopK.perGroup(df, Seq("g"), "score", "id", k)
    assert(got.count() == 4L * k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(desc("score"), asc("id"))
    val want = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
    assert(got.select("g", "id", "score", "rk").except(
             want.select("g", "id", "score", "rk")).isEmpty,
           "bounded_topk disagrees with the window ranking at k=500")
  }

  test("sketch aggregates: HLL distinct within documented error of exact") {
    val dir = "/root/testdata/sf0.01"
    val orders = graft.core.Tables.orders(spark, dir)
    val exact = orders.agg(countDistinct(col("o_custkey"))).head.getLong(0)
    val approx = orders.agg(approx_count_distinct(col("o_custkey"), 0.02)).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
           s"HLL estimate $approx too far from exact $exact")
    val exactP50 = orders.select(expr("percentile(o_totalprice, 0.5D)")).head.getDouble(0)
    val approxP50 = orders.select(expr("percentile_approx(o_totalprice, 0.5D, 10000)")).head.getDouble(0)
    assert(math.abs(approxP50 - exactP50) / exactP50 < 0.01)
  }

  test("bloom_agg at 100k keys: blob stays bits/8, zero false negatives, sized FP rate") {
    import org.apache.spark.sql.functions._
    val n = 100000
    val bits = 1 << 21 // ~21 bits/key → k=3 theoretical FP ~0.1%
    val blob = spark.range(n)
      .select(concat(lit("corpus-"), col("id")).as("s"))
      .agg(call_function("bloom_agg", xxhash64(col("s")), lit(bits), lit(3)))
      .collect()(0).getAs[Array[Byte]](0)
    // the whole 100k-key corpus compressed to a fixed-size blob: the
    // broadcast cost is bits/8 + 16-byte header, independent of n
    assert(blob.length == bits / 8 + 16, s"blob ${blob.length} B")
    val fn = spark.range(n).select(concat(lit("corpus-"), col("id")).as("s"))
      .filter(!call_function("bloom_might_contain", lit(blob), xxhash64(col("s"))))
      .count()
    assert(fn == 0, "false negative at scale")
    val probes = 100000
    val fp = spark.range(probes).select(concat(lit("novel-"), col("id")).as("s"))
      .filter(call_function("bloom_might_contain", lit(blob), xxhash64(col("s"))))
      .count()
    assert(fp.toDouble / probes < 0.01, s"FP rate ${fp.toDouble / probes}")
  }
}
