package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Percentiles, PrefixSum, TopK}

/** Seeded randomized equivalence tests: each exact-selection operator
  * is checked against an independent DRIVER-SIDE oracle (plain Scala
  * over the collected input — no Spark operator on the oracle side)
  * across many generated datasets. Seeds are fixed so failures
  * reproduce exactly; shapes cover duplicates, negatives, nulls,
  * ties, singletons, and empty inputs that hand-written cases miss.
  */
class PropertySpec extends AnyFunSuite with SparkTestSession {

  /** quantile_cont on the driver: sort + linear interpolation —
    * the same formula both engines implement. */
  private def quantileCont(vs: Seq[Double], p: Double): Double = {
    val s = vs.sorted
    val r = p * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  test("exactBySort matches driver-side quantile_cont on random shapes") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5EED1L)
    val shapes = Seq(1, 2, 3, 7, 41, 200, 500)
    for (n <- shapes; round <- 0 until 2) {
      val vs: Seq[Double] = Seq.tabulate(n) { _ =>
        round match {
          case 0 => rnd.nextInt(9) - 4.0            // heavy duplicates, negatives
          case _ => (rnd.nextDouble() - 0.5) * 1e6  // ~all-distinct, wide spread
        }
      }
      val got = Percentiles.exactBySort(
        vs.toDF("v"), "v", Seq(0.25, 0.5, 0.75), prefix = "pp").head()
      Seq(0.25, 0.5, 0.75).zipWithIndex.foreach { case (p, i) =>
        val want = quantileCont(vs, p)
        assert(math.abs(got.getDouble(i) - want) <= 1e-9 * math.max(1.0, math.abs(want)),
               s"n=$n round=$round p=$p: got ${got.getDouble(i)}, want $want")
      }
    }
    // empty input → one all-null row (documented contract)
    val empty = Percentiles.exactBySort(
      Seq.empty[Double].toDF("v"), "v", Seq(0.5), prefix = "pp").head()
    assert(empty.isNullAt(0))
  }

  test("exactByBitsHistogram matches quantile_cont on random doubles") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5EEDBL)
    for (n <- Seq(1, 2, 17, 300); round <- 0 until 3) {
      val vs: Seq[Double] = Seq.tabulate(n) { _ =>
        round match {
          case 0 => rnd.nextInt(9) - 4.0                       // duplicates, negatives, zero
          case 1 => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(12) - 3) // wide exponent spread
          case _ => 1.0 + rnd.nextDouble() * 1e-4              // sub-binade cluster (few buckets)
        }
      }
      val got = Percentiles.exactByBitsHistogram(
        vs.toDF("v"), "v", Seq(0.25, 0.5, 0.75), prefix = "pp").head()
      Seq(0.25, 0.5, 0.75).zipWithIndex.foreach { case (p, i) =>
        val want = quantileCont(vs, p)
        assert(math.abs(got.getDouble(i) - want) <= 1e-9 * math.max(1.0, math.abs(want)),
               s"n=$n round=$round p=$p: got ${got.getDouble(i)}, want $want")
      }
    }
  }

  test("exactByCentsHistogram matches quantile_cont on random 2-decimal data") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5EED2L)
    for (n <- Seq(1, 5, 100, 400); round <- 0 until 2) {
      val cents: Seq[Long] = Seq.tabulate(n) { _ =>
        round match {
          case 0 => rnd.nextInt(2000) - 1000L  // dense small domain incl. negatives
          case _ => rnd.nextInt(10000000).toLong // price-like spread, many buckets
        }
      }
      val vs = cents.map(_ / 100.0)
      val got = Percentiles.exactByCentsHistogram(
        vs.toDF("v"), "v", Seq(0.25, 0.5, 0.75), prefix = "pp").head()
      Seq(0.25, 0.5, 0.75).zipWithIndex.foreach { case (p, i) =>
        val want = quantileCont(vs, p)
        assert(math.abs(got.getDouble(i) - want) <= 1e-9 * math.max(1.0, math.abs(want)),
               s"n=$n round=$round p=$p: got ${got.getDouble(i)}, want $want")
      }
    }
  }

  test("exactAuto picks each regime by data shape and stays exact on all three") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5EEDAL)
    // (name, data, cutoffs tuned so each case exercises one branch)
    val cases: Seq[(String, Seq[Double], Long, Long)] = Seq(
      // ≤cutoff distinct → value-map branch
      ("value-map", Seq.tabulate(300)(_ => rnd.nextInt(9) - 4.0), 10000L, 64L),
      // all-distinct with wide exponent spread → bits-histogram branch
      ("bits", Seq.tabulate(300)(_ =>
        (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(12) - 3)), 16L, 8L),
      // all-distinct crammed sub-binade (few buckets) → sort fallback
      ("sort", Seq.tabulate(300)(_ => 1.0 + rnd.nextDouble() * 1e-6), 16L, 64L))
    for ((name, vs, cutoff, minB) <- cases) {
      assert(Percentiles.profileRegime(vs.toDF("v"), "v", cutoff, minB) == name,
             s"profile chose the wrong regime for the $name-shaped data")
      val got = Percentiles.exactAuto(
        vs.toDF("v"), "v", Seq(0.25, 0.5, 0.75), prefix = "pp",
        distinctCutoff = cutoff, minBuckets = minB).head()
      Seq(0.25, 0.5, 0.75).zipWithIndex.foreach { case (p, i) =>
        val want = quantileCont(vs, p)
        assert(math.abs(got.getDouble(i) - want) <= 1e-9 * math.max(1.0, math.abs(want)),
               s"branch=$name p=$p: got ${got.getDouble(i)}, want $want")
      }
    }
  }

  test("TopK.perGroup matches a driver-side ranking with null-last semantics") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5EED3L)
    for (trial <- 0 until 6) {
      val k = 1 + rnd.nextInt(4)
      val n = 5 + rnd.nextInt(60)
      // fractional scores pin the typed (non-truncating) ordering;
      // unique ties except for occasional nulls
      val rows: Seq[(String, Option[Double], Option[String], Long)] =
        Seq.tabulate(n) { i =>
          val g = s"g${rnd.nextInt(3)}"
          val score = if (rnd.nextDouble() < 0.15) None
                      else Some(rnd.nextInt(5) + rnd.nextInt(4) * 0.25)
          val tie = if (rnd.nextDouble() < 0.1) None else Some(f"t$i%03d")
          (g, score, tie, i.toLong)
        }
      val df = rows.toDF("g", "score", "tie", "id")
      val got = TopK.perGroup(df, Seq("g"), "score", "tie", k)
        .select("g", "rk", "score", "tie").collect()
        .map(r => (r.getString(0), r.getInt(1),
                   if (r.isNullAt(2)) None else Some(r.getDouble(2)),
                   Option(r.getString(3)))).toSet
      // oracle: sort desc by score (None last), then asc by tie (None
      // last); ambiguity-free because exact (score, tie) duplicates
      // within a group are not generated (ties are unique or null and
      // null ties only collide on a shared score with prob ~0 here)
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.sortBy { case (_, score, tie, _) =>
          (score.map(-_).getOrElse(Double.MaxValue),
           tie.getOrElse("\uffff\uffff"))
        }.take(k).zipWithIndex.map { case ((_, score, tie, _), i) =>
          (g, i + 1, score, tie)
        }
      }.toSet
      assert(got == want, s"trial=$trial k=$k:\n got=$got\nwant=$want")
    }
  }

  test("PrefixSum.runningTotal matches a driver-side cumulative sum") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5EED4L)
    for (trial <- 0 until 4) {
      val n = 1 + rnd.nextInt(300)
      val keys = rnd.shuffle((1L to n.toLong).toList)
      val rows = keys.map(kk => (kk, rnd.nextInt(1000).toLong))
      val got = PrefixSum.runningTotal(rows.toDF("k", "x"), "k", "x", "cum")
        .select("k", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var acc = 0L
      rows.sortBy(_._1).foreach { case (kk, x) =>
        acc += x
        assert(got(kk) == acc, s"trial=$trial key=$kk: got ${got(kk)}, want $acc")
      }
    }
  }

  test("vec_decimal_sum is bit-identical to the dimension-exploded decimal sum") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val rnd = new scala.util.Random(0x5EEDDL)
    val dim = 7
    val rows = Seq.tabulate(200)(i =>
      (s"g${i % 5}", Seq.fill(dim)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7) - 3))))
    val df = rows.toDF("g", "v")
    val vec = df.groupBy("g")
      .agg(call_function("vec_decimal_sum", col("v")).as("sums"))
      .select(col("g"), posexplode(col("sums")))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDecimal(2)).toMap
    val exploded = df.select(col("g"), posexplode(col("v")))
      .groupBy("g", "pos").agg(sum(col("col").cast(DecimalType(38, 30))).as("sd"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDecimal(2)).toMap
    assert(vec.keySet == exploded.keySet)
    vec.foreach { case (k, d) =>
      assert(d.compareTo(exploded(k)) == 0, s"$k: vec=$d exploded=${exploded(k)}")
    }
  }

  test("interleave_bits matches a driver-side bit loop on random indices") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5EEDCL)
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (90L, 60L), ((1L << 32) - 1, (1L << 32) - 1)) ++
      Seq.fill(40)((rnd.nextLong(1L << 32), rnd.nextLong(1L << 32)))
    val got = pairs.toDF("x", "y")
      .select(call_function("interleave_bits", col("x"), col("y")))
      .collect().map(_.getLong(0))
    pairs.zip(got).foreach { case ((x, y), z) =>
      val want = (0 until 32).map(b =>
        (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))).reduce(_ | _)
      assert(z == want, s"x=$x y=$y: got $z, want $want")
    }
  }

  test("word_marker_counts matches a driver-side regex tokenizer on random text") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5EED5L)
    val markers = Seq("the", "data", "q7")
    val vocab = Seq("the", "thee", "other", "data", "dat", "q7", "q77", "x", "Y9", "DATA", "The")
    val seps = Seq(" ", ", ", "--", "\t", "!", ".")
    val texts = Seq.tabulate(40) { _ =>
      Seq.fill(rnd.nextInt(30))(
        vocab(rnd.nextInt(vocab.length)) + seps(rnd.nextInt(seps.length))).mkString
    }
    val got = texts.toDF("text").select(
      call_function("word_marker_counts", col("text"),
        array(markers.map(lit): _*)).as("c")).collect().map(_.getSeq[Long](0))
    texts.zip(got).foreach { case (t, cs) =>
      val toks = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val want = markers.map(m => toks.count(_ == m).toLong)
      assert(cs == want, s"text='$t': got $cs, want $want")
    }
  }

  test("ConnectedComponents.minLabel matches driver-side union-find on random graphs") {
    import spark.implicits._
    import graft.ops.ConnectedComponents
    val rnd = new scala.util.Random(0x5EED8L)
    for (trial <- 0 until 3) {
      val nNodes = 20 + rnd.nextInt(60)
      val nEdges = rnd.nextInt(nNodes) // sparse → many components, some chains
      val nodes = (0L until nNodes.toLong).toDF("id")
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter(e => e._1 != e._2)
      val got = ConnectedComponents.minLabel(
        nodes, "id", edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // oracle: plain union-find with min-id representative
      val parent = Array.tabulate(nNodes)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until nNodes).foreach { v =>
        assert(got(v.toLong) == find(v).toLong,
               s"trial=$trial node=$v: got ${got(v.toLong)}, want ${find(v)}")
      }
    }
  }

  test("pqEncode matches a driver-side per-subspace argmax on random vectors") {
    import spark.implicits._
    import graft.ops.Similarity
    val rnd = new scala.util.Random(0x5EED9L)
    val (n, dim, m, ksub) = (60, 8, 2, 4)
    val data = Seq.tabulate(n)(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextInt(9) - 4.0))) // small ints → exact dots, real ties
    val got = Similarity.pqEncode(data.toDF("vec_id", "embedding"), m, ksub)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (0 until m).map(j => (r.getAs[Int](s"code_$j"), r.getAs[Double](s"dot_$j")))).toMap
    val sub = dim / m
    val cb = data.take(ksub).map(_._2)
    data.foreach { case (id, v) =>
      (0 until m).foreach { j =>
        val slice = v.slice(j * sub, (j + 1) * sub)
        val dots = cb.map(c => slice.zip(c.slice(j * sub, (j + 1) * sub)).map(p => p._1 * p._2).sum)
        val best = dots.zipWithIndex.maxBy { case (d, i) => (d, -i) } // ties → lowest id
        assert(got(id)(j) == ((best._2, best._1)),
               s"id=$id j=$j: got ${got(id)(j)}, want $best")
      }
    }
  }

  test("ChunkDedup matches a driver-side first-occurrence reference on random docs") {
    import spark.implicits._
    import graft.ops.ChunkDedup
    val rnd = new scala.util.Random(0x5EEDCL)
    val vocab = Seq("a", "b", "c") // tiny vocab → real chunk collisions
    for (w <- Seq(2, 3)) {
      val docs = Seq.tabulate(40)(i =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
      val got = ChunkDedup.dedup(docs.toDF("doc_id", "text"), "text", "doc_id", w)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      val seen = scala.collection.mutable.Set.empty[String]
      docs.foreach { case (id, text) =>
        val chunks = text.split(" ", -1).grouped(w).map(_.mkString(" ")).toSeq
        val kept = chunks.filter(c => seen.add(c))
        assert(got(id) == ((chunks.size.toLong, kept.size.toLong, kept.mkString(" "))),
               s"w=$w id=$id text='$text': got ${got(id)}")
      }
    }
  }

  test("ivfPqTopK matches a driver-side ADC search on random vectors") {
    import spark.implicits._
    import graft.ops.Similarity
    val rnd = new scala.util.Random(0x5EEDBL)
    val (n, dim, m, ksub, coarseK, nprobe, k) = (120, 8, 2, 6, 6, 3, 15)
    val data = Seq.tabulate(n)(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextInt(9) - 4.0))) // small ints → exact dots, real ties
    val probeId = 77L
    val got = Similarity.ivfPqTopK(data.toDF("vec_id", "embedding"),
        probeId, coarseK, m, ksub, nprobe, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // driver-side mirror of the full semantics
    val sub = dim / m
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map(p => p._1 * p._2).sum
    val byId = data.toMap
    val coarse = data.take(coarseK)
    val cb = data.take(ksub).map(_._2)
    val probe = byId(probeId)
    val probeCentroids = coarse
      .map { case (cid, cv) => (cid, dot(probe, cv)) }
      .sortBy { case (cid, d) => (-d, cid) }.take(nprobe).map(_._1).toSet
    val want = data.filter(_._1 != probeId).flatMap { case (id, v) =>
      val centroid = coarse.map { case (cid, cv) => (cid, dot(v, cv)) }
        .maxBy { case (cid, d) => (d, -cid) }._1
      if (!probeCentroids(centroid)) None
      else {
        val adc = (0 until m).map { j =>
          val slice = v.slice(j * sub, (j + 1) * sub)
          val codes = cb.map(c => dot(slice, c.slice(j * sub, (j + 1) * sub)))
          val code = codes.zipWithIndex.maxBy { case (d, i) => (d, -i) }._2
          dot(probe.slice(j * sub, (j + 1) * sub),
              cb(code).slice(j * sub, (j + 1) * sub))
        }.sum
        Some((id, centroid, adc))
      }
    }.sortBy { case (id, _, adc) => (-adc, id) }.take(k)
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("ivfPqSearch batch agrees with per-probe ivfPqTopK on random vectors") {
    import spark.implicits._
    import graft.ops.Similarity
    val rnd = new scala.util.Random(0x5EEDEL)
    val (n, dim, m, ksub, coarseK, nprobe, k) = (120, 8, 2, 6, 6, 3, 12)
    val data = Seq.tabulate(n)(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextInt(9) - 4.0))) // small ints → exact dots, real ties
    val df = data.toDF("vec_id", "embedding")
    val probeIds = Seq(77L, 12L, 103L)
    val batch = Similarity.ivfPqSearch(df, probeIds, coarseK, m, ksub, nprobe, k)
      .collect()
      .map(r => (r.getLong(0), r.getInt(4)) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    for (pid <- probeIds) {
      val single = Similarity.ivfPqTopK(df, pid, coarseK, m, ksub, nprobe, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      single.zipWithIndex.foreach { case (row, i) =>
        assert(batch((pid, i + 1)) == row,
               s"probe $pid rk ${i + 1}: batch=${batch.get((pid, i + 1))}, single=$row")
      }
      assert(batch.keys.count(_._1 == pid) == single.size,
             s"probe $pid: batch returned ${batch.keys.count(_._1 == pid)} rows, single ${single.size}")
    }
  }

  test("semanticDedup matches a driver-side rep-anchored filter on random vectors") {
    import spark.implicits._
    import graft.ops.Similarity
    val rnd = new scala.util.Random(0x5EEDAL)
    val (n, dim, k, tau) = (80, 6, 5, 0.9)
    val data = Seq.tabulate(n)(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextInt(7) - 3.0)))
    val got = Similarity.semanticDedup(data.toDF("vec_id", "embedding"), k, tau)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("rep_id")).toMap
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map(p => p._1 * p._2).sum
    val cents = data.take(k)
    val asg = data.map { case (id, v) =>
      val best = cents.map(c => dot(v, c._2)).zipWithIndex.maxBy { case (d, i) => (d, -i) }
      (id, v, best._2.toLong, best._1)
    }
    val reps = asg.groupBy(_._3).map { case (c, members) =>
      c -> members.maxBy(mm => (mm._4, -mm._1))
    }
    val want = asg.flatMap { case (id, v, c, _) =>
      val rep = reps(c)
      val cos = dot(v, rep._2) / (math.sqrt(dot(v, v)) * math.sqrt(dot(rep._2, rep._2)))
      if (id == rep._1 || cos < tau) Some(id -> rep._1) else None
    }.toMap
    assert(got == want,
      s"mismatch: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
  }

  test("json_field matches get_json_object on random flat and nested objects") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5EED7L)
    def value(): String = rnd.nextInt(6) match {
      case 0 => rnd.nextInt(1000).toString
      case 1 => (-rnd.nextInt(1000)).toString
      case 2 => "\"s" + rnd.nextInt(100) + "\""
      case 3 => if (rnd.nextBoolean()) "true" else "false"
      case 4 => "null"
      // minified: get_json_object RE-SERIALIZES container values while
      // json_field returns the raw text (documented divergence), so
      // the two agree only when the raw form is already minified
      case _ => s"""{"in":${rnd.nextInt(50)},"arr":[1,"two",{"d":3}]}"""
    }
    val docs = Seq.tabulate(60) { _ =>
      val keys = rnd.shuffle(List("k", "a", "bb", "k2")).take(1 + rnd.nextInt(4))
      keys.map(kk => s""""$kk": ${value()}""").mkString("{", ", ", "}")
    } ++ Seq("{}", """{"other": 1}""", "", "not json", """{"k": {"k":9}}""")
    val got = docs.toDF("doc").select(
      call_function("json_field", col("doc"), lit("k")).as("a"),
      get_json_object(col("doc"), "$.k").as("b")).collect()
    docs.zip(got).foreach { case (d, r) =>
      assert(r.get(0) == r.get(1), s"doc=$d: json_field=${r.get(0)}, get_json_object=${r.get(1)}")
    }
  }

  test("array_jaccard matches driver-side set arithmetic on random arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5EED6L)
    val pool = ('a' to 'j').map(_.toString)
    val pairs = Seq.tabulate(40) { _ =>
      def arr() = Seq.fill(rnd.nextInt(8))(pool(rnd.nextInt(pool.length)))
      (arr(), arr())
    }
    val got = pairs.toDF("x", "y")
      .select(call_function("array_jaccard", col("x"), col("y")))
      .collect().map(_.getDouble(0))
    pairs.zip(got).foreach { case ((x, y), j) =>
      val (sx, sy) = (x.toSet, y.toSet)
      val u = (sx union sy).size
      val want = if (u == 0) 0.0 else (sx intersect sy).size.toDouble / u
      assert(j == want, s"x=$x y=$y: got $j, want $want")
    }
  }

  /** Driver-side greedy tokenizer — independent of the expression's
    * byte scan (String ops, per-word, via BpeVocab's own matcher). */
  private def bpeCountRef(s: String): Long =
    s.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)
      .map(w => graft.functions.BpeVocab.tokenizeWord(w).size.toLong).sum

  private def bpeChunksRef(s: String, budget: Int): Seq[(String, Long)] = {
    val words = s.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var cur = Vector.empty[String]
    var curT = 0L
    words.foreach { w =>
      val t = graft.functions.BpeVocab.tokenizeWord(w).size.toLong
      if (cur.nonEmpty && curT + t > budget) {
        out += ((cur.mkString(" "), curT)); cur = Vector.empty; curT = 0L
      }
      cur :+= w; curT += t
    }
    if (cur.nonEmpty) out += ((cur.mkString(" "), curT))
    out.toSeq
  }

  test("bpe_token_count / bpe_chunks match the driver-side greedy reference on random text") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xB9E5EEDL)
    val alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,;-_!?\t\n"
    val texts = Seq.tabulate(300) { i =>
      val n = rnd.nextInt(80)
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    } ++ Seq("", " ", "the", "customer", "a" * 200)
    val budget = 7
    val rows = texts.toDF("text").select(
      col("text"),
      call_function("bpe_token_count", col("text")).as("n"),
      call_function("bpe_chunks", col("text"), lit(budget)).as("cs"))
      .collect()
    rows.foreach { r =>
      val text = r.getString(0)
      assert(r.getLong(1) == bpeCountRef(text), s"count mismatch on '$text'")
      val got = r.getSeq[String](2).toSeq
      val want = bpeChunksRef(text, budget)
      assert(got == want.map(_._1), s"chunks mismatch on '$text': $got vs $want")
      // counts additive: chunk counts sum to the text's count, and
      // each chunk is within budget unless it is a lone long word
      want.foreach { case (c, t) =>
        assert(t <= budget || !c.contains(' '), s"multi-word chunk over budget: '$c'")
      }
      assert(want.map(_._2).sum == r.getLong(1), s"additivity broke on '$text'")
    }
  }

  test("operator code reads no environment variables") {
    // An env switch in operator code makes a result depend on who
    // launched the JVM; A/B arms belong in tools/, tunables in conf.
    // core/ may read only the deployment's core count.
    import java.io.File
    import scala.jdk.CollectionConverters._
    val root = new File("src/main/scala/graft")
    val dirs = Seq("ops", "functions", "streaming", "pipeline", "sources", "cache", "core", "queries")
      .map(new File(root, _))
    assert(dirs.forall(_.isDirectory), s"source dirs missing under ${root.getAbsolutePath}")
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val envRead = """sys\.env|System\.getenv""".r
    val hits = for {
      f <- dirs.flatMap(scalaFiles)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined &&
        !line.contains("sys.env.getOrElse(\"SPARK_GRAFT_CPUS\"")
    } yield s"${f.getPath}:${i + 1}"
    assert(hits.isEmpty, s"environment reads in operator code: ${hits.mkString(", ")}")
  }

  /** Every `.scala` file under `src/main`, with its lines. */
  private def mainSources: Seq[(java.io.File, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"main sources missing under ${root.getAbsolutePath}")
    scalaFiles(root).map(f => f -> java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq)
  }

  test("main keeps one bloom build site and one bloom probe site") {
    // Batch dedup, every ingest dedup stage's carry and the
    // decontamination artifact build and probe through graft.ops.DedupStage;
    // a second `bloom_agg` or `bloom_might_contain` site anywhere in
    // main would be a twin of the bloom contract (probe-hash count,
    // sizing, NULL-gated probe) that can drift from it. The functions'
    // own definition file names them to register them, not to call them.
    val src = mainSources.filterNot(_._1.getName == "BloomFilter.scala")
      .flatMap(_._2).mkString("\n")
    def sites(fn: String): Int = s"\"$fn\"".r.findAllIn(src).size
    assert(sites("bloom_agg") == 1, s"bloom_agg call sites: ${sites("bloom_agg")}")
    assert(sites("bloom_might_contain") == 1,
      s"bloom_might_contain call sites: ${sites("bloom_might_contain")}")
  }

  test("main names no absolute path into a checkout of this project") {
    // A literal absolute path into one checkout (its fixtures, its
    // committed records) makes a query, a default output or a tool read
    // another tree's files, or fail, from any other checkout; repo files
    // resolve against the working directory, the project root. Flagged:
    // an absolute path with a segment after its first that names a
    // top-level entry of the project (`data`, `plans`, `BENCH_FULL.json`).
    val topLevel = new java.io.File(".").list().toSet
    val absPath = """(?<![\w.])(/[\w.-]+(?:/[\w.-]+)+)""".r
    val hits = for {
      (f, lines) <- mainSources
      (line, i) <- lines.zipWithIndex
      m <- absPath.findAllMatchIn(line)
      if m.group(1).split('/').drop(2).exists(topLevel.contains)
    } yield s"${f.getPath}:${i + 1}: ${m.group(1)}"
    assert(hits.isEmpty, s"absolute checkout paths in main: ${hits.mkString(", ")}")
  }
}
