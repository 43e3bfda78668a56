package graft

import org.apache.spark.sql.functions._

/** Accuracy bounds for the approx operators that (by design) have no SQL
  * oracle — SURVEY §2.4 A3/A7b, §5.3.
  */
class ApproxSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("approx_count_distinct within rsd of exact (A3)") {
    val e = Tables.events(spark, sf)
    val exact = e.select(countDistinct($"user_id")).as[Long].head().toDouble
    val approx = e.select(approx_count_distinct($"user_id", 0.02)).as[Long].head().toDouble
    assert(math.abs(approx - exact) / exact <= 0.06,
      s"approx=$approx exact=$exact")
  }

  test("approx_percentile close to exact percentile (A7b)") {
    val o = Tables.orders(spark, sf)
    val exact = o.selectExpr("percentile(o_totalprice, 0.5)").as[Double].head()
    val approx = o.selectExpr("approx_percentile(o_totalprice, 0.5, 1000)").as[Double].head()
    assert(math.abs(approx - exact) / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }

  test("sample returns roughly the requested fraction (O9)") {
    val n = Tables.lineitem(spark, sf).count().toDouble
    val s10 = Tables.lineitem(spark, sf).sample(withReplacement = false, 0.1, 42).count().toDouble
    assert(s10 / n > 0.05 && s10 / n < 0.15, s"fraction=${s10 / n}")
  }

  test("merged HLL sketches estimate within tolerance of exact (A21)") {
    // sketch per (lang, source), union to per-lang — the rollup must agree
    // with a direct exact distinct count within HLL tolerance
    val d = Tables.documents(spark, sf)
    val merged = d.groupBy($"lang", $"source")
      .agg(expr("hll_sketch_agg(doc_id)").as("sk"))
      .groupBy($"lang")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .orderBy($"lang").as[(String, Long)].collect().toMap
    val exact = d.groupBy($"lang").agg(countDistinct($"doc_id").as("n"))
      .orderBy($"lang").as[(String, Long)].collect().toMap
    exact.foreach { case (lang, n) =>
      val est = merged(lang).toDouble
      assert(math.abs(est - n) / n <= 0.1, s"$lang est=$est exact=$n")
    }
  }

  test("Misra–Gries guarantee: keys above n/(capacity+1) always surface (A18)") {
    // skewed synthetic stream: key "hot" = 40% of 5000 rows, "warm" = 20%,
    // the rest spread over 500 rare keys; capacity 8 → threshold n/9 ≈ 11%
    val rnd = new scala.util.Random(11)
    val rows = (0 until 5000).map { i =>
      val r = rnd.nextDouble()
      if (r < 0.4) "hot" else if (r < 0.6) "warm" else s"rare${rnd.nextInt(500)}"
    }
    val df = rows.toDF("k").repartition(8) // force multi-partition merges
    val hh = df.agg(graft.functions.HeavyHittersAggregator
        .heavyHitters($"k", 8).as("hh"))
      .selectExpr("transform(hh, e -> split_part(e, ':', 1)) AS ks")
      .as[Seq[String]].head()
    assert(hh.contains("hot") && hh.contains("warm"), s"sketch=$hh")
    assert(hh.size <= 8)
    // sketch top-1 agrees with the exact top-1 under this much skew
    assert(hh.head == "hot")
  }

  test("IVF ANN recall vs brute force on clustered data (L3b)") {
    // The driver embeddings are RANDOM unit vectors (labels carry no
    // geometry — verified), where coarse quantization cannot work by
    // construction. Build genuinely clustered data with the same schema
    // and point the same query functions at it.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(5)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = (0 until 200).map { i =>
      val label = i % 5
      val v = centers(label).map(c => c + 0.05f * rnd.nextGaussian().toFloat)
      (i.toLong, v.toSeq, label)
    }
    val dir = ops.Sources.scratch("graft_ivf")
    rows.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val exact = ops.LlmOps.knn(spark, dir, 5)
      .select($"qid", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = ops.LlmOps.queries("l3b_knn_ivf")(spark, dir)
      .select($"qid", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.95, s"IVF recall $recall on clustered data")
  }

  test("t-digest quantiles close to exact, on raw data and kernel-level (A22)") {
    import graft.functions.QuantileSketchAggregator._
    // kernel-level: lognormal sample, compare sketch quantiles to exact
    val rnd = new scala.util.Random(23)
    val xs = Array.fill(20000)(math.exp(rnd.nextGaussian()))
    val (m, w) = compress(xs, Array.fill(xs.length)(1.0))
    assert(m.length <= 2.5 * Delta, s"centroid count ${m.length} should be O(delta)")
    val sorted = xs.sorted
    for (q <- Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val exact = sorted(math.min(xs.length - 1, (q * xs.length).toInt))
      val est = quantile(m, w, q)
      assert(math.abs(est - exact) / exact <= 0.05, s"q=$q est=$est exact=$exact")
    }
  }

  test("t-digest rollup of partial sketches matches whole-data sketch tolerance (A22)") {
    import graft.functions.QuantileSketchAggregator._
    // the mergeability contract: sketch-per-source merged == direct
    // quantile within tolerance (what pre-aggregated percentile cubes need)
    val d = Tables.documents(spark, sf)
    val rolled = d.groupBy($"lang", $"source")
      .agg(tdigestAgg($"n_chars".cast("double")).as("sk"))
      .groupBy($"lang")
      .agg(tdigestMergeAgg($"sk").as("merged"))
      .select($"lang", tdigestQuantile($"merged", 0.5).as("p50"))
      .as[(String, Double)].collect().toMap
    val exact = d.groupBy($"lang")
      .agg(expr("percentile(n_chars, 0.5)").as("p50"))
      .as[(String, Double)].collect().toMap
    exact.foreach { case (lang, ex) =>
      val est = rolled(lang)
      assert(math.abs(est - ex) / ex <= 0.08, s"$lang est=$est exact=$ex")
    }
  }

  test("random-hyperplane LSH recovers planted near-duplicates (L2e)") {
    val found = SparkEntry.queries("l2e_embedding_rhp_lsh")(spark, sf)
      .as[(Long, Long, Long)].collect()
    // every surviving pair must actually be ≥ 0.9 (the verification
    // filter guarantees precision)…
    assert(found.forall(_._3 >= 900000L))
    // …and since the un-planted corpus maxes out at cos 0.51, every found
    // pair must be a planted (orig, orig+10000) pair — and banding recall
    // (1 − (1 − p^8)^8 ≈ 0.9998 at cos 0.987) should recover nearly all 100
    val planted = found.filter { case (a, b, _) => b == a + 10000L }
    assert(planted.length == found.length, "false positive above cos 0.9")
    assert(planted.length >= 95, s"recall too low: ${planted.length}/100")
  }

  test("rhp signature bit-agreement tracks 1 − θ/π (L2e kernel)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.SketchKernels
    // identical vectors → identical signature; orthogonal-ish random
    // unit vectors → ~half the bits agree (loose 3σ bound: 64·0.5 ± 12)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(64)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val a = vec(1)
    assert(SketchKernels.rhpSig64(new GenericArrayData(a)) ==
      SketchKernels.rhpSig64(new GenericArrayData(a.clone())))
    val agreements = (2 to 21).map { s =>
      val x = SketchKernels.rhpSig64(new GenericArrayData(vec(s)))
      val y = SketchKernels.rhpSig64(new GenericArrayData(vec(s + 100)))
      64 - java.lang.Long.bitCount(x ^ y)
    }
    val mean = agreements.sum.toDouble / agreements.size
    assert(mean > 20 && mean < 44, s"mean bit agreement $mean not ~32")
  }

  test("set digest merge is EXACT: digest(A ∪ B) == merge(digest(A), digest(B)) (L16)") {
    val SD = graft.functions.SetDigestAggregator
    // deterministic pseudo-random element sets with partial overlap
    def set(seed: Long, n: Int): Seq[Long] =
      (0 until n).map(i => (seed * 2654435761L + i * 40503L) % 10000)
    val a = set(1, 300); val b = set(7, 250)
    val dfA = Seq(a).toDF("hs"); val dfB = Seq(b).toDF("hs")
    val dfU = Seq(a ++ b).toDF("hs")
    def digestOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(SD.setDigestAgg($"hs").as("d")).as[Seq[Long]].head()
    val merged = Seq((digestOf(dfA), 1), (digestOf(dfB), 2)).toDF("d", "i")
      .agg(SD.setDigestMergeAgg($"d").as("m")).as[Seq[Long]].head()
    assert(merged == digestOf(dfU))
  }

  test("set digest jaccard estimate tracks exact Jaccard (L16)") {
    val SD = graft.functions.SetDigestAggregator
    // three overlap levels; stderr ≈ √(J(1−J)/128) ≈ 0.044 → assert 3σ
    for ((shared, only) <- Seq((400, 100), (250, 250), (50, 450))) {
      val common = (0 until shared).map(i => 1000000L + i * 7919L)
      val sa = common ++ (0 until only).map(i => 2000000L + i * 104729L)
      val sb = common ++ (0 until only).map(i => 3000000L + i * 15485863L)
      val exact = shared.toDouble / (shared + 2 * only)
      val da = Seq(sa).toDF("hs").agg(SD.setDigestAgg($"hs")).as[Seq[Long]].head()
      val db = Seq(sb).toDF("hs").agg(SD.setDigestAgg($"hs")).as[Seq[Long]].head()
      val est = SD.jaccard(da, db)
      assert(math.abs(est - exact) <= 0.14, s"exact=$exact est=$est")
    }
  }

  test("set digest rollup on documents: fine→merged equals direct digest (L16)") {
    import graft.functions.{GraftFunctions => GF, TextFunctions => TF}
    val SD = graft.functions.SetDigestAggregator
    val hs = Tables.documents(spark, sf)
      .select($"source", $"lang",
        TF.shingleHashes(GF.charShingles($"text", 5)).as("hs"))
    val direct = hs.groupBy($"source")
      .agg(SD.setDigestAgg($"hs").as("d"))
      .as[(String, Seq[Long])].collect().toMap
    val rolled = hs.groupBy($"source", $"lang")
      .agg(SD.setDigestAgg($"hs").as("d"))
      .groupBy($"source")
      .agg(SD.setDigestMergeAgg($"d").as("d"))
      .as[(String, Seq[Long])].collect().toMap
    assert(direct.keySet == rolled.keySet)
    direct.foreach { case (src, d) =>
      assert(rolled(src) == d, s"rollup digest diverged for $src")
    }
  }
}
