package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic laws over ScalaCheck-generated inputs (SURVEY §5.3).
  * Raw Gen + fixed seeds (the scalatest-plus bridge artifact isn't in the
  * offline cache); generators stay tiny so each iteration is one fast job.
  */
class PropertySpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def forAllN[A](gen: Gen[A], n: Int = 5)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private val rows = Gen.listOfN(25, Gen.zip(Gen.chooseNum(0L, 8L), Gen.chooseNum(-50, 50)))

  test("unionAll count law: |A union-all B| = |A| + |B|") {
    forAllN(Gen.zip(rows, rows)) { case (a, b) =>
      val da = a.toDF("k", "v"); val db = b.toDF("k", "v")
      assert(da.unionAll(db).count() == da.count() + db.count())
    }
  }

  test("semi + anti partition law: semi(A,B) + anti(A,B) = A") {
    forAllN(Gen.zip(rows, rows)) { case (a, b) =>
      val da = a.toDF("k", "v"); val db = b.toDF("k", "v")
      val semi = da.join(db.select("k").distinct(), Seq("k"), "left_semi").count()
      val anti = da.join(db.select("k").distinct(), Seq("k"), "left_anti").count()
      assert(semi + anti == da.count())
    }
  }

  test("exact decimal sum law: Det.dsum equals BigDecimal ground truth") {
    val cents = Gen.listOfN(30, Gen.chooseNum(-100000L, 100000L))
    forAllN(cents) { cs =>
      val doubles = cs.map(_ / 100.0)
      val expected = cs.map(BigDecimal(_)).sum / 100
      val got = doubles.toDF("v").agg(Det.dsum($"v")).as[Double].head()
      assert(got == expected.toDouble)
    }
  }

  test("dsum micros representation ≡ the decimal(30,6) form on corpus money columns") {
    // the r9 BIGINT-micros rewrite claims bit-identical outputs on
    // contract-conforming data (≤ 6 carried decimal digits) — pin it
    // against the old representation on the real corpus, including the
    // derived products Q1 sums
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val sfd = "/root/testdata/sf0.01"
    def both(df: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.Column, tag: String): Unit = {
      val r = df.agg(Det.dsum(c).as("a"),
        sum(c.cast(DecimalType(30, 6))).cast(DoubleType).as("b"))
        .collect().head
      assert(r.getDouble(0) == r.getDouble(1), tag)
    }
    val l = Tables.lineitem(spark, sfd)
    both(l, col("l_extendedprice"), "extendedprice")
    both(l, col("l_quantity"), "quantity")
    both(l, col("l_extendedprice") * (lit(1) - col("l_discount")),
      "disc_price")
    both(l, col("l_extendedprice") * (lit(1) - col("l_discount"))
      * (lit(1) + col("l_tax")), "charge")
    both(Tables.orders(spark, sfd), col("o_totalprice"), "totalprice")
  }

  test("minhash agreement is symmetric; identical inputs agree fully") {
    import graft.functions.{TextFunctions => TF}
    val word = Gen.listOfN(12, Gen.oneOf("spark", "row", "scan", "agg", "key", "col"))
      .map(_.mkString(" "))
    forAllN(Gen.zip(word, word), 3) { case (a, b) =>
      val df = Seq((1L, a), (2L, b), (3L, a)).toDF("id", "t")
        .select($"id", TF.minhashSignature(
          TF.shingleHashes(TF.charShingles($"t", 4)), 16).as("sig"))
      val sigs = df.orderBy("id").as[(Long, Seq[Long])].collect()
      val agreeAB = sigs(0)._2.zip(sigs(1)._2).count { case (x, y) => x == y }
      val agreeBA = sigs(1)._2.zip(sigs(0)._2).count { case (x, y) => x == y }
      assert(agreeAB == agreeBA)
      assert(sigs(0)._2 == sigs(2)._2) // identical text -> identical signature
    }
  }

  test("RowPattern.matchSpans ≡ java.util.regex on random streams × random patterns (E8)") {
    import graft.ops.RowPattern._
    // step alphabet: equality or negation over {a,b,c,x}; quantifiers over
    // the full set; at least one min≥1 step so zero-length matches (which
    // the operator defines away) can't occur. The reference is the JDK
    // regex engine, which shares leftmost-first backtracking semantics by
    // construction. Pure-core test: 200 cases, no Spark jobs.
    val chars = "abcx"
    val rnd = new scala.util.Random(7)
    val quantSyms = Seq(once -> "", plus -> "+", star -> "*",
      plusReluctant -> "+?", starReluctant -> "*?")
    (1 to 200).foreach { _ =>
      val stream = Array.fill(rnd.nextInt(30) + 1)(chars(rnd.nextInt(4)))
      val nSteps = rnd.nextInt(3) + 1
      val steps = (0 until nSteps).map { _ =>
        val c = chars(rnd.nextInt(3)) // predicate char from {a,b,c}
        val neg = rnd.nextBoolean()
        val (q, qs) = quantSyms(rnd.nextInt(quantSyms.size))
        (c, neg, q, qs)
      }
      val fixed = // force at least one min>=1 quantifier
        if (steps.exists(_._3.min >= 1)) steps
        else steps.updated(0, steps.head.copy(_3 = once, _4 = ""))
      val regex = fixed.map { case (c, neg, _, qs) =>
        (if (neg) s"[^$c]" else c.toString) + qs
      }.mkString
      val preds = stream.map(ch => fixed.map { case (c, neg, _, _) =>
        if (neg) ch != c else ch == c
      }.toArray)
      val quants = fixed.map(_._3).toArray
      val ts = stream.indices.map(_.toLong).toArray
      val got = matchSpans(ts, preds, quants, None)

      // reference: find leftmost matches, skip past last row
      val s = new String(stream)
      val m = java.util.regex.Pattern.compile(regex).matcher(s)
      val exp = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var from = 0
      while (from < s.length && m.find(from)) {
        exp += ((m.start, m.end - 1))
        from = m.end
      }
      assert(got == exp.toSeq,
        s"stream=$s regex=$regex got=$got exp=${exp.toSeq}")
    }
  }

  test("l19 packing invariants: offsets in range, blocks contiguous, totals preserved (L19)") {
    val out = ops.LlmOps.queries("l19_pack_sequences")(spark, sf)
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // every offset is inside the block budget
    assert(out.forall { case (_, _, _, _, off) => off >= 0 && off < 2048 })
    out.groupBy(_._2).foreach { case (_, docs) =>
      val sorted = docs.sortBy(_._1)
      // cumulative-token identity: block_id*2048 + offset is the exact
      // running sum of preceding docs' tokens (packing loses nothing)
      var cum = 0L
      sorted.foreach { case (_, _, n, blk, off) =>
        assert(blk * 2048 + off == cum)
        cum += n
      }
      // block ids never decrease along the packing order
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq)
    }
  }

  test("l18 mixture sampling: kept counts respect bounds and determinism (L18)") {
    val run1 = ops.LlmOps.queries("l18_mixture_sample")(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    val run2 = ops.LlmOps.queries("l18_mixture_sample")(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(run1.sameElements(run2)) // content-hash draw → exact rerun equality
    run1.foreach { case (lang, ratePm, total, kept, _) =>
      assert(kept >= 0 && kept <= total, s"$lang kept=$kept total=$total")
      // 4σ binomial envelope around the target rate
      val p = ratePm / 1000.0
      val sigma = math.sqrt(total * p * (1 - p))
      assert(math.abs(kept - total * p) <= 4 * sigma + 1,
        s"$lang kept=$kept expected≈${total * p}")
    }
  }

  test("l20 incremental dedup rejects every re-crawled copy (L20)") {
    // first_new ids must all come from the genuinely-new range (>= 400,
    // < 100000): a planted re-crawl surviving the anti-join would surface
    // as a first_new >= 100000
    val out = ops.LlmOps.queries("l20_incremental_dedup")(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (_, _, first) => first >= 400 && first < 100000 })
  }

  test("ARRAY literal rewrite law: random nest trees translate to the evaluable array() form") {
    // random tree of ARRAY[...] nodes whose leaves are int literals and
    // subscripted identifiers; the Presto rendering must rewrite to the
    // Spark rendering exactly (same tree, array(...) syntax, subscripts
    // → 1-based element_at, string literals untouched)
    sealed trait T
    case class Leaf(s: String) extends T
    case class Node(kids: List[T]) extends T
    val leaf: Gen[T] = Gen.oneOf(
      Gen.chooseNum(0, 99).map(n => Leaf(n.toString)),
      Gen.oneOf("x[1]", "'ARRAY[z]'", "'it''s'").map(Leaf(_)))
    def tree(depth: Int): Gen[T] =
      if (depth == 0) leaf
      else Gen.frequency(
        2 -> leaf,
        3 -> Gen.chooseNum(1, 3).flatMap(n =>
          Gen.listOfN(n, tree(depth - 1)).map(Node(_))))
    def presto(t: T): String = t match {
      case Leaf(s) => s
      case Node(ks) => ks.map(presto).mkString("ARRAY[", ", ", "]")
    }
    def sparkForm(t: T): String = t match {
      // subscript leaves rewrite to 1-based element_at (r5)
      case Leaf("x[1]") => "element_at(x, 1)"
      case Leaf(s) => s
      case Node(ks) => ks.map(sparkForm).mkString("array(", ", ", ")")
    }
    forAllN(tree(3).suchThat(_.isInstanceOf[Node]), 8) { t =>
      assert(graft.presto.PrestoSql.rewriteArrayLiterals(s"SELECT ${presto(t)}")
        == s"SELECT ${sparkForm(t)}")
    }
  }

  test("l58 DoReMi step: weights form a smoothed distribution (L58)") {
    val rows = graft.ops.LlmOps.queries("l58_doremi_step")(
      SparkSpec.spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val w = rows.map(_.getAs[Long]("weight_q4"))
    val k = rows.length
    // weights sum to ~1 (1e4-quantized; each row floors, so the sum can
    // be off by at most k/2 quanta either way)
    assert(math.abs(w.sum - 10000L) <= k, s"sum=${w.sum}")
    // smoothing floor: every weight >= c/k at q4 (minus one floor quantum)
    assert(w.forall(_ >= (1000.0 / k).toLong - 1), w.mkString(","))
    // monotone in excess: sorting by excess_q4 sorts weight_q4
    val byExcess = rows.sortBy(_.getAs[Long]("excess_q4")).map(_.getAs[Long]("weight_q4"))
    assert(byExcess.zip(byExcess.tail).forall { case (a, b) => a <= b })
  }

  test("l60 prototype pruning: keep rule and distance sanity (L60)") {
    val rows = graft.ops.LlmOps.queries("l60_prototype_pruning")(
      SparkSpec.spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    // per cluster: exactly floor(0.7·n) kept, ranks are 1..n, and the
    // kept set is the HARDEST (largest-distance) prefix
    rows.groupBy(_.getAs[Long]("cluster")).foreach { case (c, rs) =>
      val n = rs.length
      val kept = rs.count(_.getAs[Boolean]("kept"))
      assert(kept == n * 7 / 10, s"cluster $c kept $kept of $n")
      val byRank = rs.sortBy(_.getAs[Long]("rnk"))
      assert(byRank.map(_.getAs[Long]("rnk")).toSeq == (1L to n).toSeq)
      val d = byRank.map(_.getAs[Long]("d2_q6"))
      assert(d.zip(d.tail).forall { case (a, b) => a >= b }, s"cluster $c")
      assert(byRank.takeWhile(_.getAs[Boolean]("kept")).length == kept)
    }
  }

  test("geometry laws: inclusion–exclusion, hull idempotence, self-clip identity (r10)") {
    import graft.functions.WktCore
    def u(x: String) = org.apache.spark.unsafe.types.UTF8String.fromString(x)
    // random convex polygons = hulls of random dyadic point clouds; two
    // clouds with overlapping spreads usually intersect transversally
    val pt: Gen[(Double, Double)] =
      Gen.zip(Gen.chooseNum(-40, 40), Gen.chooseNum(-40, 40))
        .map { case (a, b) => (a / 4.0, b / 4.0) }
    def cloud(ox: Double, oy: Double): Gen[String] =
      Gen.listOfN(8, pt).map(ps =>
        "LINESTRING (" + ps.map { case (x, y) =>
          s"${x + ox} ${y + oy}" }.mkString(", ") + ")")
    var checked = 0
    forAllN(Gen.zip(cloud(0, 0), cloud(2.5, 1.75)), n = 30) { case (ca, cb) =>
      try {
        val a = WktCore.convexHullWkt(u(ca)).toString
        val b = WktCore.convexHullWkt(u(cb)).toString
        // hull idempotence: exact text equality (canonical start + CCW)
        assert(WktCore.convexHullWkt(u(a)).toString == a)
        // self-clip identity: area(A ∩ A) = area(A), exactly
        val selfClip = WktCore.intersectionWkt(u(a), u(a)).toString
        assert(WktCore.area(u(selfClip)) == WktCore.area(u(a)))
        // inclusion–exclusion across the overlay's ∩ and ∪:
        // area(A) + area(B) = area(A ∩ B) + area(A ∪ B) (float tolerance:
        // crossing vertices come from divisions, so ~1e-9 relative)
        val inter = WktCore.intersectionWkt(u(a), u(b)).toString
        if (inter != "POLYGON EMPTY") {
          val un = WktCore.unionWkt(u(a), u(b)).toString
          val lhs = WktCore.area(u(a)) + WktCore.area(u(b))
          val rhs = WktCore.area(u(inter)) + WktCore.area(u(un))
          assert(math.abs(lhs - rhs) <= 1e-9 * math.max(lhs, 1.0),
            s"incl-excl: $lhs vs $rhs\nA=$a\nB=$b")
          checked += 1
        }
      } catch {
        // the one legitimate loud scope: a collinear cloud (tangency,
        // containment and disjoint pairs all have an overlay result)
        case e: IllegalArgumentException
          if e.getMessage.contains("collinear") => ()
      }
    }
    assert(checked >= 10, s"only $checked intersecting pairs exercised")
  }

  test("gram_hashes rolling law: window i equals the direct hash of that window (r10)") {
    import graft.functions.ShingleKernels
    import org.apache.spark.unsafe.types.UTF8String
    // the O(1) rolling update (subtract c·B^{k−1}, shift, add) must land
    // on exactly the from-scratch polynomial of every window — the
    // property that makes l65/l66's phase-1 candidates sound
    val txt: Gen[String] =
      Gen.listOfN(80, Gen.alphaNumChar).map(_.mkString)
    forAllN(txt, n = 10) { t =>
      val k = 7
      val arr = ShingleKernels.gramHashes(UTF8String.fromString(t), k)
      (0 until arr.numElements()).foreach { i =>
        val direct = ShingleKernels.gramHashes(
          UTF8String.fromString(t.substring(i, i + k)), k)
        assert(arr.getLong(i) == direct.getLong(0), s"window $i of '$t'")
      }
    }
  }

  test("base32 laws: decode∘encode identity, padded-length, alphabet (r16)") {
    import graft.functions.Base32Core
    import org.apache.spark.unsafe.types.UTF8String
    val bytesGen: Gen[Array[Byte]] =
      Gen.chooseNum(0, 41).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))
          .map(_.toArray))
    forAllN(bytesGen, n = 40) { b =>
      val enc = Base32Core.encode(b).toString
      // RFC 4648: output is whole 8-char blocks over the A-Z2-7/'='
      // alphabet, 8·⌈n/5⌉ chars total
      assert(enc.length == 8 * ((b.length + 4) / 5), enc)
      assert(enc.forall(c => (c >= 'A' && c <= 'Z') ||
        (c >= '2' && c <= '7') || c == '='), enc)
      // padding only at the tail, and the round trip is exact
      assert(!enc.dropWhile(_ != '=').exists(_ != '='), enc)
      assert(Base32Core.decodeB32(UTF8String.fromString(enc))
        .sameElements(b), enc)
      // r17 advice: the unpadded truncation decodes identically
      assert(Base32Core.decodeB32(
        UTF8String.fromString(enc.replace("=", ""))).sameElements(b), enc)
    }
    // loud on lowercase and on padding not completing the final block
    intercept[IllegalArgumentException] {
      Base32Core.decodeB32(UTF8String.fromString("my======"))
    }
    intercept[IllegalArgumentException] {
      Base32Core.decodeB32(UTF8String.fromString("MY====="))
    }
  }

  test("degenerate hull laws: collinear cloud → segment between " +
      "lexicographic extremes, idempotent (r16)") {
    import graft.functions.WktCore
    def u(x: String) = org.apache.spark.unsafe.types.UTF8String.fromString(x)
    // random collinear clouds: k points at integer parameters t on a
    // random rational-slope line through (x0, y0)
    val cloud = for {
      x0 <- Gen.chooseNum(-8, 8); y0 <- Gen.chooseNum(-8, 8)
      dx <- Gen.chooseNum(-3, 3); dy <- Gen.chooseNum(-3, 3)
      if dx != 0 || dy != 0
      ts <- Gen.listOfN(6, Gen.chooseNum(-5, 5))
    } yield (x0, y0, dx, dy, ts)
    forAllN(cloud, n = 25) { case (x0, y0, dx, dy, ts) =>
      val pts = ts.map(t => (x0 + t * dx.toDouble, y0 + t * dy.toDouble))
      val wkt = "MULTIPOINT (" +
        pts.map { case (x, y) => s"($x $y)" }.mkString(", ") + ")"
      val h = WktCore.convexHullWkt(u(wkt)).toString
      val distinct = pts.distinct
      if (distinct.size == 1) assert(h.startsWith("POINT ("), h)
      else {
        assert(h.startsWith("LINESTRING ("), h)
        // endpoints are the lexicographic extremes = the carrier-line
        // extremes; zero length only for the single-point case
        val lo = distinct.min
        val hi = distinct.max
        assert(h.contains(s"${lo._1} ${lo._2}") &&
          h.contains(s"${hi._1} ${hi._2}"), s"$h vs $lo..$hi")
      }
      // idempotence: hull of the hull is the hull, textually
      assert(WktCore.convexHullWkt(u(h)).toString == h, h)
    }
  }
}
