package graft

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._

/** Unit + property coverage for the dedup primitives (SURVEY §5.3):
  * MinHash estimates track exact Jaccard, SimHash hamming tracks edit
  * similarity, fingerprints are stable.
  */
class TextFunctionsSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  /** Independent BPE reference: immutable-list functional form of the
    * documented semantics (lowest-rank adjacent pair; merge all its
    * left-to-right non-overlapping occurrences; repeat), written without
    * sharing code with BpeCore's imperative loop. */
  private def refSegmentWord(word: String,
      merges: Seq[(String, String)]): List[String] = {
    val rank = merges.zipWithIndex.toMap
    @annotation.tailrec
    def loop(syms: List[String]): List[String] = {
      val pairs = syms.zip(syms.drop(1))
      val present = pairs.filter(rank.contains)
      if (present.isEmpty) syms
      else {
        val best = present.minBy(rank)
        def mergeAll(rest: List[String]): List[String] = rest match {
          case l :: r :: tail if (l, r) == best => (l + r) :: mergeAll(tail)
          case h :: tail => h :: mergeAll(tail)
          case Nil => Nil
        }
        loop(mergeAll(syms))
      }
    }
    loop(codePoints(word))
  }

  /** Code-point split (BPE's initial alphabet — one symbol per code
    * point, so supplementary-plane chars stay whole). */
  private def codePoints(w: String): List[String] = {
    val b = List.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cc = Character.charCount(w.codePointAt(i))
      b += w.substring(i, i + cc)
      i += cc
    }
    b.result()
  }

  private def refBpeWord(word: String, merges: Seq[(String, String)]): Int =
    refSegmentWord(word, merges).length

  /** Independent greedy trainer: count adjacent pairs over the current
    * segmentation (overlapping zip count), take the most frequent
    * (lexicographic tie-break), repeat; stop when no pair repeats. */
  private def refTrain(texts: Seq[String], k: Int): Seq[(String, String, Long)] = {
    var learned = Vector.empty[(String, String, Long)]
    var done = false
    while (!done && learned.size < k) {
      val merges = learned.map(m => (m._1, m._2))
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for (t <- texts; w <- t.split("\\s+") if w.nonEmpty) {
        val syms = refSegmentWord(w, merges)
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + 1)
      }
      val cands = counts.filter(_._2 >= 2)
      if (cands.isEmpty) done = true
      else {
        val ((l, r), n) = cands.minBy { case ((pl, pr), pn) => (-pn, pl, pr) }
        learned :+= ((l, r, n))
      }
    }
    learned
  }

  private def refBpe(text: String, merges: Seq[(String, String)]): Long =
    text.split("\\s+").filter(_.nonEmpty).map(refBpeWord(_, merges).toLong).sum

  test("bpe_count matches the functional reference on multi-level merge chains") {
    import graft.functions.{BpeCore, BpeCountExpression}
    // chained merges: t+h -> th, th+e -> the, e+r -> er, er+s -> ers —
    // rank order decides ambiguous words like 'ther' (th before er)
    val merges = Seq("t" -> "h", "th" -> "e", "e" -> "r", "er" -> "s",
      "a" -> "a", "aa" -> "aa")
    val ranks = BpeCore.buildRanks(merges)
    val cases = Seq(
      "the", "ther", "thers", "ttthhh", "aaaa", "aaaaa", "aaaaaaaa",
      "ers the thers", "", "x", "therapy masses", "erer erser")
    cases.foreach { s =>
      val got = BpeCore.countTokens(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), ranks)
      assert(got == refBpe(s, merges), s"mismatch on '$s'")
    }
    // randomized sweep over a small alphabet where collisions are dense
    val rnd = new scala.util.Random(42)
    val alpha = "abct"
    (1 to 300).foreach { _ =>
      val w = (1 to (1 + rnd.nextInt(12)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val nPairs = 1 + rnd.nextInt(5)
      val pool = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "a",
        "ab" -> "c", "t" -> "a", "bc" -> "a", "ab" -> "ab")
      val ms = rnd.shuffle(pool).take(nPairs)
      val got = BpeCore.countTokens(
        org.apache.spark.unsafe.types.UTF8String.fromString(w),
        BpeCore.buildRanks(ms))
      assert(got == refBpe(w, ms), s"mismatch on '$w' with $ms")
    }
    // the parse round-trip used by the SQL registration
    assert(BpeCountExpression.parseMerges("t h,th e") == Seq("t" -> "h", "th" -> "e"))
  }

  test("bpe_count word-break definition agrees with the \\s strip l4c uses") {
    import graft.functions.{BpeCore, GraftFunctions => GF}
    // l4c derives n_merges = n_chars - n_bpe_tokens where n_chars strips
    // \s — that identity only holds if BpeCore's word-break chars are
    // exactly the stripped set. With zero merges every non-whitespace
    // char is a token, so countTokens == length(regexp_replace(t,'\s',''))
    // must hold for every ASCII whitespace mix, not just ' '
    val texts = Seq("a\tb\nc  d\r\ne", "tab\tsep", "nl\nnl\nnl", " lead",
      "trail\t\n", "\r\n", "mixed \t\r\n x", "")
    val noMerges = BpeCore.buildRanks(Seq.empty)
    texts.foreach { t =>
      val viaBpe = BpeCore.countTokens(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), noMerges)
      val viaStrip = t.replaceAll("\\s", "").length.toLong
      assert(viaBpe == viaStrip, s"disagree on ${t.replace("\n", "\\n")}")
    }
    // and through the SQL path l4c actually runs
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select($"id",
        length(regexp_replace($"text", "\\s", "")).cast("long").as("n_chars"),
        GF.bpeCount($"text", Seq.empty).as("n_tok"))
      .filter($"n_chars" =!= $"n_tok").count()
    assert(df == 0)
  }

  test("bpe_segment keeps word boundaries and matches the reference segmentation") {
    import graft.functions.{GraftFunctions => GF}
    val merges = Seq("t" -> "h", "th" -> "e")
    val out = Seq((1L, "the ther x"))
      .toDF("id", "text")
      .select(GF.bpeSegment($"text", merges).as("w"))
      .collect().head.getSeq[scala.collection.Seq[String]](0)
    assert(out.map(_.toList).toList == List(List("the"), List("the", "r"), List("x")))
    assert(out.map(_.toList).toList == "the ther x".split(" ")
      .map(refSegmentWord(_, merges)).toList)
  }

  test("distributed BPE training equals the reference trainer") {
    import graft.ops.LlmOps
    // hand-computable corpus: 'ab' occurs 3x (2 in abab + 1 in ab) ->
    // first merge; second round: (ab,ab) appears once only -> stop
    val tiny = Seq("abab", "ab b")
    val tinyDf = tiny.toDF("text")
    assert(LlmOps.bpeTrain(tinyDf, col("text"), 5) == Seq(("a", "b", 3L)))
    assert(refTrain(tiny, 5) == Seq(("a", "b", 3L)))

    // supplementary-plane corpus: the word histogram must carry the
    // original words (rejoined segment symbols would mangle surrogate
    // pairs to '?'), so distributed == reference beyond the BMP too.
    // Failure message deliberately avoids printing the surrogate chars
    // (the forked test harness's output encoder rejects them).
    val emoji = Seq("😀😀 x", "😀😀")
    val gotE = LlmOps.bpeTrain(emoji.toDF("text"), col("text"), 3)
    val wantE = refTrain(emoji, 3)
    assert(gotE == wantE,
      s"supplementary-plane corpus diverged: ${gotE.size} vs ${wantE.size} merges")

    // the real fixture slice: exact sequence equality incl. counts
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 200)
      .select(col("text"))
    val got = LlmOps.bpeTrain(docs, col("text"), 6)
    val want = refTrain(docs.collect().map(_.getString(0)).toSeq, 6)
    assert(got == want, s"got=$got want=$want")
    assert(got.size == 6, "fixture slice should support 6 merges")
  }

  /** Independent BYTE-level BPE reference: initial alphabet = the
    * word's UTF-8 bytes as Latin-1 one-char strings; same merge loop
    * through the shared functional reference. Split on ASCII \s bytes
    * (a continuation byte has the high bit set, so splitting the
    * UTF-8 bytes of the string equals splitting chars for the \s
    * class). */
  private def refByteSyms(word: String): List[String] =
    word.getBytes("UTF-8").toList.map(b => String.valueOf((b & 0xFF).toChar))

  private def refSegmentWordBytes(word: String,
      merges: Seq[(String, String)]): List[String] = {
    val rank = merges.zipWithIndex.toMap
    @annotation.tailrec
    def loop(syms: List[String]): List[String] = {
      val present = syms.zip(syms.drop(1)).filter(rank.contains)
      if (present.isEmpty) syms
      else {
        val best = present.minBy(rank)
        def mergeAll(rest: List[String]): List[String] = rest match {
          case l :: r :: tail if (l, r) == best => (l + r) :: mergeAll(tail)
          case h :: tail => h :: mergeAll(tail)
          case Nil => Nil
        }
        loop(mergeAll(syms))
      }
    }
    loop(refByteSyms(word))
  }

  private def refBpeBytes(text: String, merges: Seq[(String, String)]): Long =
    text.split("[ \t\n\f\r]+").filter(_.nonEmpty)
      .map(refSegmentWordBytes(_, merges).length.toLong).sum

  test("bpe_count_bytes: byte fallback matches the independent byte-level reference") {
    import graft.functions.BpeCore
    import org.apache.spark.unsafe.types.UTF8String
    val merges = Seq("t" -> "h", "th" -> "e", "e" -> "r",
      // a LEARNED multi-byte merge: 'é' is bytes 0xC3 0xA9 — merging
      // them back into one symbol is exactly GPT-2's byte-pair path
      "Ã" -> "©")
    val ranks = BpeCore.buildRanks(merges)
    val cases = Seq(
      "the ther", "café", "éé", "€", "naïve café themes",
      "😀 the 😀😀", "", "x", "élan vital")
    cases.foreach { s =>
      val got = BpeCore.countTokensBytes(UTF8String.fromString(s), ranks)
      assert(got == refBpeBytes(s, merges), s"mismatch on '$s'")
    }
    // byte fallback = no OOV: with an EMPTY merges table every word
    // tokenizes to exactly its UTF-8 byte count
    val empty = BpeCore.buildRanks(Seq.empty)
    Seq("café", "😀", "a€b").foreach { s =>
      assert(BpeCore.countTokensBytes(UTF8String.fromString(s), empty) ==
        s.getBytes("UTF-8").length)
    }
    // and ASCII-only inputs agree with the char-level kernel under an
    // ASCII merges table (the alphabets coincide)
    val asciiRanks = BpeCore.buildRanks(Seq("t" -> "h", "e" -> "r"))
    Seq("the thermal truth", "er er er", "abc").foreach { s =>
      assert(BpeCore.countTokensBytes(UTF8String.fromString(s), asciiRanks) ==
        BpeCore.countTokens(UTF8String.fromString(s), asciiRanks))
    }
    // randomized agreement sweep: on ASCII text the byte and char
    // alphabets coincide, so the two kernels must agree EXACTLY under
    // any merges table — 300 random (string, merges) draws over a
    // dense small alphabet where multi-level chains form constantly
    val rnd = new scala.util.Random(1105)
    val alpha = "abct "
    val pool = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "a",
      "ab" -> "c", "t" -> "a", "bc" -> "a", "ab" -> "ab", "aa" -> "bc")
    (1 to 300).foreach { _ =>
      val s = (1 to (1 + rnd.nextInt(24)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val ms = rnd.shuffle(pool).take(1 + rnd.nextInt(6))
      val ranks = BpeCore.buildRanks(ms)
      val u8 = UTF8String.fromString(s)
      assert(BpeCore.countTokensBytes(u8, ranks) ==
        BpeCore.countTokens(u8, ranks), s"byte≠char on '$s' with $ms")
    }
  }

  test("bpe_segment_bytes keeps word boundaries; byte-level training equals the reference") {
    import graft.functions.{GraftFunctions => GF}
    import graft.ops.LlmOps
    val merges = Seq("Ã" -> "©") // é = 0xC3 0xA9
    val out = Seq((1L, "café x")).toDF("id", "text")
      .select(GF.bpeSegmentBytes($"text", merges).as("w"))
      .collect().head.getSeq[scala.collection.Seq[String]](0)
    assert(out.map(_.toList).toList ==
      List(List("c", "a", "f", "Ã©"), List("x")))

    // byte-level training on a multi-byte corpus: the hot pair is the
    // é byte pair itself (3 occurrences), learned FIRST — the reference
    // trainer re-derives it independently
    def refTrainBytes(texts: Seq[String], k: Int): Seq[(String, String, Long)] = {
      var learned = Vector.empty[(String, String, Long)]
      var done = false
      while (!done && learned.size < k) {
        val m = learned.map(x => (x._1, x._2))
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for (t <- texts; w <- t.split("\\s+") if w.nonEmpty) {
          val syms = refSegmentWordBytes(w, m)
          syms.zip(syms.tail).foreach(p =>
            counts(p) = counts.getOrElse(p, 0L) + 1)
        }
        val cands = counts.filter(_._2 >= 2)
        if (cands.isEmpty) done = true
        else {
          // most frequent, lexicographic tie-break — match bpeTrain
          val best = cands.minBy { case ((pl, pr), pn) => (-pn, pl, pr) }
          learned :+= ((best._1._1, best._1._2, best._2))
        }
      }
      learned
    }
    val corpus = Seq("café café", "café the", "the the")
    val got = LlmOps.bpeTrain(corpus.toDF("text"), col("text"), 4,
      byteLevel = true)
    val want = refTrainBytes(corpus, 4)
    assert(got == want, s"got=$got want=$want")
    // the learned merges absorb é's TWO bytes into one symbol (via the
    // chain a+f → af+Ã → afÃ+© → c+afÃ©): segmenting 'café' under them
    // yields a single token whose symbol is the 5-byte Latin-1 string
    assert(refSegmentWordBytes("café", got.map(m => (m._1, m._2))) ==
      List("cafÃ©"), s"é bytes not merged: $got")
  }

  test("bpe_count evaluates identically in codegen and in a DataFrame plan") {
    import graft.functions.{GraftFunctions => GF}
    val merges = Seq("t" -> "h", "th" -> "e", "e" -> "r")
    val df = Seq((1L, "the thermal truth"), (2L, "er er er"), (3L, " "))
      .toDF("id", "text")
      .select($"id", GF.bpeCount($"text", merges).as("n"))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val expected = Seq(
      (1L, refBpe("the thermal truth", merges)),
      (2L, refBpe("er er er", merges)),
      (3L, 0L))
    assert(df == expected)
  }

  private def jaccardExact(a: String, b: String, k: Int): Double = {
    val sa = a.sliding(k).toSet
    val sb = b.sliding(k).toSet
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  private def minhashEstimate(a: String, b: String): (Double, Double) = {
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
      .select($"id", TF.minhashSignature(
        TF.shingleHashes(TF.charShingles($"text", 5)), 64).as("sig"))
    val sigs = df.orderBy("id").as[(Long, Seq[Long])].collect()
    val est = sigs(0)._2.zip(sigs(1)._2).count { case (x, y) => x == y } / 64.0
    (est, jaccardExact(a, b, 5))
  }

  test("charShingles produces distinct k-grams") {
    val sh = Seq("abcdef").toDF("t")
      .select(TF.charShingles($"t", 3)).as[Seq[String]].head()
    assert(sh == Seq("abc", "bcd", "cde", "def"))
  }

  test("wordShingles builds space-joined n-grams") {
    val sh = Seq("a b c d").toDF("t")
      .select(TF.wordShingles(TF.wordTokens($"t"), 2)).as[Seq[String]].head()
    assert(sh == Seq("a b", "b c", "c d"))
  }

  test("minhash: identical docs estimate 1.0") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val (est, _) = minhashEstimate(text, text)
    assert(est == 1.0)
  }

  test("minhash estimate within 0.2 of exact Jaccard (property, L2)") {
    val base = "spark engines shuffle partitions and aggregate columnar batches " * 3
    val variants = Seq(
      base,
      base.replace("shuffle", "exchange"),
      base.take(base.length / 2) + " totally different suffix content here",
      "completely unrelated text about cooking recipes and gardens")
    for (v <- variants) {
      val (est, exact) = minhashEstimate(base, v)
      assert(math.abs(est - exact) <= 0.2,
        s"est=$est exact=$exact for variant=${v.take(30)}")
    }
  }

  test("simhash48: identical text collides, near text is hamming-close") {
    val a = "spark data pipelines process columnar batches at scale every day"
    val b = "spark data pipelines process columnar batches at scale every night"
    val c = "unrelated words entirely different domain vocabulary cooking"
    val df = Seq((1L, a), (2L, a), (3L, b), (4L, c)).toDF("id", "t")
      .select($"id", TF.simhash48(TF.wordTokens($"t")).as("sh"))
    val m = df.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(m(1L), m(3L)) < hamming(m(1L), m(4L)))
  }

  test("native sketch expressions == higher-order reference implementations") {
    val docs = Tables.documents(spark, sf).limit(50)
    val hashes = TF.shingleHashes(TF.charShingles($"text", 5))
    val cmp = docs.select(
      graft.functions.GraftFunctions.minhashSig(hashes).as("native_mh"),
      TF.minhashSignature(hashes, 64).as("hof_mh"),
      graft.functions.GraftFunctions.simhash48(TF.shingleHashes(TF.wordTokens($"text"))).as("native_sh"),
      TF.simhash48(TF.wordTokens($"text")).as("hof_sh"))
    assert(cmp.filter($"native_mh" =!= $"hof_mh" || $"native_sh" =!= $"hof_sh").count() == 0)
  }

  test("fused minhash_text_sig == composed minhash(shingle_hashes(char_shingles))") {
    import graft.functions.{GraftFunctions => GF}
    // real docs plus the window-clamp edge cases: empty text, text
    // shorter than k, exactly k, and multi-byte UTF-8 (char windows must
    // track byte offsets)
    val edge = Seq("", "ab", "abcde", "abcdef", "héllo wörld ünïcode",
      "aaaaaaa", "日本語のテキスト例").toDF("text")
    val docs = Tables.documents(spark, sf).limit(80).select($"text")
      .unionByName(edge)
    val cmp = docs.select(
      GF.minhashTextSig($"text", 5).as("fused"),
      GF.minhashSig(TF.shingleHashes(GF.charShingles($"text", 5))).as("composed"))
    assert(cmp.filter($"fused" =!= $"composed").count() == 0)
  }

  test("fused simhash48_text == composed simhash48(shingle_hashes(word_tokens))") {
    import graft.functions.{GraftFunctions => GF}
    // edge cases: empty, all-spaces, consecutive/leading/trailing spaces,
    // non-space whitespace INSIDE tokens, multi-byte UTF-8, supplementary-
    // plane chars (4-byte UTF-8, surrogate pairs in UTF-16)
    val edge = Seq("", "   ", "  a  b ", "a\tb\nc d", "héllo  wörld",
      "日本語 テキスト", "😀 x 😀😀 y", "𝄞 a").toDF("text")
    val docs = Tables.documents(spark, sf).limit(80).select($"text")
      .unionByName(edge)
    val cmp = docs.select(
      GF.simhash48Text($"text").as("fused"),
      GF.simhash48(TF.shingleHashes(TF.wordTokens($"text"))).as("composed"))
    assert(cmp.filter($"fused" =!= $"composed").count() == 0)
  }

  test("native perm_match_count == zip_with/filter/size HOF reference (r17)") {
    import graft.functions.{GraftFunctions => GF}
    import org.apache.spark.sql.functions.{filter, size, zip_with}
    // real signature pairs: every doc against a shifted copy of itself
    // plus self-pairs (all-64 match) — covers 0..64 agreement counts
    val sigs = Tables.documents(spark, sf).limit(80)
      .select(GF.minhashTextSig($"text", 5).as("sig_a"))
    val pairs = sigs.select($"sig_a",
        org.apache.spark.sql.functions.slice(
          org.apache.spark.sql.functions.concat($"sig_a", $"sig_a"), 2, 64)
          .as("sig_b"))
      .unionByName(sigs.select($"sig_a", $"sig_a".as("sig_b")))
    val cmp = pairs.select(
      GF.permMatchCount($"sig_a", $"sig_b").as("native"),
      size(filter(zip_with($"sig_a", $"sig_b", (x, y) => x === y),
        (m: org.apache.spark.sql.Column) => m)).as("hof"))
    assert(cmp.filter($"native" =!= $"hof").count() == 0)
  }

  test("native word_tokens == filter(split) HOF reference (r18)") {
    // edge cases: empty, all-spaces, consecutive/leading/trailing spaces,
    // non-space whitespace (stays INSIDE tokens — split cuts only 0x20),
    // multi-byte UTF-8 (no space byte inside a multibyte sequence),
    // supplementary-plane chars (4-byte UTF-8, surrogate pairs in UTF-16)
    val edge = Seq("", "   ", "  a  b ", "a\tb\nc d", "héllo  wörld",
      "日本語 テキスト", " x", "x ", "x", "😀 x 😀😀 y", "𝄞 a").toDF("text")
    val docs = Tables.documents(spark, sf).limit(80).select($"text")
      .unionByName(edge)
    val cmp = docs.select(
      TF.wordTokens($"text").as("native"),
      TF.wordTokensRef($"text").as("hof"))
    assert(cmp.filter($"native" =!= $"hof").count() == 0)
  }

  test("native kgram_hashes == transform/aggregate HOF reference (r18)") {
    // edge cases: empty token array (one empty gram, hash 0), fewer
    // tokens than k (clamped slice), exactly k, multi-byte UTF-8 chars,
    // supplementary-plane chars (the fold is over CODE POINTS via
    // split(gram, '') + ascii, so a surrogate pair folds once)
    val edge = Seq("", "a", "a b", "a b c", "a b c d e",
      "héllo wörld ünïcode tåkens", "日本語 の テキスト 例",
      "😀 x 😀😀 y", "𝄞 a")
      .toDF("text")
    val docs = Tables.documents(spark, sf).limit(80).select($"text")
      .unionByName(edge)
    for (k <- Seq(2, 4)) {
      val cmp = docs.select(
        TF.kgramHashes(TF.wordTokens($"text"), k).as("native"),
        TF.kgramHashesRef(TF.wordTokensRef($"text"), k).as("hof"))
      assert(cmp.filter($"native" =!= $"hof").count() == 0, s"k=$k")
    }
  }

  test("native shingle kernels == higher-order reference implementations") {
    import graft.functions.{GraftFunctions => GF}
    val docs = Tables.documents(spark, sf).limit(50)
    val cmp = docs.select(
      GF.charShingles($"text", 5).as("native_cs"),
      TF.charShingles($"text", 5).as("hof_cs"),
      GF.wordShingles(TF.wordTokens($"text"), 3).as("native_ws"),
      TF.wordShingles(TF.wordTokens($"text"), 3).as("hof_ws"))
    assert(cmp.filter($"native_cs" =!= $"hof_cs" || $"native_ws" =!= $"hof_ws").count() == 0)
  }

  test("native unit_q3 == HOF quantize chain bit-for-bit (r18, l71)") {
    // real embeddings plus edge vectors: negatives, tiny/large magnitudes,
    // a one-dimensional vector (the fixture never has zero vectors — the
    // HOF chain would ANSI-throw there, and so does the kernel)
    val edge = Seq(Seq(-1.0f, 2.5f, -3.25f), Seq(1e-30f, 1e-30f),
      Seq(42.0f), Seq(1e20f, -1e20f, 5.5f))
      .toDF("embedding")
    val docs = Tables.embeddings(spark, sf).limit(200).select($"embedding")
      .unionByName(edge)
    val cmp = docs
      .withColumn("u", expr("unit_q3(embedding)"))
      .withColumn("nrm", expr("sqrt(aggregate(embedding, " +
        "CAST(0.0 AS DOUBLE), (a, y) -> a + CAST(y AS DOUBLE) * " +
        "CAST(y AS DOUBLE)))"))
      .withColumn("q_ref", expr("transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) / nrm * 1000 + 0.5) AS BIGINT))"))
      .withColumn("qn2_ref", expr("aggregate(q_ref, 0L, (a, y) -> a + y * y)"))
    assert(cmp.filter($"u.q" =!= $"q_ref" || $"u.qn2" =!= $"qn2_ref")
      .count() == 0)
  }

  test("native cosine_sim == higher-order cosine bit-for-bit") {
    val e = Tables.embeddings(spark, sf).limit(100)
      .select($"embedding".as("a"), org.apache.spark.sql.functions.reverse($"embedding").as("b"))
    val diff = e.select(
      graft.functions.GraftFunctions.cosineSim($"a", $"b").as("native"),
      graft.functions.VectorFunctions.cosine($"a", $"b").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff == 0)
  }

  test("rollingFingerprint: stable, prefix-sensitive") {
    val df = Seq((1L, "abcdef"), (2L, "abcdef"), (3L, "abcdeg")).toDF("id", "t")
      .select($"id", TF.rollingFingerprint($"t", 64).as("fp"))
    val m = df.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L) && m(1L) != m(3L))
  }

  test("winnowing guarantee: a shared k+w-1 token run shares a fingerprint (L34)") {
    // k = 4, w = 4 ⇒ any shared run of ≥ 7 tokens must intersect
    val shared = "lorem ipsum dolor sit amet consectetur adipiscing"  // 7 tokens
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"one two $shared three four five six seven"),
      (3L, "entirely different words with no overlap at all here today"))
      .toDF("id", "t")
      .select($"id",
        TF.winnow(TF.kgramHashes(TF.wordTokens($"t"), 4), 4).as("fps"))
    val m = docs.as[(Long, Seq[Long])].collect().toMap
    assert((m(1L).toSet & m(2L).toSet).nonEmpty,
      "docs sharing a 7-token run must share a fingerprint")
    assert((m(1L).toSet & m(3L).toSet).isEmpty,
      "no shared grams, no shared fingerprints")
    // density: selected ≤ grams, and both docs selected at least one
    assert(m.values.forall(_.nonEmpty))
    // determinism across evaluation
    val m2 = Seq((9L, s"alpha beta gamma $shared delta epsilon")).toDF("id", "t")
      .select($"id",
        TF.winnow(TF.kgramHashes(TF.wordTokens($"t"), 4), 4).as("fps"))
      .as[(Long, Seq[Long])].collect().head._2
    assert(m2 == m(1L))
  }

  test("jaro_winkler matches the published vectors and pinned conventions") {
    import graft.functions.JaroWinklerKernel
    def jw(a: String, b: String): Double = JaroWinklerKernel.sim(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-12)
    assert(jw("abc", "abc") == 1.0)
    // pinned conventions (mirroring DuckDB): empty → 0, window-0 swap
    // finds no matches, no boost at or below the 0.7 threshold
    assert(jw("", "") == 0.0 && jw("a", "") == 0.0)
    assert(jw("ab", "ba") == 0.0)
    assert(jw("abcdxxxxxx", "abcdyyyyyy") == 0.6)
  }

  test("gram char-count kernels match brute-force multiset arithmetic") {
    // topGramCharCount = max over grams of count·len; dupGramCharCount
    // = Σ count·len over count ≥ 2 — checked against a scala brute force
    // on deterministic word soups with planted repeats
    val docs = (0 until 20).map { i =>
      val base = (0 until 30).map(j => s"w${(i * 7 + j * 3) % 11}")
      val rep = Seq("spam", "spam", "spam", "ham", "ham")
      (i.toLong, (base ++ rep ++ base.take(5)).mkString(" "))
    }
    val full = docs.toDF("id", "t")
      .select($"id",
        TF.topGramCharCount(TF.wordGrams(TF.wordTokens($"t"), 2)).as("top2"),
        TF.dupGramCharCount(TF.wordGrams(TF.wordTokens($"t"), 2)).as("dup2"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    for ((id, text) <- docs) {
      val ws = text.split(" ").filter(_.nonEmpty)
      val grams = (if (ws.length < 2) Seq(ws.mkString(" "))
        else ws.sliding(2).map(_.mkString(" ")).toSeq)
      val counts = grams.groupBy(identity).map { case (g, o) =>
        (g, o.size.toLong) }
      val top = counts.map { case (g, c) => c * g.length }.max
      val dup = counts.collect { case (g, c) if c >= 2 => c * g.length }.sum
      assert(full(id)._1 == top, s"top2 doc $id")
      assert(full(id)._2 == dup, s"dup2 doc $id")
    }
  }

  test("l56 keep-first line dedup: order preserved, repeats dropped") {
    val chorus = "la la la la la la" // one full 6-word chunk
    val verse1 = "first verse words here now one"
    val verse2 = "second verse words here now two"
    val doc = s"$chorus $verse1 $chorus $verse2 $chorus"
    val out = graft.ops.LlmOps.queries("l56_line_dedup")(
      SparkSpec.spark, "/root/testdata/sf0.001")
    assert(out.columns.toSeq ==
      Seq("doc_id", "n_lines", "n_kept", "text_clean"))
    // synthetic: the chorus repeats collapse to the first occurrence,
    // verses keep their relative order
    val r = Seq((1L, doc)).toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("w"))
      .withColumn("ls", expr(
        """transform(
          |  sequence(0, greatest(CAST(ceil(size(w) / 6.0) AS INT) - 1, 0)),
          |  i -> array_join(slice(w, i * 6 + 1, 6), ' '))""".stripMargin))
      .select(expr("filter(ls, (x, i) -> array_position(ls, x) = i + 1)")
        .as("keep"))
      .as[Seq[String]].collect().head
    assert(r == Seq(chorus, verse1, verse2))
    // idempotence: re-deduping the kept lines changes nothing
    val again = Seq((1L, r.mkString(" "))).toDF("doc_id", "text")
      .select(split($"text", " ").as("w"))
      .withColumn("ls", expr(
        """transform(
          |  sequence(0, greatest(CAST(ceil(size(w) / 6.0) AS INT) - 1, 0)),
          |  i -> array_join(slice(w, i * 6 + 1, 6), ' '))""".stripMargin))
      .select(expr("filter(ls, (x, i) -> array_position(ls, x) = i + 1)")
        .as("keep"))
      .as[Seq[String]].collect().head
    assert(again == r)
  }

  test("fused gopher kernel matches the HOF reference forms field-for-field") {
    import graft.functions.{GraftFunctions => GF}
    // real corpus docs + planted edge cases: empty text (1 empty line,
    // single "" gram), single word, exactly 6 words, heavy repetition
    val corpus = graft.Tables.documents(SparkSpec.spark,
        "/root/testdata/sf0.001")
      .select($"doc_id", $"text").as[(Long, String)].collect().take(40)
    val edges = Seq((9001L, ""), (9002L, "one"),
      (9003L, "a b c d e f"), (9004L, Seq.fill(40)("spam").mkString(" ")),
      (9005L, "x y x y x y x y z"))
    val df = (corpus.toSeq ++ edges).toDF("doc_id", "text")
      .select($"doc_id", TF.wordTokens($"text").as("w"))
      .withColumn("ls", expr(
        """transform(
          |  sequence(0, greatest(CAST(ceil(size(w) / 6.0) AS INT) - 1, 0)),
          |  i -> array_join(slice(w, i * 6 + 1, 6), ' '))""".stripMargin))
      .withColumn("st", GF.gopherRepetitionStats($"w"))
    def sumLen(c: org.apache.spark.sql.Column) =
      aggregate(c, lit(0L), (a, x) => a + length(x).cast("long"))
    val bad = df.filter(
      $"st.n_lines" =!= size($"ls").cast("long") or
      $"st.n_dlines" =!= size(array_distinct($"ls")).cast("long") or
      $"st.len_all" =!= sumLen($"ls") or
      $"st.len_dist" =!= sumLen(array_distinct($"ls")) or
      $"st.top2" =!= TF.topGramCharCount(TF.wordGrams($"w", 2)) or
      $"st.top3" =!= TF.topGramCharCount(TF.wordGrams($"w", 3)) or
      $"st.dup5" =!= TF.dupGramCharCount(TF.wordGrams($"w", 5)) or
      $"st.dup10" =!= TF.dupGramCharCount(TF.wordGrams($"w", 10)))
    assert(bad.count() == 0, bad.select($"doc_id").collect().mkString(","))
  }
}
