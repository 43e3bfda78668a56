package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Porter stemming kernel (Porter 1980, "An algorithm for suffix
  * stripping" — the public-domain algorithm behind Trino's `word_stem`
  * and Lucene's PorterStemmer). Own Scala implementation of the five
  * published steps; rule selection per step is LONGEST-matching-suffix
  * first, then its m-condition — per the paper, when the longest match's
  * condition fails no other rule in that step applies (this is what
  * keeps `rational` unstemmed while `relational` → `relate`).
  *
  * Input contract (documented): the word is lowercased first; words of
  * ≤2 letters or containing non-[a-z] characters return unchanged
  * (stemming is defined on bare lowercase words).
  */
object PorterKernel {

  def stem(u: UTF8String): UTF8String = {
    val w = u.toString.toLowerCase(java.util.Locale.ROOT)
    if (w.length <= 2 || !w.forall(c => c >= 'a' && c <= 'z'))
      UTF8String.fromString(w)
    else UTF8String.fromString(stemWord(w))
  }

  /** Porter consonant: not a vowel, and `y` only when not preceded by a
    * consonant (so `y` after a consonant reads as a vowel: `happy`). */
  private def isCons(b: String, i: Int): Boolean = b.charAt(i) match {
    case 'a' | 'e' | 'i' | 'o' | 'u' => false
    case 'y' => i == 0 || !isCons(b, i - 1)
    case _ => true
  }

  /** m: the number of VC sequences in the word's [C](VC)^m[V] form. */
  private def measure(b: String): Int = {
    val len = b.length
    var n = 0
    var i = 0
    while (i < len && isCons(b, i)) i += 1
    while (i < len) {
      while (i < len && !isCons(b, i)) i += 1
      if (i < len) {
        n += 1
        while (i < len && isCons(b, i)) i += 1
      }
    }
    n
  }

  private def hasVowel(b: String): Boolean =
    b.indices.exists(i => !isCons(b, i))

  private def endsDoubleCons(b: String): Boolean =
    b.length >= 2 && b.charAt(b.length - 1) == b.charAt(b.length - 2) &&
      isCons(b, b.length - 1)

  /** *o: ends consonant-vowel-consonant where the final consonant is not
    * w, x or y (`fil` yes, `fall` no, `box` no). */
  private def endsCvc(b: String): Boolean = {
    val n = b.length
    n >= 3 && isCons(b, n - 3) && !isCons(b, n - 2) && isCons(b, n - 1) &&
      "wxy".indexOf(b.charAt(n - 1)) < 0
  }

  /** Longest matching suffix wins; its m-condition (measure of the
    * remaining stem ≥ minM) then decides — match-but-fail means the whole
    * step is a no-op, exactly the paper's semantics. */
  private def replaceLongest(b: String, rules: Seq[(String, String)],
      minM: Int): String = {
    val matching = rules.filter { case (suf, _) => b.endsWith(suf) }
    if (matching.isEmpty) b
    else {
      val (suf, rep) = matching.maxBy(_._1.length)
      val stem = b.dropRight(suf.length)
      if (measure(stem) >= minM) stem + rep else b
    }
  }

  private val step2Rules = Seq(
    "ational" -> "ate", "tional" -> "tion", "enci" -> "ence",
    "anci" -> "ance", "izer" -> "ize", "abli" -> "able", "alli" -> "al",
    "entli" -> "ent", "eli" -> "e", "ousli" -> "ous", "ization" -> "ize",
    "ation" -> "ate", "ator" -> "ate", "alism" -> "al", "iveness" -> "ive",
    "fulness" -> "ful", "ousness" -> "ous", "aliti" -> "al",
    "iviti" -> "ive", "biliti" -> "ble")

  private val step3Rules = Seq(
    "icate" -> "ic", "ative" -> "", "alize" -> "al", "iciti" -> "ic",
    "ical" -> "ic", "ful" -> "", "ness" -> "")

  private val step4Rules = Seq(
    "al" -> "", "ance" -> "", "ence" -> "", "er" -> "", "ic" -> "",
    "able" -> "", "ible" -> "", "ant" -> "", "ement" -> "", "ment" -> "",
    "ent" -> "", "ion" -> "", "ou" -> "", "ism" -> "", "ate" -> "",
    "iti" -> "", "ous" -> "", "ive" -> "", "ize" -> "")

  private def stemWord(w: String): String = {
    var b = w
    // Step 1a: plural stripping.
    if (b.endsWith("sses")) b = b.dropRight(2)
    else if (b.endsWith("ies")) b = b.dropRight(2)
    else if (!b.endsWith("ss") && b.endsWith("s")) b = b.dropRight(1)
    // Step 1b: -eed / -ed / -ing, with the restore pass for the bare forms.
    var restore = false
    if (b.endsWith("eed")) {
      if (measure(b.dropRight(3)) > 0) b = b.dropRight(1)
    } else if (b.endsWith("ed") && hasVowel(b.dropRight(2))) {
      b = b.dropRight(2); restore = true
    } else if (b.endsWith("ing") && hasVowel(b.dropRight(3))) {
      b = b.dropRight(3); restore = true
    }
    if (restore) {
      if (b.endsWith("at") || b.endsWith("bl") || b.endsWith("iz")) b += "e"
      else if (endsDoubleCons(b) && "lsz".indexOf(b.charAt(b.length - 1)) < 0)
        b = b.dropRight(1)
      else if (measure(b) == 1 && endsCvc(b)) b += "e"
    }
    // Step 1c: terminal y → i after a vowel-bearing stem.
    if (b.endsWith("y") && hasVowel(b.dropRight(1)))
      b = b.dropRight(1) + "i"
    // Steps 2–3: double-suffix collapse (m > 0).
    b = replaceLongest(b, step2Rules, 1)
    b = replaceLongest(b, step3Rules, 1)
    // Step 4: suffix removal on long stems (m > 1); -ion additionally
    // requires the stem to end in s or t.
    val m4 = step4Rules.filter { case (suf, _) => b.endsWith(suf) }
    if (m4.nonEmpty) {
      val (suf, _) = m4.maxBy(_._1.length)
      val stem = b.dropRight(suf.length)
      val ionOk = suf != "ion" ||
        (stem.nonEmpty && "st".indexOf(stem.charAt(stem.length - 1)) >= 0)
      if (measure(stem) >= 2 && ionOk) b = stem
    }
    // Step 5a: drop a terminal e on long stems (or short non-*o stems).
    if (b.endsWith("e")) {
      val stem = b.dropRight(1)
      val m = measure(stem)
      if (m > 1 || (m == 1 && !endsCvc(stem))) b = stem
    }
    // Step 5b: -ll → -l on long stems.
    if (measure(b) > 1 && endsDoubleCons(b) && b.charAt(b.length - 1) == 'l')
      b = b.dropRight(1)
    b
  }
}
