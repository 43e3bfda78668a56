package graft

import graft.functions.PorterKernel
import org.apache.spark.unsafe.types.UTF8String

/** word_stem — the Porter kernel against the example words published in
  * the algorithm paper's step rule tables (Porter 1980), with the
  * expected value being the FULL end-to-end stem (the paper's tables
  * show single-step transformations; later steps keep firing — e.g.
  * `agreed` is `agree` after step 1b and `agre` after step 5a). Every
  * rule family is represented, including the conditional no-ops
  * (`sky`, `bled`, `feed`) where a matched suffix's m-condition fails
  * and the step must leave the word alone.
  */
class StemSpec extends SparkSpec {

  private def st(w: String): String =
    PorterKernel.stem(UTF8String.fromString(w)).toString

  test("step 1 rule families: plurals, -eed/-ed/-ing, terminal y") {
    val pairs = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat",
      "feed" -> "feed", "agreed" -> "agre", "plastered" -> "plaster",
      "bled" -> "bled", "motoring" -> "motor", "sing" -> "sing",
      "conflated" -> "conflat", "troubled" -> "troubl", "sized" -> "size",
      "hopping" -> "hop", "tanned" -> "tan", "falling" -> "fall",
      "hissing" -> "hiss", "fizzed" -> "fizz", "failing" -> "fail",
      "filing" -> "file",
      "happy" -> "happi", "sky" -> "sky")
    for ((w, e) <- pairs) assert(st(w) == e, s"stem($w)")
  }

  test("step 2-3 rule families: double-suffix collapse") {
    val pairs = Seq(
      "relational" -> "relat", "conditional" -> "condit",
      "rational" -> "ration", "valenci" -> "valenc",
      "hesitanci" -> "hesit", "digitizer" -> "digit",
      "conformabli" -> "conform", "radicalli" -> "radic",
      "differentli" -> "differ", "vileli" -> "vile",
      "analogousli" -> "analog", "vietnamization" -> "vietnam",
      "predication" -> "predic", "operator" -> "oper",
      "feudalism" -> "feudal", "decisiveness" -> "decis",
      "hopefulness" -> "hope", "callousness" -> "callous",
      "formaliti" -> "formal", "sensitiviti" -> "sensit",
      "sensibiliti" -> "sensibl",
      "triplicate" -> "triplic", "formative" -> "form",
      "formalize" -> "formal", "electriciti" -> "electr",
      "electrical" -> "electr", "hopeful" -> "hope",
      "goodness" -> "good")
    for ((w, e) <- pairs) assert(st(w) == e, s"stem($w)")
  }

  test("steps 4-5: suffix removal and e/ll cleanup on long stems") {
    val pairs = Seq(
      "revival" -> "reviv", "allowance" -> "allow", "inference" -> "infer",
      "airliner" -> "airlin", "gyroscopic" -> "gyroscop",
      "adjustable" -> "adjust", "defensible" -> "defens",
      "irritant" -> "irrit", "replacement" -> "replac",
      "adjustment" -> "adjust", "dependent" -> "depend",
      "adoption" -> "adopt", "communism" -> "commun",
      "activate" -> "activ", "angulariti" -> "angular",
      "homologous" -> "homolog", "effective" -> "effect",
      "bowdlerize" -> "bowdler",
      "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
      "controll" -> "control", "roll" -> "roll")
    for ((w, e) <- pairs) assert(st(w) == e, s"stem($w)")
  }

  test("word_stem is registered, codegen-evaluable, and in the dialect") {
    import org.apache.spark.sql.functions.{col, expr}
    val r = spark.createDataFrame(Seq(
        (1L, "Running"), (2L, "replacement"), (3L, "a1b2"), (4L, "at")))
      .toDF("id", "w")
      .select(col("id"), expr("word_stem(w)").as("s"))
      .orderBy(col("id")).collect()
    // lowercased first; non-[a-z] and <=2-letter words pass through
    assert(r.map(_.getString(1)).toSeq == Seq("run", "replac", "a1b2", "at"))
    val d = presto.PrestoSql.sql(spark,
      "SELECT word_stem('presumably') AS s").collect().head
    assert(d.getString(0) == "presum")
  }
}
