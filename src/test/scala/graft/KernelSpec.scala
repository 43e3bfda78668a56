package graft

import graft.functions.{GraftFunctions, Kernel, TextFunctions, WktCore}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  InterpretedUnsafeProjection, Literal, UnsafeProjection}
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.sql.types.{BinaryType, DateType, DoubleType, IntegerType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The registry's `Kernel` entries: every one binds to its static method
  * and answers alike interpreted and generated; the builder rejects a
  * wrong argument count or a column where a literal belongs. */
class KernelSpec extends SparkSpec {

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** Every argument list of probe literals a kernel entry accepts: the
    * literal 5 stands for each column and each constant (`k`, `n`), a
    * DATE for `to_iso8601`'s one argument. */
  private def probes(build: Seq[Expression] => Expression): Seq[(Seq[Expression], Kernel)] =
    for {
      probe <- Seq[Expression](Literal(5), Literal.create(0, DateType))
      n <- 1 to 3
      args = Seq.fill(n)(probe)
      k <- scala.util.Try(build(args)).toOption.collect { case k: Kernel => k }
    } yield (args, k)

  /** Binds `k` (built from `args`) through the session registry over a
    * one-row frame of typed NULLs and runs it interpreted and generated. */
  private def check(name: String, args: Seq[Expression], k: Kernel): Unit = {
    // a typed NULL for each column argument, from a non-foldable scan
    val types = k.inputTypes
    val schema = StructType(types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row.fromSeq(types.map(_ => null))), 1), schema)
    val cols: Seq[Column] = args.indices.map(i =>
      if (i < types.length) col(s"c$i") else lit(5))
    val q = df.select(call_function(name, cols: _*).as("r"))
    val bound = q.queryExecution.analyzed.expressions.flatMap(_.collect { case a: Kernel => a })
    assert(bound.size == 1 && bound.head.invoke.method != null, q.queryExecution.analyzed)
    def run(mode: String): Seq[Row] = GraftSession.withConf(spark,
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString
    )(q.collect().toSeq)
    val codegen = run("CODEGEN_ONLY")
    assert(codegen == run("NO_CODEGEN"))
    assert(codegen == Seq(Row(null)), codegen)
  }

  test("every Kernel entry binds its static method and agrees interpreted vs codegen") {
    val entries = GraftFunctions.all.filter(_._2.getClassName == classOf[Kernel].getName)
    assert(entries.size > 90, entries.size)
    val problems = entries.flatMap { case (id, _, build) =>
      probes(build) match {
        case Seq() => Seq(s"${id.funcName}: no probe argument list builds")
        case built => built.flatMap { case (args, k) =>
          scala.util.Try(check(id.funcName, args, k)).failed.toOption
            .map(e => s"${id.funcName}/${args.length}: ${messages(e).take(300)}")
        }
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("every WktCore kernel answers the EMPTY corpus alike interpreted and generated, " +
      "failing only with IllegalArgumentException") {
    // the six EMPTY spellings and one non-empty value of each kind
    val corpus = Seq("POLYGON EMPTY", "MULTIPOLYGON EMPTY", "LINESTRING EMPTY",
      "MULTILINESTRING EMPTY", "MULTIPOINT EMPTY", "GEOMETRYCOLLECTION EMPTY",
      "POINT (1 2)", "MULTIPOINT ((0 0), (3 1))", "LINESTRING (0 0, 2 0, 2 2)",
      "MULTILINESTRING ((0 0, 1 0), (0 1, 1 1))", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((3 3, 4 3, 4 4, 3 4, 3 3)))",
      "GEOMETRYCOLLECTION (POINT (5 5), LINESTRING (0 0, 1 1))")
      .map(UTF8String.fromString)
    val kernels = (for {
      (id, info, build) <- GraftFunctions.all
      if info.getClassName == classOf[Kernel].getName
      (args, k) <- probes(build)
      if k.invoke.staticObject == WktCore.getClass && args.head.dataType != DateType
    } yield (s"${id.funcName}/${args.length}", k)).toMap
    assert(kernels.size >= 55, kernels.keys)
    def root(e: Throwable): Throwable = e match {
      case w: java.lang.reflect.InvocationTargetException if w.getCause != null =>
        root(w.getCause)
      case other => other
    }
    val problems = kernels.toSeq.sortBy(_._1).flatMap { case (name, k) =>
      // a geometry argument takes every corpus value (in the encoding the
      // kernel reads); a number is 0.5, a position 1
      val values: Seq[Seq[Any]] = k.inputTypes.map {
        case StringType => k.invoke.functionName match {
          case "fromGeoJson" => corpus.map(WktCore.toGeoJson)
          case "sphericalToGeometry" => corpus.map(g => UTF8String.fromString(s"GEOGRAPHY $g"))
          case _ => corpus
        }
        case BinaryType => corpus.map(WktCore.toWkb)
        case DoubleType => Seq(0.5)
        case IntegerType => Seq(1)
        case t => fail(s"$name: no corpus for $t")
      }
      val rows = values.foldLeft(Seq(Seq.empty[Any]))((acc, vs) =>
        for (a <- acc; v <- vs) yield a :+ v).map(InternalRow.fromSeq)
      val bound = k.withNewChildren(k.inputTypes.zipWithIndex.map { case (t, i) =>
        BoundReference(i, t, nullable = true) })
      def run(mode: String): Seq[Either[Throwable, String]] =
        GraftSession.withConf(spark, "spark.sql.codegen.factoryMode" -> mode) {
          val p = UnsafeProjection.create(Seq(bound))
          assert(p.isInstanceOf[InterpretedUnsafeProjection] == (mode == "NO_CODEGEN"))
          rows.map(r => try {
            Right(CatalystTypeConverters.convertToScala(p(r).get(0, k.dataType),
              k.dataType) match {
              case b: Array[Byte] => b.mkString(",")
              case v => String.valueOf(v)
            })
          } catch { case e: Throwable => Left(root(e)) })
        }
      def show(o: Either[Throwable, String]): String =
        o.fold(e => s"${e.getClass.getName}: ${e.getMessage}", identity)
      val codegen = run("CODEGEN_ONLY")
      val interpreted = run("NO_CODEGEN")
      rows.indices.flatMap { i =>
        val input = rows(i).toSeq(k.inputTypes).mkString(", ")
        if (show(codegen(i)) != show(interpreted(i)))
          Some(s"$name($input): ${show(codegen(i))} vs ${show(interpreted(i))}")
        else codegen(i).left.toOption.filterNot(_.isInstanceOf[IllegalArgumentException])
          .map(e => s"$name($input): ${show(Left(e))}")
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("a wrong argument count or a non-literal constant fails, naming the function") {
    val df = spark.range(1).selectExpr("'POLYGON ((0 0, 1 0, 1 1, 0 0))' AS g",
      "'a b c' AS t", "CAST(id AS INT) + 3 AS n")
    def err(sql: String): String = messages(intercept[Exception](df.selectExpr(sql).collect()))
    assert(err("word_tokens(t, t)").contains("word_tokens expects 1 argument; got 2"))
    assert(err("st_area(g, g)").contains("st_area expects 1 argument; got 2"))
    assert(err("minhash_text_sig(t, n)")
      .contains("minhash_text_sig: argument 2 must be a literal"))
    // the hand-written builders check the same way
    assert(err("cosine_sim(array(1.0f))").contains("cosine_sim expects 2 arguments; got 1"))
    assert(err("cosine_similarity(array(1.0f))")
      .contains("cosine_similarity expects 2 arguments; got 1"))
    assert(err("dot_product(array(1.0f))").contains("dot_product expects 2 arguments; got 1"))
    assert(err("try_eval(1, 2)").contains("try_eval expects 1 argument; got 2"))
    for (bpe <- Seq("bpe_count", "bpe_segment", "bpe_count_bytes", "bpe_segment_bytes")) {
      assert(err(s"$bpe(t)").contains(s"$bpe expects 2 arguments; got 1"))
      assert(err(s"$bpe(t, t)").contains(s"$bpe: argument 2 must be a literal"))
    }
    assert(err("multi_count(t)").contains("multi_count expects at least 2 arguments; got 1"))
    assert(err("multi_count(t, 'a', t)").contains("multi_count: argument 3 must be a literal"))
  }

  test("kernels keep their SQL names in plans and auto-named columns") {
    val df = spark.range(1).selectExpr("'a b c' AS t")
      .selectExpr("kgram_hashes(word_tokens(t), 2)", "st_x('POINT (1 2)')")
    // constants print in plans, not in column names (as before the Kernel)
    assert(df.columns.toSeq == Seq("kgram_hashes(word_tokens(t))",
      "st_x(POINT (1 2))"), df.columns.toSeq)
    // the Column form builds the same kernel without the session registry
    val viaColumns = spark.range(1).selectExpr("'a b c' AS t").select(
      TextFunctions.kgramHashes(TextFunctions.wordTokens(col("t")), 2))
    assert(viaColumns.columns.toSeq == Seq("kgram_hashes(word_tokens(t))"))
    assert(viaColumns.collect().toSeq == df.select(df.columns(0)).collect().toSeq)
    val plan = spark.range(1).selectExpr("CAST(id AS STRING) AS t")
      .selectExpr("kgram_hashes(word_tokens(t), 2) AS h")
      .queryExecution.executedPlan.toString
    assert(plan.contains("kgram_hashes(word_tokens(") && plan.contains(", 2) AS h#"),
      plan)
  }
}
