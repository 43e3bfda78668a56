package graftbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.nio.file.{Files, Paths}

/** Benchmark JVM. `perfbench/run.py` launches it once per set-up sample
  * (`setup`) and once per measured run (`run`), each a cold JVM.
  *
  * `setup` builds the session, registers the engine's functions, runs one
  * warm-up query, prints READY and exits. `run` does the same, then runs
  * the workload's queries in a closed loop with one client: `WarmPasses`
  * untimed passes, timed passes until `seconds` have elapsed and
  * at least `MinPasses` have run, and an untimed pass that writes every
  * result as parquet for the correctness check. With `trace=1` the
  * listeners are attached on the first pass and on every second timed pass,
  * and the kernel probe runs at the end. */
object Main {

  /** Untimed passes before the timed ones. After a cold start the JIT
    * speeds passes up for many passes: dialect_etl at 4 cores took 16.2 s
    * for the first pass, then 3.6, 3.1, 2.7, 2.6, 2.5, 2.4, 2.4, 2.2, 2.1,
    * 2.1 s. No pass count within a run's budget reaches a flat part, so the
    * count is fixed: every run times the same stage of warm-up, where a
    * pass is 3–5 % faster than the one before it rather than 15–20 %. */
  val WarmPasses = 4

  /** Timed passes per run, at least: pass_s is a median over passes, and
    * with traced runs alternating, two of them run untraced. */
  val MinPasses = 3

  def session(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Registers the engine's functions and runs the warm-up query that
    * `graft.Bench` runs before its first measured query. */
  def warmUp(spark: SparkSession, dataDir: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    graft.plans.AsOfJoin.register(spark)
    spark.read.parquet(s"$dataDir/region.parquet")
      .join(spark.read.parquet(s"$dataDir/nation.parquet"),
        col("r_regionkey") === col("n_regionkey"))
      .groupBy("r_name").count().count()
  }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val kv = args.tail.map { a =>
      val Array(k, v) = a.split("=", 2); k -> v
    }.toMap
    val cores = kv.getOrElse("cores", "4").toInt
    val dataDir = kv("data")
    val workDir = new java.io.File(".").getCanonicalPath
    val spark = session(cores, workDir)
    warmUp(spark, dataDir)
    println("READY")
    System.out.flush()
    try if (mode == "run") run(spark, kv, cores, dataDir)
    finally spark.stop()
  }

  def run(spark: SparkSession, kv: Map[String, String], cores: Int,
      dataDir: String): Unit = {
    val workload = kv("workload")
    val names = kv("queries").split(",").toSeq
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val out = kv("out")
    val all = SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val queries = names.map(n => n -> all(n)).toMap
    val tracer = if (trace) Some(new Tracer(spark)) else None

    // the returned DataFrame was analysed while the query function ran
    val onDefined: org.apache.spark.sql.DataFrame => Unit =
      df => tracer.foreach(_.recordPhases(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution))
    def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")
    def pass(p: Int, traced: Boolean): Pass = {
      if (traced) tracer.foreach(_.attach())
      val ps =
        try Runner.runPass(spark, dataDir, workload, p, seed, queries, traced,
          if (traced) onDefined else _ => ())
        finally if (traced) tracer.foreach(_.detach())
      log(ps.samples.map(s => f"${s.query} ${s.latencyS}%.3f")
        .mkString(f"pass $p${if (traced) " traced" else ""} ${ps.wallS}%.2f s: ", ", ", ""))
      ps
    }

    val warm = pass(0, trace)
    val warmPasses = warm +: (1 until WarmPasses).map(pass(_, traced = false))
    val t0 = System.nanoTime()
    val timed = Seq.newBuilder[Pass]
    var p = WarmPasses
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (p < WarmPasses + MinPasses || elapsed < seconds) {
      timed += pass(p, trace && (p - WarmPasses) % 2 == 1)
      p += 1
    }
    val passes = timed.result()
    log(f"${passes.size} timed passes ${elapsed}%.2f s")
    val v0 = System.nanoTime()

    // untimed correctness pass: every result as one parquet file, and a
    // second run of each query without an oracle row to compare row counts
    val oracle = SparkEntry.oracleSql
    val verifyErrors = names.sorted.flatMap { n =>
      val targets = Seq(s"$out/results/$n") ++
        (if (oracle.contains(n)) Nil else Seq(s"$out/repeat/$n"))
      targets.flatMap { path =>
        Runner.runOne(spark, dataDir, workload, -1, n, queries(n),
          sink = _.coalesce(1).write.mode("overwrite").parquet(path))
          .error.map(e => n -> e)
      }.headOption
    }
    log(f"correctness pass ${(System.nanoTime() - v0) / 1e9}%.2f s")
    Files.writeString(Paths.get(s"$out/results/oracle_sql.json"),
      json(names.flatMap(n => oracle.get(n).map(n -> _)).toMap))

    val untraced = passes.filterNot(_.traced)
    val samples = untraced.flatMap(_.samples)
    val latencies = samples.map(_.latencyS)
    val e2e = Map(
      "pass_s" -> Stats.median(untraced.map(_.wallS)),
      "query_p50_s" -> Stats.medianQuery(samples.map(s => s.query -> s.latencyS)),
      "peak_rss_mb" -> peakRssMb())
    // the highest percentile up to p90 with ten samples beyond it; null when
    // even the median has fewer
    val tail = Stats.tailPercentile(latencies.size).map(p =>
      Map("percentile" -> p, "value" -> Stats.percentile(latencies, p))).orNull

    val layers = tracer.map { t =>
      val tracedPasses = warm +: passes.filter(_.traced)
      def querySet(k: String) = kv.get(k).filter(_.nonEmpty).map(_.split(",").toSet)
        .getOrElse(Set.empty[String])
      val res = Layers(tracedPasses, t, cores, querySet("dialect"), querySet("pipeline"))
      Files.writeString(Paths.get(s"$out/spans.json"), json(res.spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "start_us" -> s.startUs,
          "end_us" -> s.endUs, "parent" -> s.parent, "qid" -> s"$workload/${s.qid}",
          "counts" -> s.counts)
      }))
      val overhead = Stats.median(passes.filter(_.traced).map(_.wallS)) /
        Stats.median(untraced.map(_.wallS)) - 1
      res.metrics ++ KernelProbe.run(spark, dataDir) + ("trace.overhead" -> overhead)
    }.getOrElse(Map.empty)

    // every query execution counts, warm-up passes included
    val executed = (warmPasses ++ passes).flatMap(_.samples)
    val errors = executed.flatMap(s =>
      s.error.map(e => Map("query" -> s.query, "pass" -> s.pass, "error" -> e)))
    val result = Map(
      "workload" -> workload,
      "seed" -> seed,
      "passes" -> passes.map(ps => Map("pass" -> ps.pass, "traced" -> ps.traced,
        "wall_s" -> ps.wallS, "order" -> ps.samples.map(_.query))),
      "samples" -> samples.map(s => Map("query" -> s.query, "pass" -> s.pass,
        "latency_s" -> s.latencyS, "define_s" -> s.defineS)),
      "attempted" -> executed.size,
      "failed" -> executed.count(!_.ok),
      "tail" -> tail,
      "e2e" -> e2e,
      "layers" -> layers,
      "errors" -> errors,
      "verify_errors" -> verifyErrors.map { case (n, e) => Map("query" -> n, "error" -> e) })
    Files.writeString(Paths.get(s"$out/result.json"), json(result))
  }

  /** JSON text of nested maps, sequences and numbers. A non-finite number
    * (the time of a pass in which a query failed) is written as null. */
  def json(v: Any): String = {
    def finite(x: Any): Any = x match {
      case d: Double if !d.isFinite => null
      case m: scala.collection.Map[_, _] => m.map { case (k, y) => k.toString -> finite(y) }
      case xs: Iterable[_] => xs.map(finite)
      case other => other
    }
    Serialization.write(finite(v).asInstanceOf[AnyRef])(DefaultFormats)
  }
}
