package graft

import org.apache.spark.sql.SparkSession
import graft.functions.GraftFunctions

/** The one owner of session-scoped state. Every entry point — Bench,
  * Verify, the profiling and audit tools, the test suite and
  * applications embedding the engine — builds through `builder`, so the
  * DuckDB oracle checks plans built under exactly the config Bench
  * times, and every session it builds (and every `newSession()` of one)
  * has the native functions from birth. A caller adds only its
  * deployment paths (e.g. a warehouse dir). AQE and skew-join handling
  * are Spark's defaults and stay on. A query that needs a different
  * conf scopes it with `withConf`, so it hands on the session it was
  * given.
  */
object GraftSession {

  /** Core count for a local session: `SPARK_GRAFT_CPUS`, default 4. */
  private lazy val defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** Parse `SPARK_GRAFT_EXTRA_CONF` ("k1=v1;k2=v2"), the session confs
    * for controlled A/B experiments. Blank entries are skipped; an entry
    * without `=` or with an empty key fails naming the entry. */
  private[graft] def parseExtraConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
      }
    }

  private lazy val extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(parseExtraConf).getOrElse(Nil)

  /** `local[cpus]` with as many shuffle partitions, UI off, UTC, Kryo
    * for broadcast/task payloads (r17 A/B over a 12-query mixed subset:
    * ~7–14% on the subset sum, no query slower; the SQL row path is
    * UnsafeRow either way) and a codegen class cache sized for the whole
    * suite — the default 100 entries is cycled completely by a 250+-query
    * round-robin bench, re-running janino for every rep (s18: 1.8 s
    * benched vs 0.08 s warm). `SPARK_GRAFT_EXTRA_CONF` is applied last.
    * The native functions are injected as session extensions. */
  def builder(cpus: Int = defaultCpus): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName("graft")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer",
        "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .withExtensions(e => GraftFunctions.all.foreach(e.injectFunction))
    extraConf.foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** Run `f` with the given confs set, then put each key back to its
    * previous explicit value, or unset it if it had none — a Spark
    * default is never written back as an explicit setting. Only EAGER
    * work inside `f` sees the scope: a frame returned lazily plans later,
    * under the restored conf. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(f: => T): T = {
    val explicit = spark.conf.getAll
    val prev = kvs.map { case (k, _) => k -> explicit.get(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      f
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
